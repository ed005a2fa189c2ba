"""Patch-mode tables: per-column LWW as a TABLE conflict rule.

Row-mode tables (the default) resolve whole rows — correct when every
change event carries a full row image. Feeds without full images
(Debezium with ``REPLICA IDENTITY`` short of FULL, sparse UPDATEs,
multi-producer column enrichment) need the patch rule: each column
independently resolves to its most recent non-null value, and a DELETE
resets every column so pre-delete values cannot resurrect.

The storage problem: a materialized row loses the per-column ORDER that
decided each value, and without it a later fold cannot re-resolve
correctly (an incoming old-but-never-superseded column set must win
against a newer row whose column came from an even older event). So
patch tables store, per payload column ``c``, a winner STRUCT
``_pv_<c>: struct<ts, lsn, v>`` — value plus the order that set it.
That makes the stored form CLOSED under resolution:

    resolve(resolve(E1) ∪ E2) == resolve(E1 ∪ E2)

because every per-column winner is a plain ``max`` over structs —
associative and commutative — exactly the property merge-on-read
folding, compaction, and the changes() diff already rely on in row
mode. Deletes ride the same max: a delete contributes ``(order, NULL)``
to every column and a tombstone to the row term.

Scale shape: identical to row mode — one aggregate with map-side
combine per stage, bucket-pruned commits, O(chunk) MoR writes. Cost is
one extra struct per payload column in storage and shuffle (the price
of column-level conflict resolution; Delta/Iceberg offer nothing
equivalent natively).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pasar_spark.cdc.merge import _obs_get, compact_buckets
from pasar_spark.cdc.runner import replay_windows
from pasar_spark.cdc.sources import as_source
from pasar_spark.lake.table import LakeTable

KEY = ["conv_id", "turn_idx"]
ORDER = ["ts", "lsn"]


def stored_columns(
    key: list[tuple[str, str]], payload: list[tuple[str, str]]
) -> list[tuple[str, str]]:
    """Physical schema of a patch table: key + row-version order cols +
    one winner struct per payload column + the row tombstone."""
    return [
        *key,
        ("ts", "timestamp"),
        ("lsn", "bigint"),
        *[
            (f"_pv_{n}", f"struct<ts:timestamp,lsn:bigint,v:{t}>")
            for n, t in payload
        ],
        ("_tombstone", "boolean"),
    ]


def reduce_events(
    events: DataFrame,
    key: list[str],
    payload: list[str],
    op_col: str = "op",
) -> DataFrame:
    """Raw change events -> stored form (one row per key): each event
    projected to a one-event stored row, then :func:`resolve_stored`.

    Per column: the candidate is ``(ts, lsn, value)`` — non-null sets
    carry their value, deletes carry NULL, other events none. Row term:
    the event's (ts, lsn) and ``op = 'D'`` as its tombstone.
    """
    is_del = F.col(op_col) == "D"
    stored = events.select(
        *key,
        *ORDER,
        *[
            F.when(
                F.col(c).isNotNull() | is_del,
                F.struct(
                    *ORDER, F.when(is_del, F.lit(None)).otherwise(F.col(c)).alias("v")
                ),
            ).alias(f"_pv_{c}")
            for c in payload
        ],
        is_del.alias("_tombstone"),
    )
    return resolve_stored(stored, key, payload)


def resolve_stored(df: DataFrame, key: list[str], payload: list[str]) -> DataFrame:
    """Fold N stored rows per key into one — the associative reduce used
    by MoR reads, compaction, the changes() diff and the event reduce."""
    aggs = [
        F.max(F.struct(*ORDER, F.col("_tombstone").alias("_t"))).alias("_row")
    ]
    for c in payload:
        aggs.append(F.max(F.col(f"_pv_{c}")).alias(f"_pv_{c}"))
    g = df.groupBy(*key).agg(*aggs)
    return g.select(
        *key,
        *[F.col(f"_row.{o}").alias(o) for o in ORDER],
        *[F.col(f"_pv_{c}") for c in payload],
        F.col("_row._t").alias("_tombstone"),
    )


def materialize(df: DataFrame, payload: list[str]) -> DataFrame:
    """Stored form -> user view: live rows, winner values as plain
    columns, provenance structs dropped."""
    live = df.where((F.col("_tombstone").isNull()) | (~F.col("_tombstone")))
    keep = [c for c in df.columns if not c.startswith("_pv_") and c != "_tombstone"]
    return live.select(*keep, *[F.col(f"_pv_{c}.v").alias(c) for c in payload])


def merge_patch_chunk(
    table: LakeTable,
    events: DataFrame,
    batch_id: str,
    last_lsn: int | None = None,
) -> LakeTable:
    """Apply one chunk of PARTIAL change events to a patch table:
    reduce to stored form, bucket, write, commit with the ledger —
    idempotent under batch-id redelivery."""
    if table.has_batch(batch_id):
        return table
    key = table.manifest["key"]
    stored = reduce_events(events, key, table.payload).withColumn(
        "_bucket", table.bucket_expr()
    )
    files = table.write_files(stored, table.new_commit_id())
    return table.commit_append(files, batch_id, last_lsn=last_lsn)


class PatchReplayRunner:
    """Chunked, checkpointed replay of a PARTIAL-update change feed into
    a patch-mode table. Runs the same LSN-window loop as
    :class:`ReplayRunner` (cdc/runner.py replay_windows: feed-source
    seam, gap probes, deterministic batch ids, ledger exactly-once) with
    the patch reduce in place of whole-row LWW, then MoR compaction."""

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        payload: list[tuple[str, str]] | None = None,
        key: list[tuple[str, str]] | None = None,
        n_buckets: int = 16,
        chunk_size: int = 1_000_000,
        compact_min_files: int = 8,
    ):
        self.spark = spark
        self.table_path = table_path
        self.payload = payload or [("role", "string"), ("text", "string"), ("tool", "string")]
        self.key = key or [("conv_id", "string"), ("turn_idx", "int")]
        self.n_buckets = n_buckets
        self.chunk_size = chunk_size
        self.compact_min_files = compact_min_files

    # ------------------------------------------------------------------
    def bootstrap(self) -> LakeTable:
        if LakeTable.exists(self.table_path):
            t = LakeTable.load(self.spark, self.table_path)
            if t.manifest.get("conflict") != "patch":
                raise ValueError(
                    f"table {self.table_path!r} is a row-mode table — "
                    "patch replay would write winner structs into a "
                    "whole-row-LWW layout; use cdc.runner.ReplayRunner"
                )
            return t
        # the conflict rule is in the FIRST manifest, so every reader
        # dispatches on it and row-mode tools refuse politely — and no
        # crash can leave a row-mode table behind at this path
        return LakeTable.create(
            self.spark,
            self.table_path,
            columns=stored_columns(self.key, self.payload),
            key=[k for k, _ in self.key],
            n_buckets=self.n_buckets,
            bucket_by=self.key[0][0],
            name="transcripts-patch",
            conflict="patch",
        )

    def read(self, table: LakeTable | None = None) -> DataFrame:
        """Resolved, materialized user view of the patch table
        (``table.read`` already resolves it per column)."""
        table = table or LakeTable.load(self.spark, self.table_path)
        return materialize(table.read(include_tombstones=True), table.payload)

    # ------------------------------------------------------------------
    def replay(self, events, max_events: int | None = None) -> LakeTable:
        tables = {self.table_path: self.bootstrap()}
        replay_windows(
            as_source(self.spark, events), tables, self.chunk_size,
            self._apply_window, prefix="patch-", max_events=max_events,
        )
        return tables[self.table_path]

    def _apply_window(self, tables, chunk, batch_id, chunk_hi) -> int:
        """One LSN window; returns its observed event count, so an empty
        window probes the gap. compact_buckets folds patch tables with
        :func:`resolve_stored`."""
        (path, table), = tables.items()
        obs = Observation(f"patch-src-{batch_id}")
        chunk = chunk.observe(obs, F.count(F.lit(1)).alias("events_seen"))
        table = merge_patch_chunk(table, chunk, batch_id, last_lsn=chunk_hi)
        tables[path], _ = compact_buckets(table, min_files=self.compact_min_files)
        return int(_obs_get(obs, {"events_seen": 0})["events_seen"] or 0)
