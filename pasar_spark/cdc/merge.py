"""Bucket-pruned LWW MERGE — the engine's upsert primitive.

Semantics (the Iceberg statement this stands in for on a real cluster):

    MERGE INTO transcripts t
    USING (LWW-reduced chunk) s
    ON  t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
    WHEN MATCHED AND (s.ts, s.lsn) > (t.ts, t.lsn) AND s.op = 'D' THEN DELETE
    WHEN MATCHED AND (s.ts, s.lsn) > (t.ts, t.lsn)                THEN UPDATE SET *
    WHEN NOT MATCHED AND s.op <> 'D'                              THEN INSERT *

Replaces the reference's truncate-then-load (etl/pypasar/omop/person.py:
24-33, measurement.py:91-95) with an incremental O(changes) append.

The merge is merge-on-read, and only that: the chunk is LWW-reduced to
one delta row per key (a delete becomes a tombstone row) and appended
as per-bucket delta files. The table's state is the LWW resolve of
stored rows ∪ deltas, which reads and compaction compute. A stale event
loses the resolve to the stored row, and a tombstone wins it like any
row, so no match/decision logic exists apart from the reduce. Because
the reduce is associative, resolving lazily equals resolving eagerly
per batch; ``compact_buckets`` folds the deltas to bound read cost, and
``compact_buckets(policy="full")`` resolves every bucket it touches.

Scale notes (100 TB / 1000 executors):
- the source side is LWW-reduced FIRST (one row per touched key), so the
  delta is bounded by distinct keys per chunk, not raw event volume;
- a commit writes O(chunk) regardless of table size; compaction rewrites
  only the buckets whose deltas piled up (manifest file-list pruning —
  the Iceberg partition pruning analogue);
- metrics ride the delta via ``DataFrame.observe`` (no extra pass over
  the data), the Spark-native version of the reference's per-table
  stats (etl/__main__.py:77-98).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from pasar_spark.cdc.lww import lww_reduce
from pasar_spark.functions.normalize import normalize_text
from pasar_spark.lake.table import LakeTable


def _require_row_mode(table: LakeTable, op: str) -> None:
    """Whole-row LWW applied to a patch table's stored form would keep
    only the newest stored row per key and silently discard older rows'
    per-column winner structs — irreversible data loss. Every row-mode
    entry point refuses patch tables up front; compaction/vacuum instead
    DISPATCH on the conflict rule (see compact_buckets)."""
    if table.manifest.get("conflict") == "patch":
        raise ValueError(
            f"{op}: table {table.path!r} has conflict='patch' (per-column "
            "LWW); use cdc.patch.merge_patch_chunk / PatchReplayRunner — "
            "whole-row LWW would discard stored column winners"
        )


def _obs_get(obs: Observation, defaults: dict) -> dict:
    """``Observation.get`` tolerating the unfilled case: a dynamic-
    partition write of ZERO rows skips the observed stage entirely, and
    converting the never-filled metrics row trips a JVM assertion
    (PythonSQLUtils.toPyRow). No rows flowed through the observe node,
    so ``defaults`` (the zero metrics) ARE the true answer."""
    try:
        return dict(obs.get)
    except Exception:
        return dict(defaults)


def reduce_changes(changes: DataFrame, key, order, payload, normalize: bool = True) -> DataFrame:
    """LWW-reduce change events to one winner per key (``op`` kept) and
    normalize the winners' text — the reduce of :func:`merge_batch` and
    of the router's combined fan-out (cdc/router.py)."""
    reduced = lww_reduce(changes, key=key, order=order, payload=payload + ["op"])
    if normalize:
        return reduced.withColumn("text", normalize_text(F.col("text")))
    return reduced


def delta_columns(key: list[str], order: list[str], payload: list[str]) -> list:
    """Reduced winners as stored MoR delta rows: a delete keeps its key
    and order, nulls its payload and sets the tombstone."""
    is_delete = F.col("op") == "D"
    return [
        *key,
        *order,
        *[F.when(is_delete, F.lit(None)).otherwise(F.col(c)).alias(c) for c in payload],
        is_delete.alias("_tombstone"),
    ]


def merge_batch(
    table: LakeTable,
    changes: DataFrame,
    batch_id: str,
    last_lsn: int | None = None,
    normalize: bool = True,  # False: stored text is already the lake's
    partition_offsets: dict | None = None,
    stage: str | None = None,  # WAP: commit as staged snapshot <stage>
) -> tuple[LakeTable, dict]:
    """Apply one chunk of change events; returns (new table, metrics delta).

    Idempotent: a batch_id already in the ledger is a no-op (exactly-once
    under replay/crash-retry).

    The chunk is LWW-reduced to delta rows, ``applied`` / ``deleted`` are
    counted over them (upserts / tombstones, per reduce), and the delta
    is appended as per-bucket delta files: O(chunk) writes regardless of
    table size. The touched buckets stay unresolved until
    :func:`compact_buckets` folds them; reads resolve them meanwhile.
    """
    _require_row_mode(table, "merge_batch")
    if table.has_batch(batch_id):
        return table, {"skipped_batches": 1}

    key, order, payload = table.manifest["key"], table.resolve_order, table.payload
    lsn_col = order[-1]  # the monotone component of the resolve order
    obs_src = Observation(f"src-{batch_id}")
    changes = changes.observe(
        obs_src, F.count(F.lit(1)).alias("events_seen"), F.max(lsn_col).alias("max_lsn")
    )

    reduced = reduce_changes(changes, key, order, payload, normalize).withColumn(
        "_bucket", table.bucket_expr()
    )
    obs = Observation(f"mor-{batch_id}")
    delta_rows = reduced.select(*delta_columns(key, order, payload), F.col("_bucket")).observe(
        obs,
        F.sum((~F.col("_tombstone")).cast("long")).alias("applied"),
        F.sum(F.col("_tombstone").cast("long")).alias("deleted"),
    )
    new_files = table.write_files(delta_rows, table.new_commit_id())
    # the observed rows have flowed through the write: read the metrics
    m = _obs_get(obs, {"applied": 0, "deleted": 0})
    src_stats = _obs_get(obs_src, {"events_seen": 0, "max_lsn": None})
    lsn = last_lsn if last_lsn is not None else src_stats["max_lsn"]
    metrics_delta = {
        "applied": int(m["applied"] or 0),
        "deleted": int(m["deleted"] or 0),
        "events_seen": int(src_stats["events_seen"] or 0),
    }
    table = table.commit_append(
        new_files,
        batch_id,
        last_lsn=None if lsn is None else int(lsn),
        metrics_delta=metrics_delta,
        partition_offsets=partition_offsets,
        staged_name=stage,
    )
    return table, metrics_delta


def _rewrite_buckets(
    table: LakeTable, rows: DataFrame, buckets: list, sort_keys: bool = False, **commit
) -> LakeTable:
    """Replace ``buckets``' files with ``rows`` (their fully resolved
    state, logical columns) in one snapshot — the tail of major
    compaction and vacuum. ``commit`` goes to ``commit_merge``."""
    new_files = table.write_files(
        rows.withColumn("_bucket", table.bucket_expr()), table.new_commit_id(), sort_keys=sort_keys
    )
    return table.commit_merge(replaced_buckets=buckets, new_files=new_files, **commit)


def compact_buckets(
    table: LakeTable,
    min_files: int = 8,
    policy: str = "tiered",  # 'tiered' (LSM-style) | 'full'
) -> tuple[LakeTable, dict]:
    """Fold MoR delta files; bounds read amplification to ``min_files``.

    policy='tiered' (the 10^10-event path): when a bucket's delta file
    count reaches ``min_files``, fold ONLY the deltas into one delta
    (minor compaction, O(deltas) write) — unless the folded deltas have
    grown to the base row count, in which case rewrite the whole bucket
    (major compaction, resolves it). Like an LSM tree,
    each row is rewritten O(log) times over the table's life instead of
    O(table/chunk) times under full-rewrite-every-K-chunks.

    policy='full': always rewrite the whole bucket (the pre-tiered
    behavior; simplest read path).

    Both policies reuse the LWW reduce, so any interleaving of minor and
    major compactions yields the same final state (associativity —
    property-tested). Tombstones are KEPT: they still guard against
    resurrection by out-of-order stragglers; vacuum_tombstones drops
    them past the out-of-order horizon."""
    if policy not in ("tiered", "full"):
        raise ValueError(f"compact_buckets: policy must be 'tiered'|'full', got {policy!r}")
    todo = [
        b
        for b in table.manifest.get("unresolved", [])
        if len(table.bucket_entries(b, kind="delta")) >= min_files
    ]
    if not todo:
        return table, {"compacted_buckets": 0, "minor_compacted_buckets": 0}

    major, minor = [], []
    for b in todo:
        if not table.bucket_entries(b, kind="delta"):
            # nothing to fold (min_files=0) — e.g. a bucket whose entries
            # all pre-date the 'kind' field (default to base); the minor
            # path would otherwise resolve None and crash
            continue
        base_rows = sum(e.get("rows", 0) for e in table.bucket_entries(b, kind="base"))
        delta_rows = sum(e.get("rows", 0) for e in table.bucket_entries(b, kind="delta"))
        if policy == "full" or delta_rows >= base_rows:
            major.append(b)
        else:
            minor.append(b)

    delta_metrics = {"compacted_buckets": len(major), "minor_compacted_buckets": len(minor)}

    if minor:
        entries = [e for b in minor for e in table.bucket_entries(b, kind="delta")]
        # the table's own conflict rule folds the deltas (patch tables'
        # stored form is closed under their per-column resolve)
        folded = table._resolve(table._read_entries(entries)).withColumn(
            "_bucket", table.bucket_expr()
        )
        commit_id = table.new_commit_id()
        new_files = table.write_files(folded, commit_id)
        table = table.commit_replace_deltas(
            new_files,
            batch_id=f"compact-minor-v{table.version}",
            metrics_delta=delta_metrics if not major else None,
            tag=f"compact-minor-v{table.version}",
        )

    if major:
        # major compaction rewrites the bucket's long-lived base anyway —
        # the one place key-clustered files are worth their sort (row-group
        # pruning for point lookups; 2.6x too slow on the ingest path)
        table = _rewrite_buckets(
            table,
            table.read(buckets=major, include_tombstones=True),
            major,
            sort_keys=True,
            batch_id=f"compact-v{table.version}",
            metrics_delta=delta_metrics,
            tag=f"compact-v{table.version}",
        )
    return table, delta_metrics


def vacuum_tombstones(
    table: LakeTable, horizon_lsn: int, min_tombstones: int = 1
) -> tuple[LakeTable, dict]:
    """Drop tombstones whose lsn < horizon (the feed's max out-of-order
    distance behind the applied LSN): past the horizon no staler event
    can arrive, so the guard row is dead weight. Rewrites only buckets
    that actually hold old tombstones.

    ``min_tombstones``: only rewrite a bucket once it holds at least
    this many reclaimable tombstones. A bucket rewrite is O(bucket)
    regardless of how little it reclaims, and deletes spread thinly
    across the key space put ONE old tombstone in every bucket — the
    default (1) then degenerates to a full-table rewrite per vacuum
    (measured: all 64 buckets, endurance_r4.json). Setting a density
    floor makes vacuum cost proportional to reclaimable garbage; the
    skipped tombstones are correctness-neutral dead weight and are
    picked up once their bucket accumulates enough.

    Patch-table safe: all reads go through ``table.read``, which
    dispatches unresolved buckets to the per-column resolve for
    conflict='patch' manifests; the rewritten rows keep their winner
    structs (pinned by tests/test_patch_table.py)."""
    all_buckets = list(table.manifest["buckets"].keys())
    flags = (
        table.read(buckets=[int(b) for b in all_buckets], include_tombstones=True)
        .where(F.col("_tombstone") & (F.col("lsn") < horizon_lsn))
        .withColumn("_bucket", table.bucket_expr())
        .groupBy("_bucket")
        .count()
        .where(F.col("count") >= min_tombstones)
        .select("_bucket")
        .collect()
    )
    candidates = [str(r["_bucket"]) for r in flags]
    if not candidates:
        return table, {"vacuumed_buckets": 0}
    data = table.read(buckets=[int(b) for b in candidates], include_tombstones=True).where(
        ~(F.col("_tombstone") & (F.col("lsn") < horizon_lsn))
    )
    delta = {"vacuumed_buckets": len(candidates)}
    table = _rewrite_buckets(
        table,
        data,
        candidates,
        batch_id=f"vacuum-v{table.version}",
        metrics_delta=delta,
        tag=f"vacuum-v{table.version}",
    )
    return table, delta
