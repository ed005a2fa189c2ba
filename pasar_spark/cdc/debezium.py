"""Debezium change-event interop: JSON envelopes in, JSON envelopes out.

Every mainstream binlog/WAL connector (Postgres pgoutput, MySQL binlog,
MongoDB oplog — via Kafka Connect) speaks the Debezium envelope:

    {"payload": {"before": {...}|null, "after": {...}|null,
                 "op": "c"|"r"|"u"|"d"|"t",
                 "ts_ms": ..., "source": {"lsn": ..., "ts_ms": ...,
                                          "ts_us": ...}}}

(or the bare payload when ``schemas.enable=false``). This module maps
that format onto the engine's flat change envelope
(:data:`pasar_spark.datagen.EVENT_COLUMNS`) and back, entirely in
Catalyst (`from_json` / `to_json` — no Python in the row path), so the
replay/streaming machinery tails a real connector's output unchanged:

- :func:`from_debezium` — DataFrame of JSON strings → engine envelope.
- :class:`DebeziumJsonSource` — a :class:`FeedSource` over a JSON-lines
  WAL directory (the shape a Kafka-Connect file/S3 sink produces), so
  ``ReplayRunner.replay(DebeziumJsonSource(...))`` just works.
- :func:`to_debezium` — engine envelope → Debezium JSON (fixture
  generation; also the WAL-export shape).
- :func:`changes_as_debezium` — the table's change-data-feed re-emitted
  as Debezium events with before/after images: the engine is a Debezium
  *producer* too, so downstream consumers that already speak the format
  can tail this table like any other database.

Field mapping (faithful to Debezium 2.x semantics):

- ``op``: c (create) and r (snapshot read) → I; u → U; d → D. Truncate
  (t) and message (m) events carry no row and are dropped.
- row image: ``after`` for c/r/u; key + last-known columns ride
  ``before`` for d (deletes carry no after image).
- ``lsn``: ``source.lsn`` — the real Postgres WAL byte offset, which is
  SPARSE; the replay loop's gap probe (sources.py next_lsn) exists for
  exactly this.
- event time: ``after.ts`` is ``io.debezium.time.MicroTimestamp`` (epoch
  micros, the connector default for TIMESTAMP columns); deletes use
  ``source.ts_us`` (micros, Debezium >= 2.4) falling back to
  ``source.ts_ms``. A c/r/u whose row image lacks ``ts`` takes the same
  source-timestamp fallback, so connectors that emit only source
  timestamps still order correctly under LWW.

Reference parity: the reference ingests via a Postgres cursor over a
staging schema (SURVEY.md S3; etl/pypasar/omop/observation.py:55-65) —
this is the same capability pointed at the LOGICAL-replication stream a
production pasar deployment would actually tail.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pasar_spark.cdc.sources import DataFrameSource

# The transcript row image as Debezium renders it: temporal columns as
# epoch micros (MicroTimestamp), everything else as-is.
_ROW_IMAGE = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.LongType()),  # epoch micros
        T.StructField("schema_ver", T.IntegerType()),
        T.StructField("extra", T.StringType()),
    ]
)

_SOURCE = T.StructType(
    [
        T.StructField("lsn", T.LongType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        # relation identity — the multi-table routing key a real
        # connector stamps on every event (absent fields parse null,
        # so single-table feeds are unaffected)
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
    ]
)

_PAYLOAD = T.StructType(
    [
        T.StructField("before", _ROW_IMAGE),
        T.StructField("after", _ROW_IMAGE),
        T.StructField("op", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("source", _SOURCE),
    ]
)

# One schema parses BOTH framings in a single from_json pass: a wrapped
# event fills `payload` (flat fields null), a bare one fills the flat
# fields (`payload` null) — JSON parsing ignores absent fields.
_ENVELOPE = T.StructType([T.StructField("payload", _PAYLOAD), *_PAYLOAD.fields])

# monotone suffix for from_debezium's observe-barrier names (must be
# unique within any single query plan). itertools.count consumes its
# increment under the GIL in one bytecode-visible step via next(), so
# two threads composing plans concurrently can never mint the same
# observation name (a bare `global n; n += 1` read-modify-write can).
_PARSE_SEQ = itertools.count(1)


def _unwrap(p):
    """Kafka-Connect framing unpacked, bare payload passed through —
    the ONE definition of the envelope unwrap, shared by from_debezium
    and debezium_rejects so their accept/reject split cannot
    desynchronize."""
    return F.when(p["payload"].isNotNull(), p["payload"]).otherwise(
        F.struct(
            p["before"].alias("before"),
            p["after"].alias("after"),
            p["op"].alias("op"),
            p["ts_ms"].alias("ts_ms"),
            p["source"].alias("source"),
        )
    )


def _event(value_col: str):
    """Parsed event struct from a raw JSON column."""
    return _unwrap(F.from_json(F.col(value_col), _ENVELOPE))


def _accepted(ev):
    """True iff the parsed event is an orderable row change: a c/r/u/d op
    with a source LSN. Null-safe (unparseable lines parse to all-null)."""
    return F.coalesce(
        ev["op"].isin("c", "r", "u", "d") & ev["source"]["lsn"].isNotNull(),
        F.lit(False),
    )


def debezium_rejects(df: DataFrame, value_col: str = "value") -> DataFrame:
    """The complement of :func:`from_debezium`: raw lines that are NOT
    orderable row-change events (truncates, transaction markers, schema
    fragments, corrupt JSON) — the dead-letter-queue feed. Together the
    two functions partition the input exactly; a production tail writes
    this side to quarantine instead of dropping it silently
    (streaming/stream.py dlq_path)."""
    return df.where(~_accepted(_event(value_col)))


def from_debezium(
    df: DataFrame, value_col: str = "value", include_table: bool = False
) -> DataFrame:
    """Parse Debezium JSON events into the engine change envelope.

    ``include_table=True`` appends a ``_table`` column carrying
    ``source.table`` — the routing key for a multi-table connector feed
    (one Postgres publication interleaves every captured relation in a
    single LSN stream; ``MultiTableStreamingIngest(route_by="_table")``
    or the batch router demux it). Null for events whose source block
    omits the field.

    Accepts both the Kafka-Connect wrapped form ({"schema":…,
    "payload":…}) and the bare payload, per-row, in one Catalyst
    `from_json` pass. Rows that are not row-change events (truncates,
    transaction markers, unparseable lines) are dropped — route them to
    a quarantine with :func:`debezium_rejects`.

    The parse sits behind an ``observe`` barrier so the JSON is parsed
    ONCE per row: a bare projection boundary is re-merged by Catalyst's
    CollapseProject, which inlines the from_json expression into every
    output column, and codegen subexpression elimination does not rescue
    it because most references sit in conditional (CASE) branches —
    measured ~5× slower at 100k rows × 10 columns. The CollectMetrics
    node is a collapse barrier Catalyst keeps, and the metric itself
    (lines parsed per pass) is genuinely useful.
    """
    unwrapped = df.select(
        F.from_json(F.col(value_col), _ENVELOPE).alias("_p")
    ).observe(
        # observation names must be unique within a query plan; a query
        # may parse two independent debezium feeds (e.g. source + CDF)
        f"dbz_parse_{next(_PARSE_SEQ)}",
        F.count(F.lit(1)).alias("lines"),
    ).select(_unwrap(F.col("_p")).alias("_e"))
    ev = F.col("_e")
    img = F.coalesce(ev["after"], ev["before"])  # d carries only before
    is_del = ev["op"] == "d"
    # source-block timestamps: the only event time a delete carries, and
    # the FALLBACK for c/r/u whose row image lacks ts (a connector that
    # emits only source timestamps, or a table without an event-time
    # column) — otherwise such an event lands with null ts and loses
    # every (ts, lsn) LWW comparison, silently shadowed by older events.
    src_ts = F.coalesce(
        F.timestamp_micros(ev["source"]["ts_us"]),
        F.timestamp_millis(F.coalesce(ev["source"]["ts_ms"], ev["ts_ms"])),
    )
    ts = F.when(is_del, src_ts).otherwise(
        F.coalesce(F.timestamp_micros(ev["after"]["ts"]), src_ts)
    )
    table_cols = (
        [ev["source"]["table"].alias("_table")] if include_table else []
    )
    return (
        unwrapped.select(
            *table_cols,
            ev["source"]["lsn"].alias("lsn"),
            F.when(is_del, F.lit("D"))
            .when(ev["op"].isin("c", "r"), F.lit("I"))
            .when(ev["op"] == "u", F.lit("U"))
            .alias("op"),
            img["conv_id"].alias("conv_id"),
            img["turn_idx"].alias("turn_idx"),
            # deletes carry no live payload in the engine envelope even
            # though Debezium's before-image has the old values
            F.when(is_del, F.lit(None).cast("string"))
            .otherwise(img["role"])
            .alias("role"),
            F.when(is_del, F.lit(None).cast("string"))
            .otherwise(img["text"])
            .alias("text"),
            F.when(is_del, F.lit(None).cast("string"))
            .otherwise(img["tool"])
            .alias("tool"),
            ts.alias("ts"),
            img["schema_ver"].alias("schema_ver"),
            F.when(is_del, F.lit(None).cast("string"))
            .otherwise(img["extra"])
            .alias("extra"),
        )
        # op null ⇔ not a row-change event (t/m/unparseable) — drop;
        # lsn null ⇔ no source block — nothing to order by, drop.
        # (On the OUTPUT columns this is exactly `_accepted`: the mapped
        # op is null iff the raw op is outside c/r/u/d.)
        .where(F.col("op").isNotNull() & F.col("lsn").isNotNull())
    )


def to_debezium(
    events: DataFrame, wrapped: bool = False, table_col: str | None = None
) -> DataFrame:
    """Engine change envelope → Debezium JSON strings (column ``value``).

    The exact inverse of :func:`from_debezium` for row-change events:
    c for I, u for U, d for D (key + schema_ver in ``before``, after
    null, event time in ``source.ts_us``). ``wrapped=True`` adds the
    Kafka-Connect {"payload": …} framing. ``table_col`` names a column
    to stamp as ``source.table`` — the multi-table relation identity a
    real connector emits (round-trips through
    ``from_debezium(include_table=True)``).
    """
    img = F.struct(
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("role"),
        F.col("text"),
        F.col("tool"),
        F.unix_micros(F.col("ts")).alias("ts"),
        F.col("schema_ver"),
        F.col("extra"),
    )
    # delete before-image: key columns + schema_ver (the old payload is
    # not in the engine envelope; a real connector would include it)
    before_del = F.struct(
        F.col("conv_id"),
        F.col("turn_idx"),
        F.lit(None).cast("string").alias("role"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("long").alias("ts"),
        F.col("schema_ver"),
        F.lit(None).cast("string").alias("extra"),
    )
    is_del = F.col("op") == "D"
    payload = F.struct(
        F.when(is_del, before_del).alias("before"),
        F.when(~is_del, img).alias("after"),
        F.when(is_del, F.lit("d"))
        .when(F.col("op") == "I", F.lit("c"))
        .otherwise(F.lit("u"))
        .alias("op"),
        (F.unix_micros(F.col("ts")) / 1000).cast("long").alias("ts_ms"),
        F.struct(
            F.col("lsn").alias("lsn"),
            (F.unix_micros(F.col("ts")) / 1000).cast("long").alias("ts_ms"),
            F.unix_micros(F.col("ts")).alias("ts_us"),
            *([F.col(table_col).alias("table")] if table_col else []),
        ).alias("source"),
    )
    out = F.struct(payload.alias("payload")) if wrapped else payload
    return events.select(F.to_json(out).alias("value"))


class DebeziumJsonSource(DataFrameSource):
    """A JSON-lines WAL directory of Debezium events as a FeedSource.

    The on-disk shape a Kafka-Connect file/S3 sink (or a `kcat` dump)
    produces. Parsing happens in the scan tasks (`from_json` over the
    text splits — distributed, not driver-side); tip/gap probes are
    min/max aggregates over the parsed ``lsn``, the same plan shape
    DataFrameSource uses. JSON text carries no footer stats, so chunk
    predicates prune at the row level, not the file level. Three tiers
    by WAL size: this source bare (zero setup, re-parses per chunk),
    ``cache=True`` (parse once into executor memory, spilling to disk),
    or :meth:`to_parquet` (one conversion pass, then footer-stat file
    pruning — the 100 TB path). A Kafka deployment tails the topic
    directly (``readStream.format("kafka")`` → the same
    :func:`from_debezium`).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        value_col: str = "value",
        cache: bool = False,
    ):
        self.spark = spark
        self.path = path
        self._raw = spark.read.text(path).withColumnRenamed("value", "_raw")
        parsed = from_debezium(self._raw, "_raw")
        # cache=True persists the PARSED envelope (memory, spilling to
        # disk) so a multi-chunk replay parses the JSON once instead of
        # once per chunk/tip probe — the middle ground between the
        # zero-setup text tail and a to_parquet conversion. Caller owns
        # the lifecycle: unpersist() when the replay is done.
        self._cached = cache
        if cache:
            parsed = parsed.persist()
        super().__init__(parsed)  # tip/chunk/next_lsn over the parsed envelope

    def unpersist(self) -> None:
        """Release the cached parse (no-op when cache=False)."""
        if self._cached:
            self.df.unpersist()

    def rejects(self) -> DataFrame:
        """Raw lines in the WAL that are not row-change events — the
        batch twin of the streaming dead-letter queue (callers quarantine
        or count these; the replay itself never sees them)."""
        return debezium_rejects(self._raw, "_raw").withColumnRenamed(
            "_raw", "value"
        )

    def to_parquet(self, path: str, n_files: int = 32):
        """One-pass conversion to a range-partitioned parquet WAL,
        returning the :class:`ParquetDirSource` over it — the scale path
        this docstring promises. JSON text has no footer stats, so every
        chunk/tip probe on THIS source re-parses the whole WAL
        (O(chunks × WAL)); converting pays one full parse and buys
        footer-stat file pruning for the rest of the replay. Files are
        range-sorted by lsn (repartitionByRange) so each chunk overlaps
        few files — the layout the pruner expects."""
        from pasar_spark.cdc.sources import ParquetDirSource

        self.df.repartitionByRange(n_files, "lsn").write.parquet(path)
        return ParquetDirSource(self.spark, path)


def changes_as_debezium(
    table, from_version: int, to_version: int | None = None
) -> DataFrame:
    """Re-emit a snapshot range's change-data-feed as Debezium JSON.

    Makes the lake table a Debezium *producer*: each CDF row becomes a
    c/u/d event with real before/after images (``pre_images=True`` gives
    the before payload; Debezium's REPLICA IDENTITY FULL analogue), so
    downstream systems that already consume connector streams can tail
    this table with no new format. ``source.lsn`` carries the row's LWW
    ``lsn``; ``source.ts_us`` its event time — replaying the emitted
    stream through :func:`from_debezium` + LWW lands the same winners.

    Row-mode tables only: on a patch table a per-column winner can
    change state WITHOUT advancing the row's max (ts, lsn) — the exact
    scenario patch mode exists for — so an LWW consumer of the
    re-emitted feed would skip that event as a stale tie and silently
    diverge. Refused up front, same policy as merge.py
    ``_require_row_mode``.
    """
    if table.manifest.get("conflict") == "patch":
        raise ValueError(
            f"changes_as_debezium: table {table.path!r} has "
            "conflict='patch'; a per-column winner can change state "
            "without advancing the row's (ts, lsn), so an LWW consumer "
            "of the re-emitted feed would silently diverge — consume "
            "the patch CDF (table.changes) directly instead; see "
            "README.md 'Connector tail (the table as a Debezium "
            "producer)'"
        )
    ch = table.changes(from_version, to_version, pre_images=True)
    key = list(table.manifest["key"])
    payload = table.payload
    # Evolution-promoted columns are NOT in the fixed wire row image —
    # they ride the ``extra`` JSON (exactly how they arrived pre-
    # promotion), with the emitted schema_ver telling a consumer running
    # the same EvolutionPlan to re-promote them. Rendering them as
    # top-level after-image fields instead would make from_json silently
    # drop them at every consumer.
    wire_names = {f.name for f in _ROW_IMAGE.fields}
    evolved = [c for c in payload if c not in wire_names]
    envelope_payload = [c for c in payload if c in wire_names and c != "extra"]
    has_extra = "extra" in payload
    is_del = F.col("_change_type") == "delete"
    is_ins = F.col("_change_type") == "insert"

    def image(prefix: str):
        # key columns are shared (unprefixed) in the CDF; order+payload
        # columns carry the prefix on the pre-image side. `ts` is
        # rendered as epoch micros, Debezium MicroTimestamp style.
        def src(name: str):
            return F.col(name if name in key else prefix + name)

        cols = [src(k).alias(k) for k in key]
        cols += [F.unix_micros(src("ts")).alias("ts")]
        cols += [src(c).alias(c) for c in envelope_payload]
        if evolved:
            # merge evolved column values over the stored extra keys
            # (evolved wins — post-promotion updates write the column,
            # not the JSON); keys made disjoint before map_concat so the
            # default EXCEPTION dedup policy cannot trip
            ev_map = F.map_from_arrays(
                F.array(*[F.lit(n) for n in evolved]),
                F.array(*[src(n).cast("string") for n in evolved]),
            )
            stored = (
                F.coalesce(
                    F.from_json(src("extra"), "map<string,string>"),
                    F.map_from_arrays(F.array(), F.array()),
                )
                if has_extra
                else F.map_from_arrays(F.array(), F.array())
            )
            kept = F.map_filter(
                stored, lambda k, _v: ~k.isin(*[F.lit(n) for n in evolved])
            )
            cols += [F.to_json(F.map_concat(kept, ev_map)).alias("extra")]
        elif has_extra:
            cols += [src("extra").alias("extra")]
        cols += [F.lit(table.schema.schema_id).alias("schema_ver")]
        return F.struct(*cols)

    # The change's position. A delete whose tombstone was vacuumed
    # inside the version range carries null own (ts, lsn) in the CDF;
    # re-emitting it at the PRE-image's position would tie with the row
    # it kills and lose the consumer's strict-greater LWW comparison.
    # Synthesize (prev_ts, to-version ledger last_lsn): per-key it is
    # strictly after the victim (the original tombstone's lsn was
    # > prev_lsn, and last_lsn >= that tombstone's lsn), and feed-wide
    # it is >= every position an earlier CDF hop emitted, so a
    # CHECKPOINTED consumer (whose replay window opens past its applied
    # last_lsn) still sees the delete — prev_lsn + 1 would land below
    # the checkpoint and be silently skipped.
    to_tbl = (
        table
        if to_version is None
        else type(table).load(table.spark, table.path, version=to_version)
    )
    synth_lsn = F.greatest(
        F.col("_prev_lsn") + 1, F.lit(int(to_tbl.manifest["ledger"]["last_lsn"]))
    )
    pos_ts = F.coalesce(F.col("ts"), F.col("_prev_ts"))
    pos_lsn = F.coalesce(F.col("lsn"), synth_lsn)
    payload = F.struct(
        F.when(~is_ins, image("_prev_")).alias("before"),
        F.when(~is_del, image("")).alias("after"),
        F.when(is_del, F.lit("d"))
        .when(is_ins, F.lit("c"))
        .otherwise(F.lit("u"))
        .alias("op"),
        (F.unix_micros(pos_ts) / 1000).cast("long").alias("ts_ms"),
        F.struct(
            pos_lsn.alias("lsn"),
            (F.unix_micros(pos_ts) / 1000).cast("long").alias("ts_ms"),
            F.unix_micros(pos_ts).alias("ts_us"),
        ).alias("source"),
    )
    return ch.select(F.to_json(payload).alias("value"))
