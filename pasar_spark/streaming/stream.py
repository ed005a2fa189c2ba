"""Structured Streaming facade: continuous binlog tail -> MERGE.

The batch replay (cdc/runner.py) and this stream share the SAME per-batch
core (schema evolution -> promote -> LWW reduce -> bucket-pruned MERGE);
only the chunking authority differs:

- batch replay chunks by LSN range (deterministic batch ids);
- streaming lets the Structured Streaming file source discover newly
  appended WAL files and uses the streaming epoch id as the batch id.

Exactly-once composition: Structured Streaming's checkpoint gives
at-least-once redelivery of a failed epoch; the lake table's snapshot-
embedded ledger (batch id "stream-<epoch>") makes re-application a no-op
— together: exactly-once, the same argument as the batch path, so a
crash between our snapshot commit and the streaming checkpoint commit is
harmless.

The reference has no streaming at all (SURVEY.md §2.10) — its closest
artifact is the LIMIT/OFFSET batch loop (measurement.py:124-145); this
module is the north-rule 'binlog/WAL tail' capability.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# merge_batch / compact_buckets stay importable from this module: the
# benchmark's tracer (perfbench/spans.py) hooks them by these names
from pasar_spark.cdc.merge import compact_buckets, merge_batch  # noqa: F401
from pasar_spark.cdc.router import MultiTableReplayRunner
from pasar_spark.cdc.runner import ReplayRunner
from pasar_spark.cdc.schema_evolution import EvolutionPlan
from pasar_spark.lake.table import LakeTable


def envelope_schema() -> StructType:
    """The change-event WAL envelope (datagen.EVENT_COLUMNS / FIXTURES.md
    F2) as an explicit StructType — what a production feed registry would
    pin for the stream source. Payload columns beyond the envelope travel
    in the JSON ``extra`` field and are promoted by schema evolution, so
    this schema is STABLE across feed schema versions by construction."""
    return StructType(
        [
            StructField("lsn", LongType()),
            StructField("op", StringType()),
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts", TimestampType()),
            StructField("schema_ver", IntegerType()),
            StructField("extra", StringType()),
        ]
    )


class WalTail:
    """The Structured Streaming tail of the row and multi-table ingests:
    it owns the readStream, the per-epoch Debezium decode with its DLQ,
    both triggers and the followers. A subclass supplies ``runner``
    (whose ``bootstrap()`` creates the targets), the target ``paths``
    ``{name: table path}`` and the per-epoch ``_apply(tables, batch_df,
    batch_id)``, which commits epoch ``e`` as batch ``stream-<e>``."""

    #: a multi-table tail decodes Debezium's ``source.table`` as ``_table``
    #: (the canonical routing key) and returns every head from a drain
    multi_table = False

    def __init__(
        self,
        runner,
        paths: dict[str, str],
        wal_path: str,
        checkpoint_path: str,
        max_files_per_trigger: int | None = None,
        schema: StructType | None = None,
        wire_format: str = "parquet",
        dlq_path: str | None = None,
        followers: list | None = None,
    ):
        # WAL encoding: "parquet" (native envelope files) or
        # "debezium-json" (JSON-lines connector events — the shape a
        # Kafka-Connect file/S3 sink ships; cdc/debezium.py decodes them
        # inside each epoch, so the merge core is format-blind).
        if wire_format not in ("parquet", "debezium-json"):
            raise ValueError(f"unknown wire_format {wire_format!r}")
        self.runner = runner
        self.spark = runner.spark
        self._paths = paths
        self.wal_path = wal_path
        self.checkpoint_path = checkpoint_path
        self.max_files_per_trigger = max_files_per_trigger
        # pinned WAL envelope schema (the production path: a stream must
        # be startable BEFORE the first file ships, and must not re-infer
        # its envelope from whatever happens to be in the directory).
        # None infers it from the dir's contents (ad-hoc use), or takes
        # envelope_schema() while no parquet file has shipped yet.
        self.schema = schema
        self.wire_format = wire_format
        # quarantine for non-row-change lines on the debezium-json path
        # (truncates, tx markers, corrupt JSON): written per epoch under
        # dlq/epoch=<id>/ with overwrite, so a redelivered epoch rewrites
        # rather than duplicates its rejects — same idempotence argument
        # as the ledger. None drops rejects silently.
        self.dlq_path = dlq_path
        # downstream incremental consumers (anything with a .refresh()
        # that folds the table's CDF, e.g. cdc.derived.DerivedConvStats):
        # refreshed inside every epoch AFTER the source commit, so a
        # derived dashboard table tracks the live tail with at most one
        # epoch of lag. Exactly-once composes: a follower's refresh is
        # idempotent via its own source-version-keyed batch id, and it
        # folds ALL unconsumed source versions (not just this epoch's),
        # so a crash anywhere between the source commit and the last
        # follower's commit heals on the next delivery.
        self.followers = list(followers) if followers else []

    def bootstrap(self):
        return self.runner.bootstrap()

    def heads(self) -> dict[str, LakeTable]:
        """Every target at its current version, keyed as ``paths``."""
        return {n: LakeTable.load(self.spark, p) for n, p in self._paths.items()}

    def _apply_epoch(self, batch_df, epoch_id: int) -> None:
        batch_id = f"stream-{epoch_id}"
        tables = self.heads()
        if all(t.has_batch(batch_id) for t in tables.values()):
            # redelivered epoch after a checkpoint/commit race: the source
            # merge is a ledger no-op, but followers still refresh — the
            # crash may have landed BETWEEN the source commit and a
            # follower's commit, and this redelivery is what heals them.
            self._refresh_followers()
            return
        raw = None
        if self.wire_format == "debezium-json":
            from pasar_spark.cdc.debezium import debezium_rejects, from_debezium

            # the raw epoch is consumed 2-3 times (DLQ split, schema-ver
            # probe, merge) — persist it so the JSON parse runs once per
            # line, not once per action
            raw = batch_df.persist()
            if self.dlq_path is not None:
                debezium_rejects(raw, "value").write.mode("overwrite").text(
                    f"{self.dlq_path}/epoch={epoch_id}"
                )
            batch_df = from_debezium(raw, "value", include_table=self.multi_table)
        try:
            self._apply(tables, batch_df, batch_id)
            self._refresh_followers()
        finally:
            if raw is not None:
                raw.unpersist()

    def _refresh_followers(self) -> None:
        """Advance each registered incremental consumer to the source
        head. Runs inside the epoch (driver-side, like foreachBatch
        itself); a raising follower fails the epoch AFTER the source
        commit, so the stream stops, restart redelivers the epoch, the
        source merge no-ops, and the follower retries — at-least-once
        refresh on top of an idempotent fold = exactly-once."""
        for f in self.followers:
            f.refresh()

    def _start(self, **trigger):
        """Build the readStream over the WAL dir — the one place the wire
        format decides the source shape. ``debezium-json`` tails JSON
        lines (schema is `value string` by construction, always startable
        against an empty dir); ``parquet`` needs an envelope schema —
        pinned by the caller (production), inferred from current contents
        (ad-hoc), or :func:`envelope_schema` while the dir holds no
        parquet file yet (Spark cannot infer one from an empty dir)."""
        self.bootstrap()
        parquet = self.wire_format == "parquet"
        os.makedirs(self.wal_path, exist_ok=True)  # tail-before-first-ship
        schema = self.schema
        if parquet and schema is None:
            shipped = any(f.endswith(".parquet") for f in os.listdir(self.wal_path))
            schema = (
                self.spark.read.parquet(self.wal_path).schema if shipped
                else envelope_schema()
            )
        reader = self.spark.readStream
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        stream = (
            reader.schema(schema).parquet(self.wal_path) if parquet
            else reader.text(self.wal_path)
        )
        return (
            stream.writeStream.foreachBatch(self._apply_epoch)
            .option("checkpointLocation", self.checkpoint_path)
            .trigger(**trigger)
            .start()
        )

    def run_available_now(self):
        """Drain everything currently in the WAL dir, then stop — the
        bounded trigger (catch-up / test runs). Returns the target at its
        final version (every target, for a multi-table tail).
        Post-condition with followers: they are caught up to the source
        HEAD, even when the drain fired zero epochs (e.g. out-of-band
        source commits since the last drain — compaction, another
        writer)."""
        self._start(availableNow=True).awaitTermination()
        self._refresh_followers()
        heads = self.heads()
        return heads if self.multi_table else next(iter(heads.values()))

    def start(self, processing_time: str = "1 second"):
        """LIVE tail: fire every ``processing_time``, picking up WAL
        files as the shipper appends them — the production trigger. The
        per-epoch core (ledger batch id, snapshot commit, MoR
        compaction) is identical to availableNow, so the exactly-once
        argument carries over unchanged. Returns the StreamingQuery;
        callers stop() it (tests) or awaitTermination() (a deployment)."""
        return self._start(processingTime=processing_time)


class StreamingIngest(WalTail):
    """Row-mode WAL tail into one lake table: epoch ``e`` takes the batch
    replay's row apply (cdc/runner.py ``ReplayRunner``) as ``stream-<e>``."""

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        wal_path: str,
        checkpoint_path: str,
        n_buckets: int = 16,
        evolution_plan: EvolutionPlan | None = None,
        max_files_per_trigger: int | None = None,
        compact_min_files: int = 8,
        audit_checks=None,
        schema: StructType | None = None,
        wire_format: str = "parquet",
        dlq_path: str | None = None,
        followers: list | None = None,
    ):
        runner = ReplayRunner(
            spark, table_path, n_buckets, evolution_plan=evolution_plan,
            compact_min_files=compact_min_files,
        )
        super().__init__(
            runner, {table_path: table_path}, wal_path, checkpoint_path,
            max_files_per_trigger, schema, wire_format, dlq_path, followers,
        )
        self.table_path = table_path
        # quality-gated streaming (WAP per epoch): each micro-batch is
        # committed STAGED, audited by these checks against the staged
        # state, and only a passing audit publishes — readers of a live
        # tail never observe a bad epoch; a failing epoch raises, the
        # stream stops, and on restart the same epoch re-stages (the
        # batch id only entered the ledger if it published)
        self.audit_checks = audit_checks

    def _apply(self, tables, batch_df, batch_id) -> None:
        (table,) = tables.values()
        self.runner._merge_rows(table, batch_df, batch_id, audit_checks=self.audit_checks)


class MultiTableStreamingIngest(WalTail):
    """Streaming demux: ONE WAL tail feeding N lake tables — the live
    form of cdc/router.py MultiTableReplayRunner (the reference's
    `python . etl <tables>` shape on a continuous feed). An epoch is the
    router's window: it takes the router's window apply whole (routing,
    the ``unrouted_events`` count, combined-or-per-table fan-out), with
    no window bound, so each target records its observed max lsn.

    The epoch id is the batch id on EVERY target's ledger, and a target
    whose epoch slice is empty gets the router's metadata-only position
    commit, so the group stays in lockstep per epoch: a redelivered
    fully applied epoch is caught by the tail's all-``has_batch`` check
    before any Spark job, a crash between two tables' commits inside
    one epoch heals on redelivery (committed tables no-op via
    ``has_batch``, laggards apply), and after a drain every target
    carries the newest epoch (cdc/router.py ``group_snapshot_epochs``).

    The epoch is persisted once and sliced per table — one decode/scan
    per epoch regardless of table count, same single-pass argument as
    the batch router. A Debezium feed can route by ``_table`` (the
    connector's ``source.table``: one publication, one LSN stream).
    """

    multi_table = True

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        tables: list[str],
        route_by: str,
        wal_path: str,
        checkpoint_path: str,
        n_buckets: int = 16,
        max_files_per_trigger: int | None = None,
        compact_min_files: int = 8,
        schema: StructType | None = None,
        wire_format: str = "parquet",
        dlq_path: str | None = None,
        on_unrouted: str = "error",
        followers: list | None = None,
    ):
        router = MultiTableReplayRunner(
            spark, base_dir, tables, route_by, n_buckets=n_buckets,
            compact_min_files=compact_min_files, on_unrouted=on_unrouted,
        )
        super().__init__(
            router, {n: os.path.join(base_dir, n) for n in sorted(tables)},
            wal_path, checkpoint_path, max_files_per_trigger, schema,
            wire_format, dlq_path, followers,
        )

    def _apply(self, tables, batch_df, batch_id) -> None:
        self.runner._apply_window(tables, batch_df, batch_id, None)
