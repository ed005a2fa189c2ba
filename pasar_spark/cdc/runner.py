"""Chunked, checkpointed, resumable replay driver.

Replaces the reference's LIMIT/OFFSET pagination loop
(etl/pypasar/omop/measurement.py:124-145 — O(n^2) re-scans, driver-carried
id counter) with LSN-range chunking:

- chunk = ``WHERE lsn >= lo AND lsn < hi`` — a pure predicate, pushed into
  the parquet scan (the WAL is written range-partitioned by lsn, so footer
  min/max stats prune whole files; at 10^10 events a chunk touches only
  its own files);
- batch_id = ``lsn-<lo>-<hi>`` is a deterministic function of the range →
  a crash-and-rerun re-derives the same id and the ledger (committed
  atomically WITH the data, lake/table.py) makes re-application a no-op:
  exactly-once without coordination;
- resume = start from ``table.last_lsn + 1``; nothing else to restore;
- fetch cap (``max_events``) mirrors the reference's
  OMOP_MEASUREMENT_..._FETCH_LIMIT sampling knob (measurement.py:154-158).

That loop exists once, :func:`replay_windows`; the row, per-partition,
router (cdc/router.py) and patch (cdc/patch.py) modes supply only the
per-window apply; a row-mode apply (``ReplayRunner._merge_rows``) is a
merge-on-read append followed by tiered compaction. Its batch-id
prefixes are durable ledger format —
``lsn-`` (row and router), ``p<part>-lsn-`` (partitioned) and
``patch-lsn-`` (patch) — as is the streaming tail's ``stream-`` epoch
id (streaming/stream.py).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession

from pasar_spark.cdc.merge import compact_buckets, merge_batch
from pasar_spark.cdc.schema_evolution import EvolutionPlan, promote_extra
from pasar_spark.cdc.sources import FeedSource, as_source
from pasar_spark.cdc.wap import write_audit_publish
from pasar_spark.lake.table import LakeTable

# The transcript target schema (BASELINE.json input_hint) + the LWW
# comparator column ``lsn`` carried for cross-batch conflict resolution.
BASE_COLUMNS: list[tuple[str, str]] = [
    ("conv_id", "string"),
    ("turn_idx", "int"),
    ("role", "string"),
    ("text", "string"),
    ("tool", "string"),
    ("ts", "timestamp"),
    ("lsn", "bigint"),
    # delete tombstone flag — hidden on read, load-bearing for merge
    # correctness under out-of-order arrivals (see cdc/merge.py)
    ("_tombstone", "boolean"),
]
KEY = ["conv_id", "turn_idx"]


def bootstrap_table(spark: SparkSession, path: str, n_buckets: int) -> LakeTable:
    """Create-or-load the transcripts lake table — the single source of
    truth for the base layout, shared by batch replay and streaming so
    the two paths can never drift."""
    if LakeTable.exists(path):
        t = LakeTable.load(spark, path)
        if t.manifest.get("conflict") == "patch":
            raise ValueError(
                f"table {path!r} has conflict='patch' — row-mode replay/"
                "streaming would apply whole-row LWW over stored column "
                "winners; use cdc.patch.PatchReplayRunner"
            )
        return t
    return LakeTable.create(
        spark,
        path,
        columns=BASE_COLUMNS,
        key=KEY,
        n_buckets=n_buckets,
        bucket_by="conv_id",
    )


def replay_windows(
    source: FeedSource,
    tables: dict[str, LakeTable],
    chunk_size: int,
    apply,
    lo: int | None = None,
    prefix: str = "",
    max_events: int | None = None,
    stop_after_chunks: int | None = None,
) -> int:
    """The LSN-window loop of every batch mode: walks ``[lo, tip]`` (``lo``
    defaults to the group checkpoint ``min(last_lsn) + 1``; tip capped
    below ``max_events``) in ``chunk_size`` windows with batch id
    ``<prefix>lsn-<lo>-<hi>``, skips a window every table already
    committed, and otherwise calls ``apply(tables, chunk, batch_id,
    chunk_hi)``, which stores the committed versions back into ``tables``
    and returns the events it saw (None if unknown). Returns the windows
    walked; ``stop_after_chunks`` aborts mid-stream as a killed driver
    would (crash/resume tests).

    Real LSN spaces are sparse (WAL byte offsets, GTID gaps), so the loop
    must not degrade to O(lsn_range / chunk_size) empty-merge iterations:
    ``source.next_lsn(lo)`` — free for parquet (footer stats), an index
    min-probe for JDBC — jumps the gap at start, after a provably-empty
    range, and after a merged window that saw zero events. Jump targets
    are deterministic for an append-only feed, so batch ids stay stable
    across resume.
    """
    hi = source.tip()
    if hi is None:
        return 0
    if lo is None:
        lo = min(t.last_lsn for t in tables.values()) + 1
    if max_events is not None:
        hi = min(hi, max_events - 1)
    chunks_done = 0
    probe_gap = True
    while lo <= hi:
        if probe_gap:
            # Resume guard BEFORE probing: a table that already committed
            # the ARITHMETIC window at lo (a router crash split it) got it
            # without a probe. Probing would mint a different batch id for
            # the same events and defeat the per-table ledger dedup —
            # committed ids are authoritative. A single table's lo is past
            # its last committed window, so there it never fires.
            arith_id = f"{prefix}lsn-{lo}-{min(lo + chunk_size - 1, hi)}"
            if not any(t.has_batch(arith_id) for t in tables.values()):
                nxt = source.next_lsn(lo)
                if nxt is None or nxt > hi:
                    break
                lo = max(lo, nxt)
            probe_gap = False
        chunk_hi = min(lo + chunk_size - 1, hi)
        batch_id = f"{prefix}lsn-{lo}-{chunk_hi}"
        if not all(t.has_batch(batch_id) for t in tables.values()):
            chunk = source.chunk(lo, chunk_hi)
            if chunk is None:
                # source proved the lsn range empty (footer stats / DB
                # index): nothing to apply; re-walked (cheaply) on resume
                # since last_lsn doesn't advance past it
                lo = chunk_hi + 1
                probe_gap = True
                continue
            if apply(tables, chunk, batch_id, chunk_hi) == 0:
                probe_gap = True  # window was empty — jump the gap
        lo = chunk_hi + 1
        chunks_done += 1
        if stop_after_chunks is not None and chunks_done >= stop_after_chunks:
            break
    return chunks_done


class ReplayRunner:
    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        n_buckets: int = 16,
        chunk_size: int = 1_000_000,
        evolution_plan: EvolutionPlan | None = None,
        compact_min_files: int = 8,
    ):
        self.spark = spark
        self.table_path = table_path
        self.n_buckets = n_buckets
        self.chunk_size = chunk_size
        self.evolution_plan = evolution_plan or EvolutionPlan()
        self.compact_min_files = compact_min_files

    # ------------------------------------------------------------------
    def bootstrap(self) -> LakeTable:
        return bootstrap_table(self.spark, self.table_path, self.n_buckets)

    # ------------------------------------------------------------------
    def replay(
        self,
        events: DataFrame | str | FeedSource,
        max_events: int | None = None,
        stop_after_chunks: int | None = None,
    ) -> LakeTable:
        """Apply the change feed from the current checkpoint to its end.

        ``events`` is anything :func:`as_source` accepts: a parquet WAL
        dir path (footer-stat pruned), a live :class:`JdbcSource` /
        custom :class:`FeedSource`, or an events DataFrame. The replay
        loop itself never knows which — the source decides how ``tip``
        and each LSN-range ``chunk`` are answered (SURVEY.md S2/S3).
        """
        tables = {self.table_path: self.bootstrap()}
        replay_windows(
            as_source(self.spark, events), tables, self.chunk_size,
            self._apply_window, max_events=max_events,
            stop_after_chunks=stop_after_chunks,
        )
        return tables[self.table_path]

    # ------------------------------------------------------------------
    def replay_partitions(
        self,
        sources: dict,
        stop_after_chunks: int | None = None,
    ) -> LakeTable:
        """Partitioned change feeds (the Kafka/binlog-shard shape): each
        source partition has its OWN monotonic offset space — there is no
        global LSN to checkpoint. Progress is kept per partition in the
        ledger (``source_partitions``), committed atomically with each
        chunk's data; resume reads the per-partition offsets back and
        continues every partition from its own cut point.

        ``sources`` maps a partition id to anything :func:`as_source`
        accepts. Cross-partition conflicts resolve through the same LWW
        order (ts, lsn) as everything else — deterministic under ANY
        partition processing order or interleaving, which is what makes
        processing partitions sequentially here (or in parallel on a
        real cluster, one writer per partition racing through the
        optimistic commit protocol) produce the same final state.

        Batch ids are (partition, offset-range)-deterministic, so a
        crash/rerun re-derives them and the ledger dedupes redelivery;
        chunks older than the ledger's id window are excluded by the
        offset cut itself, exactly like the single-feed path."""
        tables = {self.table_path: self.bootstrap()}
        chunks_done = 0
        for part in sorted(sources, key=str):
            left = None if stop_after_chunks is None else stop_after_chunks - chunks_done
            if left == 0:
                break
            chunks_done += replay_windows(
                as_source(self.spark, sources[part]), tables, self.chunk_size,
                functools.partial(self._apply_window, part=part),
                lo=tables[self.table_path].source_offset(part) + 1,
                prefix=f"p{part}-", stop_after_chunks=left,
            )
        return tables[self.table_path]

    # ------------------------------------------------------------------
    def _apply_window(self, tables, chunk, batch_id, chunk_hi, part=None):
        # a partition window checkpoints its offset, not the global lsn
        (path, table), = tables.items()
        tables[path], delta = self._merge_rows(
            table, chunk, batch_id,
            last_lsn=chunk_hi if part is None else None,
            partition_offsets=None if part is None else {part: chunk_hi},
        )
        return delta.get("events_seen")

    def _merge_rows(
        self,
        table: LakeTable,
        chunk: DataFrame,
        batch_id: str,
        last_lsn: int | None = None,
        partition_offsets: dict | None = None,
        audit_checks=None,
    ) -> tuple[LakeTable, dict]:
        """The row-mode apply of batch windows, router slices and streaming
        epochs: schema evolution, ``extra`` promotion, merge-on-read
        append (or WAP under ``audit_checks``), then compaction."""
        ver = self.evolution_plan.pending(chunk, [table])
        if ver:
            table = self.evolution_plan.apply_up_to(table, ver)
        chunk = promote_extra(chunk, table)
        kw = dict(last_lsn=last_lsn, partition_offsets=partition_offsets)
        if audit_checks is None:
            table, delta = merge_batch(table, chunk, batch_id, **kw)
        else:
            table, delta, _ = write_audit_publish(
                table, chunk, batch_id, checks=audit_checks, **kw
            )
        table, _ = compact_buckets(table, min_files=self.compact_min_files)
        return table, delta
