"""Write-audit-publish for CDC chunks (the Iceberg WAP pattern).

The reference validates AFTER loading (inline assertions mid-pipeline,
etl/pypasar/omop/death.py:31-38; an external QA repo after the fact,
README.md:28-31) — by the time a check fires, readers have already seen
the bad rows. WAP inverts that: a chunk is MERGE-committed to a STAGED
snapshot (normal manifest, CURRENT untouched), the quality checks run
against the staged state, and only a passing audit publishes — an atomic
fast-forward of the CURRENT pointer. A failing audit discards the stage;
readers never observe the bad chunk, and because the ledger's batch-id
dedup only becomes visible on publish, the chunk can be re-staged (e.g.
after upstream fixes the feed) with exactly-once intact.

Scale shape: identical to a normal merge — staging IS the merge commit,
just pointed at by ``metadata/STAGED-<name>`` instead of CURRENT; audit
reads are bucket-pruned snapshot reads; publish/discard are pointer
operations, O(1) regardless of table or chunk size.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame

from pasar_spark.cdc.merge import merge_batch
from pasar_spark.lake.table import CommitConflict, LakeTable


def write_audit_publish(
    table: LakeTable,
    changes: DataFrame,
    batch_id: str,
    checks: Iterable[Callable[[DataFrame], None]],
    stage_name: str | None = None,
    max_attempts: int = 3,
    **merge_kwargs,
) -> tuple[LakeTable, dict, str]:
    """Stage one chunk, audit it, publish or discard.

    ``checks`` are callables over the STAGED table state's DataFrame
    that raise to veto. Returns (table, metrics_delta, outcome) with
    outcome in {'published', 'skipped'}; a vetoed chunk discards the
    stage and re-raises the check's exception with main history
    untouched.

    Concurrent-writer safe: if another commit publishes between this
    chunk's stage and its publish, the stale stage is discarded and the
    chunk is re-staged on the new base (re-merged AND re-audited — the
    audit must hold against the state readers will actually see), up to
    ``max_attempts`` times. The ledger's batch-id dedup makes the
    re-stage exactly-once.
    """
    stage_name = stage_name or f"wap-{batch_id}"
    for _ in range(max_attempts):
        staged, delta = merge_batch(
            table, changes, batch_id, stage=stage_name, **merge_kwargs
        )
        if staged.staged_refs().get(stage_name) != staged.version:
            # merge_batch did NOT mint a fresh stage for us: the batch id
            # is already in the PUBLISHED ledger (replayed chunk — note a
            # published manifest keeps its historical 'staged' marker, so
            # the POINTER is the freshness test), or a racing twin staged
            # and published it first (same-batch adoption)
            return staged, delta, "skipped"
        view = staged.read()
        try:
            for check in checks:
                check(view)
        except Exception:
            # a raising check is the designed veto, and no failure here
            # (a crashing check, a read error) may leak the stage:
            # a leftover STAGED pointer pins its whole parent chain
            # against expire_snapshots indefinitely. Discard, then
            # re-raise — the chunk can be re-staged exactly-once.
            # (Crashes that kill the process before this line are
            # covered by expire_snapshots(staged_ttl_sec=...).)
            table.discard_staged(stage_name)
            raise
        try:
            return table.publish_staged(stage_name), delta, "published"
        except CommitConflict:
            table.discard_staged(stage_name)
            table = LakeTable.load(table.spark, table.path)
    raise CommitConflict(
        f"WAP for {batch_id!r}: lost {max_attempts} publish races"
    )
