"""Tiered (LSM-style) compaction: minor folds deltas only, major rewrites.

Scale rationale: at 10^10 events the table is far larger than any chunk,
so full-bucket rewrites every K chunks would re-write the whole table
O(n_chunks/K) times (quadratic amplification). Minor compaction folds
only the delta files (O(deltas) write) and leaves the base untouched
until deltas rival it — write amplification becomes logarithmic.
Correctness rests on LWW associativity: resolving (base ∪ folded-deltas)
equals resolving (base ∪ raw deltas), asserted here against a DuckDB
oracle over the raw feed.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from pasar_spark.cdc.merge import compact_buckets, merge_batch
from pasar_spark.cdc.runner import ReplayRunner
from pasar_spark.datagen import change_events, write_change_log

N_BASE = 30_000
N_TOTAL = 38_000
CHUNK = 1_000


@pytest.fixture(scope="module")
def chain(spark, tmp_path_factory):
    """Builds the base+8-delta chain once; tests reload the CURRENT
    version before committing (stale handles are rejected by the
    manifest's O_EXCL optimistic concurrency — by design)."""
    root = tmp_path_factory.mktemp("tiered")
    wal = str(root / "wal")
    write_change_log(
        change_events(spark, N_TOTAL, n_convs=2_000, seed=7), wal, n_files=8
    )
    src = spark.read.parquet(wal)

    runner = ReplayRunner(spark, str(root / "tbl"), n_buckets=8, chunk_size=N_BASE)
    table = runner.bootstrap()
    # big base chunk, then force a (major: base empty) compaction
    base_chunk = src.where(F.col("lsn") < N_BASE)
    table, _ = merge_batch(table, base_chunk, "base", last_lsn=N_BASE - 1)
    table, d = compact_buckets(table, min_files=1)
    assert d["compacted_buckets"] > 0  # first compaction is major (no base yet)

    # 8 small delta chunks — each far smaller than the base
    lo = N_BASE
    while lo < N_TOTAL:
        hi = min(lo + CHUNK, N_TOTAL) - 1
        chunk = src.where((F.col("lsn") >= lo) & (F.col("lsn") <= hi))
        table, _ = merge_batch(table, chunk, f"d-{lo}", last_lsn=hi)
        lo = hi + 1
    return wal, str(root / "tbl")


def _load(spark, path):
    from pasar_spark.lake.table import LakeTable

    return LakeTable.load(spark, path)


def test_minor_fires_and_folds_deltas(chain, spark):
    _, path = chain
    table = _load(spark, path)
    some_bucket = next(iter(table.manifest["unresolved"]))
    assert len(table.bucket_entries(some_bucket, kind="delta")) == 8

    table, d = compact_buckets(table, min_files=8)
    assert d["minor_compacted_buckets"] > 0
    assert d["compacted_buckets"] == 0  # deltas << base → never major
    for b in table.manifest["unresolved"]:
        assert len(table.bucket_entries(b, kind="delta")) <= 1
        assert len(table.bucket_entries(b, kind="base")) == 1
    # buckets stay unresolved: reads still LWW-resolve base vs folded delta
    assert table.manifest["unresolved"]


def test_state_matches_oracle_after_minor(chain, spark):
    wal, path = chain
    table = _load(spark, path)
    got = sorted(
        (r.conv_id, r.turn_idx, r.lsn)
        for r in table.read().select("conv_id", "turn_idx", "lsn").collect()
    )
    exp = sorted(
        tuple(r)
        for r in duckdb.sql(
            f"""
            SELECT conv_id, turn_idx, lsn FROM (
              SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                ORDER BY ts DESC, lsn DESC) rn FROM '{wal}/*.parquet') t
            WHERE rn = 1 AND op <> 'D'
            """
        ).fetchall()
    )
    assert got == exp


def test_policy_full_resolves(chain, spark):
    _, path = chain
    table = _load(spark, path)
    table, d = compact_buckets(table, min_files=1, policy="full")
    assert d["compacted_buckets"] > 0
    assert not table.manifest["unresolved"]
