"""Merge-on-read: compaction and vacuum keep the visible state.

MoR appends LWW-reduced delta files (O(chunk) per commit) and resolves on
read. Compaction folds deltas, vacuum drops tombstones past the
out-of-order horizon — neither may change the visible state. (The golden
DuckDB replay, tests/test_replay_e2e.py, pins the state itself, both
unresolved and fully compacted.)
"""

from __future__ import annotations

import pytest

from pasar_spark.cdc.merge import compact_buckets, vacuum_tombstones
from pasar_spark.cdc.runner import ReplayRunner
from pasar_spark.datagen import change_events, write_change_log
from pasar_spark.lake.table import LakeTable

N = 12_000


@pytest.fixture(scope="module")
def wal(spark, tmp_path_factory):
    """The WAL and an uncompacted MoR replay of it at ``{root}/mor``."""
    root = tmp_path_factory.mktemp("mor")
    path = str(root / "wal")
    write_change_log(
        change_events(spark, N, n_convs=150, seed=13, duplicate_fraction=0.04),
        path,
        n_files=6,
    )
    mor = ReplayRunner(
        spark, f"{root}/mor", n_buckets=4, chunk_size=2_000,
        compact_min_files=10_000,  # never compact here
    ).replay(path)
    # the table really is lazy: buckets flagged unresolved, >1 file each
    assert len(mor.manifest["unresolved"]) > 0
    assert max(mor.bucket_file_counts().values()) >= 6
    return str(root), path


def _state(table):
    return sorted(
        (r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts, r.lsn)
        for r in table.read().collect()
    )


def test_compaction_preserves_state_and_bounds_files(spark, wal):
    root, path = wal
    mor = LakeTable.load(spark, f"{root}/mor")
    before = _state(mor)
    compacted, delta = compact_buckets(mor, min_files=2)
    assert delta["compacted_buckets"] > 0
    assert _state(compacted) == before
    assert compacted.manifest["unresolved"] == []
    assert max(compacted.bucket_file_counts().values()) <= 2  # 1-2 files/bucket


def test_inline_compaction_during_replay(spark, wal):
    root, path = wal
    t = ReplayRunner(
        spark, f"{root}/mor_inline", n_buckets=4, chunk_size=2_000,
        compact_min_files=3,
    ).replay(path)
    assert _state(t) == _state(LakeTable.load(spark, f"{root}/mor"))
    assert max(t.bucket_file_counts().values()) <= 4  # compaction kept bound


def test_vacuum_drops_only_dead_tombstones(spark, wal):
    root, path = wal
    t = LakeTable.load(spark, f"{root}/mor")
    live = _state(t)
    n_tomb_before = (
        t.read(include_tombstones=True).where("_tombstone").count()
    )
    assert n_tomb_before > 0
    t2, delta = vacuum_tombstones(t, horizon_lsn=N + 1)  # everything past horizon
    assert delta["vacuumed_buckets"] > 0
    assert _state(t2) == live
    assert t2.read(include_tombstones=True).where("_tombstone").count() == 0


def test_vacuum_density_floor_skips_sparse_buckets(spark, tmp_path):
    """min_tombstones: a bucket below the density floor is left alone
    (its tombstones are correctness-neutral), one at/above it is
    rewritten — vacuum cost tracks reclaimable garbage, not bucket
    count."""
    from pasar_spark.cdc.runner import ReplayRunner
    from pasar_spark.datagen import change_events, write_change_log

    wal = str(tmp_path / "wal")
    write_change_log(
        change_events(spark, 4_000, n_convs=40, seed=21, delete_fraction=0.2),
        wal,
        n_files=2,
    )
    t = ReplayRunner(spark, str(tmp_path / "t"), n_buckets=4, chunk_size=10_000).replay(wal)
    per_bucket = {
        r["_bucket"]: r["count"]
        for r in t.read(include_tombstones=True)
        .where("_tombstone")
        .withColumn("_bucket", t.bucket_expr())
        .groupBy("_bucket")
        .count()
        .collect()
    }
    assert len(per_bucket) >= 2
    counts = sorted(per_bucket.values())
    floor = counts[-1]  # only the densest bucket(s) qualify
    assert counts[0] < floor
    before = t.read().count()
    t2, stats = vacuum_tombstones(t, horizon_lsn=10_000, min_tombstones=floor)
    dense = [b for b, c in per_bucket.items() if c >= floor]
    assert stats["vacuumed_buckets"] == len(dense)
    # live state untouched; sparse buckets keep their tombstones
    assert t2.read().count() == before
    left = {
        r["_bucket"]: r["count"]
        for r in t2.read(include_tombstones=True)
        .where("_tombstone")
        .withColumn("_bucket", t2.bucket_expr())
        .groupBy("_bucket")
        .count()
        .collect()
    }
    assert all(b not in left for b in dense)
    assert all(left[b] == c for b, c in per_bucket.items() if c < floor)
