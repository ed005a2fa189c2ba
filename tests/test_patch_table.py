"""Patch-mode tables: per-column LWW as a table conflict rule.

The load-bearing property: stored rows carry per-column winner structs
(value + the order that set it), so resolution is associative and the
MoR fold / compaction / read paths can never lose an older row's still-
winning column — the failure whole-row LWW WOULD produce is pinned by a
dedicated test.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pasar_spark.cdc.lww import lww_reduce_partial
from pasar_spark.cdc.patch import PatchReplayRunner
from pasar_spark.datagen import change_events, write_change_log
from pasar_spark.lake.table import LakeTable


@pytest.fixture(scope="module")
def partial_wal(spark, tmp_path_factory):
    """Partial-update feed: text missing on every 3rd event, tool on
    every 5th, deletes present."""
    root = tmp_path_factory.mktemp("patchwal")
    ev = (
        change_events(spark, 9_000, n_convs=120, seed=63, delete_fraction=0.12)
        .withColumn(
            "text", F.when(F.col("lsn") % 3 == 0, F.lit(None)).otherwise(F.col("text"))
        )
        .withColumn(
            "tool", F.when(F.col("lsn") % 5 == 2, F.lit(None)).otherwise(F.col("tool"))
        )
        .select("conv_id", "turn_idx", "op", "ts", "lsn", "role", "text", "tool")
    )
    wal = str(root / "wal")
    write_change_log(ev, wal, n_files=4)
    return wal


def _oracle(spark, wal):
    """Independent per-column winners from the raw feed (delete-aware),
    live rows only, materialized columns."""
    raw = spark.read.parquet(wal)
    out = lww_reduce_partial(
        raw,
        key=["conv_id", "turn_idx"],
        order=["ts", "lsn"],
        payload=["role", "text", "tool"],
        op_col="op",
    )
    return sorted(
        (r["conv_id"], r["turn_idx"], r["lsn"], r["role"], r["text"], r["tool"])
        for r in out.where("op <> 'D'").collect()
    )


def _read(runner):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["lsn"], r["role"], r["text"], r["tool"])
        for r in runner.read().collect()
    )


def test_patch_replay_matches_per_column_oracle(spark, partial_wal, tmp_path):
    r = PatchReplayRunner(spark, str(tmp_path / "t"), n_buckets=4, chunk_size=3_000)
    r.replay(partial_wal)
    assert _read(r) == _oracle(spark, partial_wal)


def test_patch_fold_survives_compaction(spark, partial_wal, tmp_path):
    """compact_min_files=1 folds after every chunk — the stored form
    must be closed under resolution (no column loss across folds)."""
    r = PatchReplayRunner(
        spark, str(tmp_path / "t"), n_buckets=4, chunk_size=1_500, compact_min_files=1
    )
    t = r.replay(partial_wal)
    assert _read(r) == _oracle(spark, partial_wal)
    # folding actually happened: buckets are single-file
    assert all(n <= 2 for n in t.bucket_file_counts().values())


def test_whole_row_reduce_would_lose_columns(spark, tmp_path):
    """The scenario that REQUIRES per-column versions in storage: chunk 1
    sets tool (newest event for the key sets only text), chunk 2 carries
    nothing for the key — a whole-row fold of chunk 1 would null the
    tool forever."""
    rows = [
        ("a", 0, "U", "2025-01-01 00:00:00", 1, "user", None, "calculator"),
        ("a", 0, "U", "2025-01-01 00:10:00", 2, None, "hello", None),
    ]
    feed = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, op string, ts_s string, lsn bigint,"
        " role string, text string, tool string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    r = PatchReplayRunner(spark, str(tmp_path / "t"), n_buckets=2, chunk_size=1,
                          compact_min_files=1)
    r.replay(feed)
    got = r.read().collect()
    assert len(got) == 1
    row = got[0]
    assert (row["text"], row["tool"], row["role"]) == ("hello", "calculator", "user")
    assert row["lsn"] == 2  # row version is the overall latest


def test_patch_resume_and_rerun_are_exactly_once(spark, partial_wal, tmp_path):
    tbl = str(tmp_path / "t")
    PatchReplayRunner(spark, tbl, n_buckets=4, chunk_size=2_000).replay(
        partial_wal, max_events=4_000
    )
    r = PatchReplayRunner(spark, tbl, n_buckets=4, chunk_size=2_000)
    t1 = r.replay(partial_wal)
    v = t1.version
    t2 = PatchReplayRunner(spark, tbl, n_buckets=4, chunk_size=2_000).replay(partial_wal)
    assert t2.version == v  # fully applied -> no new commits
    assert _read(r) == _oracle(spark, partial_wal)


def test_bootstrap_crash_after_create_resumes(spark, partial_wal, tmp_path, monkeypatch):
    """A driver killed during bootstrap must not leave a table that every
    later bootstrap refuses as row-mode: the conflict rule lands in the
    creating manifest, not in a second commit after it."""
    tbl = str(tmp_path / "t")

    def killed(self, *args, **kwargs):
        raise RuntimeError("driver killed mid-bootstrap")

    with monkeypatch.context() as m:
        m.setattr(LakeTable, "_commit", killed)
        try:
            PatchReplayRunner(spark, tbl, n_buckets=4).bootstrap()
        except RuntimeError:
            pass  # the kill, if bootstrap commits after creating
    r = PatchReplayRunner(spark, tbl, n_buckets=4, chunk_size=3_000)
    t = r.bootstrap()
    assert (t.version, t.manifest["conflict"]) == (1, "patch")
    r.replay(partial_wal)
    assert _read(r) == _oracle(spark, partial_wal)


def test_conflict_marked_by_second_commit_still_bootstraps(spark, tmp_path):
    """Tables whose conflict rule was set by a commit after creation
    (v2) keep loading as patch tables."""
    import json

    r = PatchReplayRunner(spark, str(tmp_path / "t"), n_buckets=2)
    t = LakeTable.create(
        spark, r.table_path, columns=[("conv_id", "string"), ("turn_idx", "int")],
        key=["conv_id", "turn_idx"], n_buckets=2, name="transcripts-patch",
    )
    m = json.loads(json.dumps(t.manifest))
    m["conflict"] = "patch"
    t._commit(m, tag="conflict-patch")
    assert r.bootstrap().version == 2


def test_patch_changes_feed_classifies(spark, partial_wal, tmp_path):
    """changes() dispatches to the patch resolve: diff two snapshots of a
    patch table without corrupting column winners."""
    tbl = str(tmp_path / "t")
    t1 = PatchReplayRunner(spark, tbl, n_buckets=4, chunk_size=3_000).replay(
        partial_wal, max_events=4_500
    )
    t2 = PatchReplayRunner(spark, tbl, n_buckets=4, chunk_size=3_000).replay(partial_wal)
    ch = t2.changes(t1.version)
    kinds = {r["_change_type"] for r in ch.select("_change_type").distinct().collect()}
    assert kinds <= {"insert", "update", "delete"} and kinds
    # spot-check an update against the materialized views
    n_upd = ch.where("_change_type = 'update'").count()
    assert n_upd > 0
