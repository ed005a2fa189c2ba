"""Row-mode tools vs patch tables (ADVICE r2, both high-severity items).

A patch table stores per-column winner structs; whole-row LWW applied to
that stored form keeps only the newest row per key and silently discards
older rows' still-winning columns. Every row-mode entry point must refuse
patch tables; compaction/vacuum must DISPATCH to the per-column resolve;
and changes() must diff per-column winners (row-level (ts, lsn) misses
the old-but-never-superseded column win patch mode exists for) and emit
materialized values, not raw structs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pasar_spark.cdc.merge import compact_buckets, merge_batch, vacuum_tombstones
from pasar_spark.cdc.patch import PatchReplayRunner, merge_patch_chunk
from pasar_spark.cdc.runner import ReplayRunner, bootstrap_table
from pasar_spark.lake.table import LakeTable
from pasar_spark.streaming.stream import StreamingIngest


def _feed(spark, rows):
    """rows: (conv_id, turn_idx, op, ts_string, lsn, role, text, tool)"""
    return (
        spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, op string, ts_s string, lsn bigint,"
            " role string, text string, tool string",
        )
        .withColumn("ts", F.col("ts_s").cast("timestamp"))
        .drop("ts_s")
    )


@pytest.fixture()
def patch_table(spark, tmp_path):
    """One bucket; base holds 10 keys (text set by a NEWER event); the
    older tool-setting event arrives later as a delta — the column-win
    scenario row-mode folding would destroy."""
    runner = PatchReplayRunner(
        spark, str(tmp_path / "t"), n_buckets=1, chunk_size=1 << 30,
        compact_min_files=999,
    )
    base_rows = [
        (f"k{i}", 0, "U", "2025-01-02 00:00:00", 100 + i, None, f"text-{i}", None)
        for i in range(10)
    ]
    runner.replay(_feed(spark, base_rows))
    table = LakeTable.load(spark, str(tmp_path / "t"))
    # fold the first chunk into a BASE file (major compaction)
    table, d = compact_buckets(table, min_files=1)
    assert d["compacted_buckets"] == 1
    # delta A: an OLDER event for k0 that sets tool (never superseded)
    table = merge_patch_chunk(
        table,
        _feed(spark, [("k0", 0, "U", "2025-01-01 00:00:00", 50, None, None, "calculator")]),
        "delta-a",
        last_lsn=200,
    )
    # delta B: the NEWEST event for k0, sets role only
    table = merge_patch_chunk(
        table,
        _feed(spark, [("k0", 0, "U", "2025-01-03 00:00:00", 300, "assistant", None, None)]),
        "delta-b",
        last_lsn=300,
    )
    return runner, table


def test_merge_batch_refuses_patch_table(spark, patch_table):
    runner, table = patch_table
    chunk = _feed(spark, [("k9", 1, "U", "2025-01-04 00:00:00", 400, "user", "x", None)])
    with pytest.raises(ValueError, match="conflict='patch'"):
        merge_batch(table, chunk, "row-mode-batch")


def test_changes_as_debezium_refuses_patch_table(spark, patch_table):
    """A per-column winner can change state without advancing the row's
    (ts, lsn); an LWW consumer of the re-emitted feed would skip it as a
    stale tie and silently diverge — refuse, don't emit."""
    from pasar_spark.cdc.debezium import changes_as_debezium

    _, table = patch_table
    with pytest.raises(ValueError, match="conflict='patch'"):
        changes_as_debezium(table, 0)


def test_row_bootstrap_refuses_patch_table(spark, patch_table, tmp_path):
    runner, table = patch_table
    with pytest.raises(ValueError, match="PatchReplayRunner"):
        bootstrap_table(spark, table.path, n_buckets=1)
    with pytest.raises(ValueError, match="PatchReplayRunner"):
        ReplayRunner(spark, table.path).bootstrap()
    # the row-mode streaming tail refuses before its first epoch runs
    stream = StreamingIngest(
        spark, table.path, str(tmp_path / "wal"), str(tmp_path / "ckpt")
    )
    with pytest.raises(ValueError, match="PatchReplayRunner"):
        stream.run_available_now()
    assert LakeTable.load(spark, table.path).version == table.version


def test_patch_bootstrap_refuses_row_table(spark, tmp_path):
    t = ReplayRunner(spark, str(tmp_path / "row"), n_buckets=2).bootstrap()
    with pytest.raises(ValueError, match="row-mode"):
        PatchReplayRunner(spark, t.path).bootstrap()


def _k0(runner, table):
    rows = runner.read(table).where("conv_id = 'k0'").collect()
    assert len(rows) == 1
    return rows[0]


def test_minor_compaction_keeps_column_winners(spark, patch_table):
    """Generic compact_buckets on a patch table: the MINOR fold (2 delta
    files vs a 10-row base) must resolve per column — whole-row LWW here
    would keep only delta B's row and null the tool forever."""
    runner, table = patch_table
    hot = "0"
    assert len(table.bucket_entries(hot, kind="delta")) == 2
    table, d = compact_buckets(table, min_files=2)
    assert d["minor_compacted_buckets"] == 1 and d["compacted_buckets"] == 0
    row = _k0(runner, table)
    assert (row["text"], row["tool"], row["role"]) == ("text-0", "calculator", "assistant")
    assert row["lsn"] == 300  # row version = overall latest


def test_major_compaction_and_vacuum_keep_column_winners(spark, patch_table):
    runner, table = patch_table
    table, _ = compact_buckets(table, min_files=2, policy="full")
    row = _k0(runner, table)
    assert (row["text"], row["tool"], row["role"]) == ("text-0", "calculator", "assistant")
    # delete k1 then vacuum past the horizon: k0's winners intact, k1 gone
    table = merge_patch_chunk(
        table,
        _feed(spark, [("k1", 0, "D", "2025-01-05 00:00:00", 500, None, None, None)]),
        "delta-del",
        last_lsn=500,
    )
    table, d = vacuum_tombstones(table, horizon_lsn=10_000)
    assert d["vacuumed_buckets"] == 1
    assert runner.read(table).where("conv_id = 'k1'").count() == 0
    row = _k0(runner, table)
    assert (row["text"], row["tool"], row["role"]) == ("text-0", "calculator", "assistant")


def test_patch_changes_diffs_column_winners_and_materializes(spark, tmp_path):
    """CDF on a patch table: a late-arriving OLD event that wins a
    still-null column does NOT advance the row's (ts, lsn) — the diff
    must still emit an update, with plain materialized payload values."""
    runner = PatchReplayRunner(
        spark, str(tmp_path / "t"), n_buckets=1, chunk_size=1 << 30,
        compact_min_files=999,
    )
    t1 = runner.replay(
        _feed(spark, [("k0", 0, "U", "2025-01-02 00:00:00", 100, None, "hello", None)])
    )
    v1 = t1.version
    t2 = merge_patch_chunk(
        t1,
        _feed(spark, [("k0", 0, "U", "2025-01-01 00:00:00", 50, None, None, "calculator")]),
        "late-old-column-win",
        last_lsn=100,
    )
    ch = t2.changes(v1).collect()
    assert len(ch) == 1
    row = ch[0]
    assert row["_change_type"] == "update"
    # materialized values, not winner structs
    assert row["text"] == "hello" and row["tool"] == "calculator"
    # row-level version did not move — which is exactly why struct diffing
    # is required
    assert row["lsn"] == 100 and row["_prev_lsn"] == 100


def test_patch_changes_no_op_commit_emits_nothing(spark, tmp_path):
    """An event that changes no column winner (stale duplicate) must not
    surface in the CDF even though a new snapshot landed."""
    runner = PatchReplayRunner(
        spark, str(tmp_path / "t"), n_buckets=1, chunk_size=1 << 30,
        compact_min_files=999,
    )
    t1 = runner.replay(
        _feed(spark, [("k0", 0, "U", "2025-01-02 00:00:00", 100, "user", "hello", None)])
    )
    v1 = t1.version
    # stale: older order, columns already won by newer values
    t2 = merge_patch_chunk(
        t1,
        _feed(spark, [("k0", 0, "U", "2025-01-01 00:00:00", 50, "user", "old", None)]),
        "stale-dup",
        last_lsn=100,
    )
    assert t2.version > v1
    assert t2.changes(v1).count() == 0
