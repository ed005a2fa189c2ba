"""Point lookups read their pruned files on the driver.

``read_key`` reads the files that survive the bucket and manifest-stats
prunes with pyarrow and hands the rows to Spark as one Arrow table (a
LocalRelation). These tests pin what that path must keep: no Spark job
for a resolved bucket, every row of a delta chain, timestamps under a
non-UTC session zone, files from every written schema, and a key value
of the wrong Python type. Empty results are local relations too, so
they run no job either."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pasar_spark.cdc.merge import compact_buckets
from pasar_spark.cdc.runner import BASE_COLUMNS, KEY, ReplayRunner
from pasar_spark.datagen import change_events, write_change_log
from pasar_spark.lake.table import LakeTable

from test_driver_round_trips import _jobs_run
from test_stats_pruning import SCHEMA, T0, _chunk


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """(unresolved merge-on-read table, the same state compacted)."""
    root = tmp_path_factory.mktemp("driverlookup")
    wal = str(root / "wal")
    write_change_log(change_events(spark, 3_000, n_convs=60, seed=41), wal, n_files=3)
    mor = ReplayRunner(
        spark, str(root / "t"), n_buckets=4, chunk_size=1_000, compact_min_files=100
    ).replay(wal)
    compacted, _ = compact_buckets(mor, min_files=1, policy="full")
    return mor, compacted


def _where(table, **key):
    df = table.read()
    for k, v in key.items():
        df = df.where(F.col(k) == F.lit(v))
    return sorted(map(tuple, df.collect()))


def _keys(table, n):
    return [
        r.asDict() for r in table.read().select(*KEY).orderBy(*KEY).limit(n).collect()
    ]


def test_resolved_bucket_lookup_runs_no_job(tables):
    mor, compacted = tables
    assert mor.manifest["unresolved"] and not compacted.manifest["unresolved"]
    for key in _keys(compacted, 4):
        rows, jobs = _jobs_run(compacted.spark, lambda: compacted.read_key(**key).collect())
        assert jobs == 0
        assert len(rows) == 1 and sorted(map(tuple, rows)) == _where(compacted, **key)
    # a conversation-only lookup, and a key nobody wrote
    conv = {"conv_id": _keys(compacted, 1)[0]["conv_id"]}
    rows, jobs = _jobs_run(compacted.spark, lambda: compacted.read_key(**conv).collect())
    assert jobs == 0 and sorted(map(tuple, rows)) == _where(compacted, **conv)
    rows, jobs = _jobs_run(
        compacted.spark,
        lambda: compacted.read_key(conv_id="conv-never-written", turn_idx=0).collect(),
    )
    assert jobs == 0 and rows == []


def test_key_only_in_last_of_four_delta_files(spark, tmp_path):
    # one bucket, four delta files; every file's conv_id min/max spans
    # "conv-m", so neither the manifest stats nor the row-group stats
    # skip the first three, and their filtered reads come back empty
    t = LakeTable.create(
        spark, str(tmp_path / "t"), columns=BASE_COLUMNS, key=KEY, n_buckets=1,
        bucket_by="conv_id",
    )
    convs = [["conv-a", "conv-z"]] * 3 + [["conv-m"]]
    for i, names in enumerate(convs):
        rows = [
            (c, 0, "user", f"text {i}", None, T0 + dt.timedelta(seconds=i), i * 10 + j, False)
            for j, c in enumerate(names)
        ]
        df = spark.createDataFrame(rows, SCHEMA).withColumn("_bucket", t.bucket_expr())
        t = t.commit_append(t.write_files(df, t.new_commit_id()), batch_id=f"d{i}")
    assert len(t.manifest["buckets"]["0"]) == 4 and t.manifest["unresolved"] == ["0"]
    got = t.read_key(conv_id="conv-m", turn_idx=0).collect()
    assert [(r.conv_id, r.text, r.lsn) for r in got] == [("conv-m", "text 3", 30)]


def test_lookup_timestamps_under_non_utc_session_zone(spark, tables):
    mor, compacted = tables
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        for table in (mor, compacted):
            for key in _keys(table, 3):
                got = sorted(map(tuple, table.read_key(**key).collect()))
                assert got and got == _where(table, **key)
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)


def test_lookup_reads_files_of_every_written_schema(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), columns=BASE_COLUMNS, key=KEY, n_buckets=2,
        bucket_by="conv_id",
    )

    def write(t, chunk_no, **extra):
        df = _chunk(spark, chunk_no, n_convs=4, lsn0=chunk_no * 100)
        for name, value in extra.items():
            df = df.withColumn(name, F.lit(value))
        if "body" in t.schema.names():
            df = df.withColumnRenamed("text", "body")
        return t.commit_append(
            t.write_files(df.withColumn("_bucket", t.bucket_expr()), t.new_commit_id()),
            batch_id=f"c{chunk_no}",
        )

    t = write(t, 0)
    t = write(t.add_column("note", "string"), 1, note="added")
    t = write(t.widen_column("turn_idx", "bigint"), 2, note="widened")
    t = write(t.rename_column("text", "body"), 3, note="renamed")
    schema_ids = {e["schema_id"] for es in t.manifest["buckets"].values() for e in es}
    assert schema_ids == {0, 1, 2, 3}
    assert t.read().schema["turn_idx"].dataType.typeName() == "long"
    for chunk_no in range(4):
        for turn in (0, 2):
            key = {"conv_id": f"conv{chunk_no:02d}_01", "turn_idx": turn}
            got = sorted(map(tuple, t.read_key(**key).collect()))
            assert len(got) == 1 and got == _where(t, **key)


def test_string_turn_idx_finds_the_int_row(tables):
    for table in tables:
        key = _keys(table, 1)[0]
        want = table.read_key(**key).collect()
        assert len(want) == 1
        as_str = {"conv_id": key["conv_id"], "turn_idx": str(key["turn_idx"])}
        assert table.read_key(**as_str).collect() == want


def test_empty_read_and_no_change_diff_run_no_job(spark, tmp_path, tables):
    empty = ReplayRunner(spark, str(tmp_path / "empty"), n_buckets=4).bootstrap()
    rows, jobs = _jobs_run(spark, lambda: empty.read().collect())
    assert rows == [] and jobs == 0
    assert empty.read().columns == [c for c, _ in BASE_COLUMNS if c != "_tombstone"]
    _, compacted = tables
    rows, jobs = _jobs_run(spark, lambda: compacted.changes(compacted.version).collect())
    assert rows == [] and jobs == 0
