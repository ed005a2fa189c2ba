"""Driver-side cost of control-path operations: py4j round trips per
replay window, and Spark jobs run for metadata (a key's bucket, a WAL
chunk's schema). Each of these is paid once per lookup, tail epoch or
backfill window, so it is pinned here as a budget, not left to timing."""

import json
import random
import threading
import uuid

import py4j.clientserver
import pyspark.errors.utils
from pyspark.sql import functions as F

from pasar_spark.cdc.runner import ReplayRunner
from pasar_spark.cdc.sources import ParquetDirSource
from pasar_spark.datagen import change_events, write_change_log
from pasar_spark.lake.table import LakeTable

#: py4j round trips one 20k-event ``_merge_rows`` may send from its own
#: thread. With PySpark's per-Column call-site capture on it measures
#: about 1,120; off, about 340.
MERGE_ROUND_TRIP_BUDGET = 700
#: the same for one ``read_key`` lookup on a merge-on-read table, its
#: driver-side file read included: about 215 (measured count + 25%)
LOOKUP_ROUND_TRIP_BUDGET = 269


def _jobs_run(spark, fn):
    """(fn(), number of Spark jobs fn submitted)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _round_trips(monkeypatch, fn):
    """(fn(), py4j round trips fn sent from this thread)."""
    # PySpark caches the flag at the first Column call, possibly before
    # any session existed; make it read this session's conf
    monkeypatch.setattr(pyspark.errors.utils, "_enable_debugging_cache", None)
    sent = [0]
    send = py4j.clientserver.ClientServerConnection.send_command
    me = threading.get_ident()

    def counting(self, *args, **kwargs):
        # this thread's calls only: py4j's finalizer thread sends the
        # deletes of proxies that earlier work left to the collector
        sent[0] += threading.get_ident() == me
        return send(self, *args, **kwargs)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    try:
        return fn(), sent[0]
    finally:
        monkeypatch.undo()


def test_get_spark_turns_off_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_merge_and_lookup_round_trip_budgets(spark, tmp_path, monkeypatch):
    wal = str(tmp_path / "wal")
    write_change_log(change_events(spark, 30_000, n_convs=2_000, seed=5), wal, n_files=3)
    runner = ReplayRunner(spark, str(tmp_path / "t"), n_buckets=4)
    source = ParquetDirSource(spark, wal)
    table, _ = runner._merge_rows(
        runner.bootstrap(), source.chunk(0, 9_999), "w-0", last_lsn=9_999
    )
    window = source.chunk(10_000, 29_999)
    (table, delta), sent = _round_trips(
        monkeypatch, lambda: runner._merge_rows(table, window, "w-1", last_lsn=29_999)
    )
    assert delta["events_seen"] == window.count()
    assert sent <= MERGE_ROUND_TRIP_BUDGET, sent

    key = table.read().select("conv_id", "turn_idx").first().asDict()
    lookup, sent = _round_trips(monkeypatch, lambda: table.read_key(**key))
    assert lookup.count() == 1
    assert sent <= LOOKUP_ROUND_TRIP_BUDGET, sent


def test_bucket_of_runs_no_job_and_matches_bucket_expr(spark, tmp_path):
    rng = random.Random(7)
    alphabet = "abcXYZ019-_ éüßж中文🙂"
    words = ["", " ", "conv-1", "ж" * 40] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 24)))
        for _ in range(40)
    ]
    ints = [0, -1, 1, 2**31 - 1, -(2**31)] + [rng.randint(-(10**6), 10**6) for _ in range(40)]
    for name, sql_type, keys in (("s", "string", words), ("i", "int", ints)):
        table = LakeTable.create(
            spark, str(tmp_path / name), [("k", sql_type), ("v", "string")],
            key=["k"], n_buckets=16, bucket_by="k",
        )
        want = {
            r["k"]: r["b"]
            for r in spark.createDataFrame([(k,) for k in keys], f"k {sql_type}")
            .select("k", table.bucket_expr().alias("b"))
            .collect()
        }
        got, jobs = _jobs_run(spark, lambda: {k: table.bucket_of(k) for k in keys})
        assert jobs == 0
        assert got == want


def test_bucket_of_hashes_the_bucket_by_column_type(spark, tmp_path):
    # xxhash64 hashes a literal by its own type: a small Python int is an
    # int literal, a CLI key a string; both must hash as the column does
    ints = list(range(20))
    for name, sql_type, keys in (
        ("l", "bigint", ints),
        ("si", "int", [str(k) for k in ints]),
    ):
        table = LakeTable.create(
            spark, str(tmp_path / name), [("k", sql_type), ("v", "string")],
            key=["k"], n_buckets=16, bucket_by="k",
        )
        want = {
            str(r["k"]): r["b"]
            for r in spark.createDataFrame([(k,) for k in ints], f"k {sql_type}")
            .select("k", table.bucket_expr().alias("b"))
            .collect()
        }
        got, jobs = _jobs_run(spark, lambda: {str(k): table.bucket_of(k) for k in keys})
        assert jobs == 0
        assert got == want


def test_homogeneous_wal_infers_chunk_schema_once(spark, tmp_path):
    wal = str(tmp_path / "wal")
    write_change_log(change_events(spark, 4_000, n_convs=50, seed=3), wal, n_files=4)
    source = ParquetDirSource(spark, wal)
    first, jobs_first = _jobs_run(spark, lambda: source.chunk(0, 1_999))
    second, jobs_second = _jobs_run(spark, lambda: source.chunk(2_000, 3_999))
    assert jobs_first == 1  # the one footer job: the counter sees jobs
    assert jobs_second == 0
    assert second.schema == first.schema == spark.read.parquet(wal).schema
    wanted = spark.read.parquet(wal).where("lsn BETWEEN 2000 AND 3999")
    assert sorted(second.collect()) == sorted(wanted.collect())


def test_heterogeneous_wal_keeps_per_chunk_inference(spark, tmp_path):
    wal = str(tmp_path / "wal")
    ev = change_events(spark, 2_000, n_convs=30, seed=4)
    write_change_log(ev.where("lsn < 1000"), wal, n_files=1)
    (
        ev.where("lsn >= 1000").withColumn("note", F.lit("late"))
        .coalesce(1).write.mode("append").parquet(wal)
    )
    source = ParquetDirSource(spark, wal)
    assert "note" not in source.chunk(0, 999).columns
    late = source.chunk(1_000, 1_999)
    assert "note" in late.columns
    assert {r["note"] for r in late.select("note").distinct().collect()} == {"late"}


def test_cli_stream_drains_empty_then_shipped_wal(spark, tmp_path, capsys):
    from pasar_spark.cli import main

    wal = str(tmp_path / "wal")  # absent: the shipper has not started
    args = [
        "stream", "--table", str(tmp_path / "tbl"), "--wal", wal,
        "--checkpoint", str(tmp_path / "ckpt"), "--buckets", "4",
    ]
    assert main(args) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["last_lsn"] < 0
    write_change_log(change_events(spark, 2_000, n_convs=30, seed=9), wal, n_files=2)
    assert main(args) == 0
    t = LakeTable.load(spark, str(tmp_path / "tbl"))
    assert t.metrics["events_seen"] == spark.read.parquet(wal).count()
    batch = ReplayRunner(spark, str(tmp_path / "batch"), n_buckets=4).replay(wal)
    assert sorted(map(tuple, t.read().collect())) == sorted(map(tuple, batch.read().collect()))
