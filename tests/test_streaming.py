"""Structured Streaming facade: tail the WAL dir, drain with availableNow,
verify the final table equals the batch-replay result, then append more
WAL files and drain again (incremental tail + checkpoint resume)."""

from __future__ import annotations

from pasar_spark.cdc.runner import ReplayRunner
from pasar_spark.datagen import change_events, write_change_log
from pasar_spark.streaming.stream import StreamingIngest


def _state(table):
    return sorted(
        (r.conv_id, r.turn_idx, r.text, r.lsn) for r in table.read().collect()
    )


def test_stream_matches_batch_and_resumes(spark, tmp_path):
    wal = str(tmp_path / "wal")
    ev_all = change_events(spark, 6_000, n_convs=100, seed=21)
    # stage 1: first 4k events land in the WAL
    write_change_log(ev_all.where("lsn < 4000"), wal, n_files=4)

    ingest = StreamingIngest(
        spark,
        str(tmp_path / "tbl"),
        wal,
        checkpoint_path=str(tmp_path / "ckpt"),
        n_buckets=4,
    )
    t1 = ingest.run_available_now()
    batch1 = ReplayRunner(spark, str(tmp_path / "tbl_batch1"), n_buckets=4, chunk_size=2_000).replay(
        wal
    )
    assert _state(t1) == _state(batch1)

    # stage 2: more WAL files appear (append-only tail) — note parquet
    # append into the same dir, as a binlog shipper would
    ev_all.where("lsn >= 4000").repartition(2).write.mode("append").parquet(wal)
    t2 = ingest.run_available_now()
    batch2 = ReplayRunner(spark, str(tmp_path / "tbl_batch2"), n_buckets=4, chunk_size=2_000).replay(
        wal
    )
    assert _state(t2) == _state(batch2)
    assert t2.metrics["events_seen"] >= 6_000

    # stage 3: drain again with nothing new -> no state change, no new data
    v = t2.version
    t3 = ingest.run_available_now()
    assert _state(t3) == _state(t2)


def test_live_processing_time_trigger_tails_appends(spark, tmp_path):
    """A REAL processingTime trigger (not availableNow): a writer thread
    appends WAL files while the stream is live; the table must converge
    to the full feed's LWW state through multiple trigger firings, with
    the epoch-id/ledger exactly-once composition intact."""
    import threading
    import time

    from pasar_spark.lake.table import LakeTable

    wal = str(tmp_path / "wal")
    ev_all = change_events(spark, 6_000, n_convs=80, seed=41)
    write_change_log(ev_all.where("lsn < 2000"), wal, n_files=2)

    stages = [(2000, 4000), (4000, 6000)]

    def shipper():
        for lo, hi in stages:
            time.sleep(1.5)
            ev_all.where(f"lsn >= {lo} AND lsn < {hi}").repartition(2).write.mode(
                "append"
            ).parquet(wal)

    ingest = StreamingIngest(
        spark, str(tmp_path / "tbl"), wal,
        checkpoint_path=str(tmp_path / "ckpt"), n_buckets=4,
    )
    writer = threading.Thread(target=shipper)
    q = ingest.start(processing_time="500 milliseconds")
    writer.start()
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            t = LakeTable.load(spark, str(tmp_path / "tbl"))
            if t.metrics.get("events_seen", 0) >= 6_000:
                break
            time.sleep(0.5)
    finally:
        writer.join()
        q.stop()
        q.awaitTermination()

    t = LakeTable.load(spark, str(tmp_path / "tbl"))
    assert t.metrics["events_seen"] >= 6_000
    # multiple trigger firings actually happened (not one availableNow gulp)
    epochs = [b for b in t.manifest["ledger"]["batch_ids"] if b.startswith("stream-")]
    assert len(epochs) >= 2
    batch = ReplayRunner(
        spark, str(tmp_path / "tbl_batch"), n_buckets=4, chunk_size=2_000
    ).replay(wal)
    assert _state(t) == _state(batch)


def test_quality_gated_stream_publishes_good_epochs(spark, tmp_path):
    """audit_checks turns the tail into WAP-per-epoch: good epochs stage,
    audit, publish — final state equals plain batch replay."""
    def unique_key(df):
        if df.groupBy("conv_id", "turn_idx").count().where("count > 1").limit(1).collect():
            raise ValueError("duplicate keys")

    wal = str(tmp_path / "wal")
    write_change_log(change_events(spark, 3_000, n_convs=40, seed=51), wal, n_files=2)
    ingest = StreamingIngest(
        spark, str(tmp_path / "tbl"), wal,
        checkpoint_path=str(tmp_path / "ckpt"), n_buckets=4,
        audit_checks=[unique_key],
    )
    t = ingest.run_available_now()
    batch = ReplayRunner(
        spark, str(tmp_path / "tbl_batch"), n_buckets=4, chunk_size=2_000
    ).replay(wal)
    assert _state(t) == _state(batch)
    assert t.staged_refs() == {}  # every stage published


def test_quality_gated_stream_halts_on_bad_epoch(spark, tmp_path):
    """A vetoed epoch discards its stage and STOPS the stream — readers
    never observe the bad rows, and the table is exactly where it was."""
    from pyspark.sql import functions as F

    def no_null_text(df):
        if df.where("text IS NULL").limit(1).collect():
            raise ValueError("nulls in text")

    wal = str(tmp_path / "wal")
    bad = change_events(spark, 2_000, n_convs=30, seed=52).withColumn(
        "text", F.lit(None).cast("string")
    )
    write_change_log(bad, wal, n_files=2)
    ingest = StreamingIngest(
        spark, str(tmp_path / "tbl"), wal,
        checkpoint_path=str(tmp_path / "ckpt"), n_buckets=4,
        audit_checks=[lambda df: no_null_text(df.where("lsn >= 0"))],
    )
    import pytest as _p

    with _p.raises(Exception) as ei:
        ingest.run_available_now()
    assert "nulls in text" in str(ei.value)
    from pasar_spark.lake.table import LakeTable

    t = LakeTable.load(spark, str(tmp_path / "tbl"))
    assert t.read().count() == 0  # nothing published
    assert t.staged_refs() == {}  # the vetoed stage was discarded


def test_epoch_redelivery_is_noop(spark, tmp_path):
    """foreachBatch may redeliver an epoch after a crash between our
    snapshot commit and the streaming checkpoint commit; the ledger's
    batch id ("stream-<epoch>") must make the second application a no-op
    — the exactly-once composition argument in streaming/stream.py."""
    from pasar_spark.lake.table import LakeTable

    wal = str(tmp_path / "wal")
    write_change_log(change_events(spark, 3_000, n_convs=50, seed=31), wal, n_files=2)
    ingest = StreamingIngest(
        spark, str(tmp_path / "tbl"), wal,
        checkpoint_path=str(tmp_path / "ckpt"), n_buckets=4,
    )
    ingest.bootstrap()
    batch = spark.read.parquet(wal)
    ingest._apply_epoch(batch, epoch_id=0)
    t1 = LakeTable.load(spark, str(tmp_path / "tbl"))
    state1, v1 = _state(t1), t1.version

    ingest._apply_epoch(batch, epoch_id=0)  # redelivery
    t2 = LakeTable.load(spark, str(tmp_path / "tbl"))
    assert t2.version == v1          # no new snapshot
    assert _state(t2) == state1      # no state change


def test_pinned_schema_starts_on_empty_wal_dir(spark, tmp_path):
    """VERDICT r3 #5: with the envelope schema pinned, the stream must be
    startable BEFORE the first WAL file ships (an empty — even absent —
    WAL dir) and converge once files appear. Without a pinned schema this
    used to crash reading the schema from directory contents."""
    import time

    from pasar_spark.lake.table import LakeTable
    from pasar_spark.streaming.stream import envelope_schema

    wal = str(tmp_path / "wal")  # never created before start()
    ingest = StreamingIngest(
        spark, str(tmp_path / "tbl"), wal,
        checkpoint_path=str(tmp_path / "ckpt"), n_buckets=4,
        schema=envelope_schema(),
    )
    q = ingest.start(processing_time="500 milliseconds")
    try:
        ev = change_events(spark, 2_000, n_convs=30, seed=43)
        write_change_log(ev, wal, n_files=2)
        deadline = time.time() + 60
        while time.time() < deadline:
            t = LakeTable.load(spark, str(tmp_path / "tbl"))
            if t.metrics.get("events_seen", 0) >= 2_000:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination()

    t = LakeTable.load(spark, str(tmp_path / "tbl"))
    assert t.metrics["events_seen"] >= 2_000
    batch = ReplayRunner(
        spark, str(tmp_path / "tbl_batch"), n_buckets=4, chunk_size=2_000
    ).replay(wal)
    assert _state(t) == _state(batch)


def test_stream_applies_schema_evolution_mid_tail(spark, tmp_path):
    """Schema evolution arriving mid-STREAM: epochs before the evolution
    point replay against the old table schema; when events with
    schema_ver=1 arrive in a later epoch, the streaming path applies the
    plan (add 'sentiment'), promotes the JSON extra, and the final state
    matches the LWW+json oracle — identical semantics to the batch path."""
    from pasar_spark.cdc.schema_evolution import EvolutionPlan
    from pasar_spark.lake.table import LakeTable
    from pasar_spark.streaming.stream import envelope_schema

    wal = str(tmp_path / "wal")
    evo_lsn = 3_000
    ev_all = change_events(spark, 6_000, n_convs=80, seed=7, evolution_lsn=evo_lsn)
    write_change_log(ev_all.where(f"lsn < {evo_lsn}"), wal, n_files=2)

    ingest = StreamingIngest(
        spark, str(tmp_path / "tbl"), wal,
        checkpoint_path=str(tmp_path / "ckpt"), n_buckets=4,
        evolution_plan=EvolutionPlan(steps={1: [("add", "sentiment", "int")]}),
        schema=envelope_schema(),
    )
    t1 = ingest.run_available_now()
    assert "sentiment" not in t1.schema.names()  # nothing evolved yet

    ev_all.where(f"lsn >= {evo_lsn}").repartition(2).write.mode("append").parquet(wal)
    t2 = ingest.run_available_now()
    assert "sentiment" in t2.schema.names()

    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW e AS SELECT * FROM '{wal}/*.parquet'")
    want = {
        (c, t): s
        for c, t, s in con.execute(
            """
        SELECT conv_id, turn_idx,
               CAST(json_extract_string(extra, '$.sentiment') AS INT)
        FROM (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                       ORDER BY ts DESC, lsn DESC) rn FROM e)
        WHERE rn = 1 AND op <> 'D'
        """
        ).fetchall()
    }
    t = LakeTable.load(spark, str(tmp_path / "tbl"))
    got = {(r.conv_id, r.turn_idx): r.sentiment for r in t.read().collect()}
    assert got == want
