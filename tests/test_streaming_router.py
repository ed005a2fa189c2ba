"""MultiTableStreamingIngest (streaming/stream.py): the live form of the
multi-table router — ONE WAL tail demuxed into N lake tables per epoch.

Invariants:
- an availableNow drain produces, per target, exactly the state the
  BATCH router produces from the same WAL (stream epochs vs LSN windows
  are invisible under LWW);
- appended WAL files flow through the same checkpoint incrementally;
- a redelivered epoch is a per-table no-op (ledger dedup — the
  crash-between-targets healing path);
- an epoch commits on every target, an empty slice as a metadata-only
  position commit: a redelivered fully applied epoch runs no Spark job,
  and the epoch cut of a drained group is its heads;
- unrouted traffic fails the epoch by default.
"""

from __future__ import annotations

import pytest

from test_driver_round_trips import _jobs_run

from pasar_spark.cdc.router import MultiTableReplayRunner, UnroutedEvents
from pasar_spark.datagen import change_events, write_change_log
from pasar_spark.lake.table import LakeTable
from pasar_spark.streaming.stream import MultiTableStreamingIngest

ROUTE = "concat('t', cast(substring(conv_id, -1, 1) as int) % 3)"
NAMES = ["t0", "t1", "t2"]


def _state(table):
    return sorted(
        (r.conv_id, r.turn_idx, r.text, r.lsn) for r in table.read().collect()
    )


def test_stream_demux_matches_batch_router_and_resumes(spark, tmp_path):
    wal = str(tmp_path / "wal")
    ev_all = change_events(spark, 6_000, n_convs=80, seed=53)
    write_change_log(ev_all.where("lsn < 4000"), wal, n_files=4)

    ingest = MultiTableStreamingIngest(
        spark, str(tmp_path / "lake"), NAMES, route_by=ROUTE,
        wal_path=wal, checkpoint_path=str(tmp_path / "ckpt"), n_buckets=4,
    )
    t1 = ingest.run_available_now()
    b1 = MultiTableReplayRunner(
        spark, str(tmp_path / "batch1"), NAMES, route_by=ROUTE,
        n_buckets=4, chunk_size=2_000,
    ).replay(wal)
    for n in NAMES:
        assert _state(t1[n]) == _state(b1[n]), n

    # append-only tail: more WAL files appear, same checkpoint drains them
    ev_all.where("lsn >= 4000").repartition(2).write.mode("append").parquet(wal)
    t2 = ingest.run_available_now()
    b2 = MultiTableReplayRunner(
        spark, str(tmp_path / "batch2"), NAMES, route_by=ROUTE,
        n_buckets=4, chunk_size=2_000,
    ).replay(wal)
    for n in NAMES:
        assert _state(t2[n]) == _state(b2[n]), n

    # drain with nothing new: no target advances
    v = {n: t2[n].version for n in NAMES}
    t3 = ingest.run_available_now()
    assert {n: t3[n].version for n in NAMES} == v


def test_redelivered_epoch_is_per_table_noop(spark, tmp_path):
    """Simulate the crash-between-targets redelivery: apply the same
    epoch batch twice through _apply_epoch — every target must end at
    the same version and state as after the first application."""
    wal = str(tmp_path / "wal")
    write_change_log(change_events(spark, 3_000, n_convs=50, seed=7), wal, n_files=2)

    ingest = MultiTableStreamingIngest(
        spark, str(tmp_path / "lake"), NAMES, route_by=ROUTE,
        wal_path=wal, checkpoint_path=str(tmp_path / "ckpt"), n_buckets=4,
    )
    ingest.bootstrap()
    batch = spark.read.parquet(wal)
    ingest._apply_epoch(batch, 0)
    from pasar_spark.lake.table import LakeTable

    first = {
        n: (LakeTable.load(spark, f"{tmp_path}/lake/{n}").version,
            _state(LakeTable.load(spark, f"{tmp_path}/lake/{n}")))
        for n in NAMES
    }
    ingest._apply_epoch(batch, 0)  # redelivery
    for n in NAMES:
        t = LakeTable.load(spark, f"{tmp_path}/lake/{n}")
        assert (t.version, _state(t)) == first[n], n


def test_cli_etl_stream(spark, tmp_path, capsys):
    import json

    from pasar_spark.cli import main

    wal = str(tmp_path / "wal")
    write_change_log(change_events(spark, 2_000, n_convs=40, seed=11), wal, n_files=2)
    rc = main(
        [
            "etl", "--stream",
            "--wal", wal,
            "--base-dir", str(tmp_path / "lake"),
            "--tables", ",".join(NAMES),
            "--route-by", ROUTE,
            "--buckets", "4",
            "--checkpoint", str(tmp_path / "ckpt"),
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out["tables"]) == set(NAMES)
    assert all(v["last_lsn"] >= 0 for v in out["tables"].values())


def test_debezium_wire_routes_by_source_table(spark, tmp_path):
    """The canonical Debezium multi-table topology: ONE JSON-lines WAL
    carrying events stamped with source.table, tailed with
    wire_format='debezium-json' and route_by='_table' — each relation
    lands in its own lake table, state equal to the DuckDB LWW oracle
    over the raw feed filtered by the same route."""
    import duckdb
    from pyspark.sql import functions as F

    from pasar_spark.cdc.debezium import to_debezium

    wal_pq = str(tmp_path / "wal_pq")
    write_change_log(change_events(spark, 3_000, n_convs=60, seed=13), wal_pq, n_files=2)
    feed = spark.read.parquet(wal_pq).withColumn("_tbl", F.expr(ROUTE))
    wal_json = str(tmp_path / "wal_json")
    to_debezium(
        feed.select(
            "lsn", "op", "conv_id", "turn_idx", "role", "text", "tool",
            F.col("ts").cast("timestamp").alias("ts"), "schema_ver", "extra", "_tbl",
        ),
        wrapped=True,
        table_col="_tbl",
    ).coalesce(1).write.text(wal_json)

    tables = MultiTableStreamingIngest(
        spark, str(tmp_path / "lake"), NAMES, route_by="_table",
        wal_path=wal_json, checkpoint_path=str(tmp_path / "ckpt"),
        n_buckets=4, wire_format="debezium-json",
    ).run_available_now()

    con = duckdb.connect()
    for n in NAMES:
        got = sorted(
            (r.conv_id, r.turn_idx, r.lsn)
            for r in tables[n].read().collect()
        )
        want = sorted(
            con.execute(
                f"""
                SELECT conv_id, turn_idx, lsn FROM (
                  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                           ORDER BY ts DESC, lsn DESC) rn
                  FROM '{wal_pq}/*.parquet') WHERE rn = 1 AND op <> 'D'
                  AND 't' || CAST(CAST(substr(conv_id, -1, 1) AS INT) % 3 AS VARCHAR) = '{n}'
                """
            ).fetchall()
        )
        assert got == want, n


def test_group_snapshot_epochs_heals_split_epoch(spark, tmp_path):
    """Epoch-authority consistent cut for streaming groups: after a
    drain the heads are consistent (cut == heads); a mid-epoch crash
    (one target carrying an epoch the others lack) pins everyone back
    below the split epoch, restoring the drained group state."""
    from pyspark.sql import functions as F

    from pasar_spark.cdc.merge import merge_batch
    from pasar_spark.cdc.router import group_snapshot_epochs
    from pasar_spark.cdc.schema_evolution import promote_extra

    wal = str(tmp_path / "wal")
    ev = change_events(spark, 4_000, n_convs=60, seed=29)
    write_change_log(ev.where("lsn < 3000"), wal, n_files=2)
    base = str(tmp_path / "lake")
    ingest = MultiTableStreamingIngest(
        spark, base, NAMES, route_by=ROUTE,
        wal_path=wal, checkpoint_path=str(tmp_path / "ckpt"), n_buckets=4,
    )
    drained = ingest.run_available_now()
    ref = {n: _state(drained[n]) for n in NAMES}

    # quiesced group: the epoch cut IS the heads
    snap = group_snapshot_epochs(spark, base, NAMES)
    for n in NAMES:
        assert snap[n].version == drained[n].version, n

    # mid-epoch crash: epoch 999 landed on t0 only
    part = (
        ev.where("lsn >= 3000")
        .withColumn("_route", F.expr(ROUTE))
        .where(F.col("_route") == "t0")
        .drop("_route")
    )
    t0 = drained["t0"]
    merge_batch(t0, promote_extra(part, t0), "stream-999")

    snap = group_snapshot_epochs(spark, base, NAMES)
    for n in NAMES:
        assert _state(snap[n]) == ref[n], n


def test_unrouted_fails_epoch(spark, tmp_path):
    wal = str(tmp_path / "wal")
    write_change_log(change_events(spark, 1_000, n_convs=30, seed=9), wal, n_files=1)
    ingest = MultiTableStreamingIngest(
        spark, str(tmp_path / "lake"), ["t0", "t1"], route_by=ROUTE,
        wal_path=wal, checkpoint_path=str(tmp_path / "ckpt"), n_buckets=4,
    )
    ingest.bootstrap()
    with pytest.raises(UnroutedEvents):
        ingest._apply_epoch(spark.read.parquet(wal), 0)


ROUTE2 = "concat('t', cast(substring(conv_id, -1, 1) as int) % 2)"


def _two_target_tail(spark, tmp_path):
    """A 2-target tail after epoch 0 (both targets) and epoch 1, which
    routes nothing to t1. Returns (ingest, epoch-1 batch, heads)."""
    from pyspark.sql import functions as F

    wal = str(tmp_path / "wal")
    write_change_log(change_events(spark, 1_000, n_convs=30, seed=17), wal, n_files=1)
    base = str(tmp_path / "lake")
    ingest = MultiTableStreamingIngest(
        spark, base, ["t0", "t1"], route_by=ROUTE2,
        wal_path=wal, checkpoint_path=str(tmp_path / "ckpt"), n_buckets=2,
    )
    ingest.bootstrap()
    feed = spark.read.parquet(wal)
    ingest._apply_epoch(feed.where("lsn < 500"), 0)
    only_t0 = feed.where("lsn >= 500").where(F.expr(ROUTE2) == "t0")
    ingest._apply_epoch(only_t0, 1)
    heads = {n: LakeTable.load(spark, f"{base}/{n}") for n in ("t0", "t1")}
    return ingest, only_t0, heads


def test_epoch_cut_of_a_quiesced_group_is_its_heads(spark, tmp_path):
    """An epoch with an empty slice for t1 is not a split epoch: t1
    records it too, so the cut pins every target at its head."""
    from pasar_spark.cdc.router import group_snapshot_epochs

    _, _, heads = _two_target_tail(spark, tmp_path)
    snap = group_snapshot_epochs(spark, str(tmp_path / "lake"), ["t0", "t1"])
    assert {n: t.version for n, t in snap.items()} == {
        n: t.version for n, t in heads.items()
    }
    assert all(t.has_batch("stream-1") for t in heads.values())


def test_redelivered_epoch_with_an_empty_slice_runs_no_job(spark, tmp_path):
    ingest, only_t0, heads = _two_target_tail(spark, tmp_path)
    _, jobs = _jobs_run(spark, lambda: ingest._apply_epoch(only_t0, 1))
    assert jobs == 0
    from pasar_spark.cdc.router import group_snapshot_epochs

    want = {n: t.version for n, t in heads.items()}
    assert {n: t.version for n, t in ingest.heads().items()} == want
    snap = group_snapshot_epochs(spark, str(tmp_path / "lake"), ["t0", "t1"])
    assert {n: t.version for n, t in snap.items()} == want
