"""Round-6 ADVICE.md regression tests.

- export_snapshot: concurrent publishes to one dest are serialized by an
  exclusive flock; the laggard fails loudly instead of deleting the live
  v-dir (ADVICE medium).
- MultiTableStreamingIngest with on_unrouted='ignore': an epoch whose
  events are ALL unrouted still lands in unrouted_events (ADVICE low —
  previously a silent drop); a redelivered fully-applied epoch still does
  not double-count.
- Router/streaming target names: '.', '..', separators and empties are
  rejected before any path is joined (ADVICE low — '..' escaped base_dir).
- fsck --deep cross-checks footers for files referenced by ANY retained
  manifest, not just the head snapshot (ADVICE low — torn time-travel
  targets passed --deep).
"""

from __future__ import annotations

import fcntl
import os

import pytest
from pyspark.sql import functions as F

from pasar_spark.cdc.router import MultiTableReplayRunner
from pasar_spark.datagen import change_events, write_change_log
from pasar_spark.streaming.stream import MultiTableStreamingIngest

ROUTE = "concat('t', cast(substring(conv_id, -1, 1) as int) % 2)"


def test_export_publish_lock_refuses_concurrent_publish(spark, tmp_path):
    from pasar_spark.cdc.runner import ReplayRunner
    from pasar_spark.lake.export import export_snapshot

    wal = str(tmp_path / "wal")
    write_change_log(change_events(spark, 500, n_convs=20, seed=3), wal, n_files=2)
    table = ReplayRunner(
        spark, str(tmp_path / "tbl"), n_buckets=2, chunk_size=1 << 40
    ).replay(wal)

    dest = str(tmp_path / "pub")
    os.makedirs(dest, exist_ok=True)
    holder = open(os.path.join(dest, ".publish.lock"), "a")
    fcntl.flock(holder, fcntl.LOCK_EX | fcntl.LOCK_NB)
    try:
        with pytest.raises(ValueError, match="publish lock"):
            export_snapshot(table, dest)
    finally:
        holder.close()
    # once released, the publish goes through and flips CURRENT
    out = export_snapshot(table, dest)
    assert not out["noop"] and os.path.exists(os.path.join(dest, "CURRENT"))


def test_all_unrouted_epoch_is_counted(spark, tmp_path):
    wal = str(tmp_path / "wal")
    write_change_log(change_events(spark, 400, n_convs=12, seed=7), wal, n_files=1)
    ingest = MultiTableStreamingIngest(
        spark, str(tmp_path / "lake"), ["t0", "t1"],
        # every event routes to an unconfigured target name
        route_by="'elsewhere'",
        wal_path=wal, checkpoint_path=str(tmp_path / "ckpt"),
        n_buckets=2, on_unrouted="ignore",
    )
    ingest.bootstrap()
    feed = spark.read.parquet(wal)
    n = feed.count()
    ingest._apply_epoch(feed, 0)
    assert ingest.runner.unrouted_events == n  # previously 0: todo was empty


def test_redelivered_applied_epoch_does_not_double_count(spark, tmp_path):
    wal = str(tmp_path / "wal")
    write_change_log(change_events(spark, 400, n_convs=12, seed=8), wal, n_files=1)
    # a 3-way route with only two configured targets: the 't2' slice is
    # naturally unrouted
    route3 = "concat('t', cast(substring(conv_id, -1, 1) as int) % 3)"
    ingest = MultiTableStreamingIngest(
        spark, str(tmp_path / "lake"), ["t0", "t1"], route_by=route3,
        wal_path=wal, checkpoint_path=str(tmp_path / "ckpt"),
        n_buckets=2, on_unrouted="ignore",
    )
    ingest.bootstrap()
    feed = spark.read.parquet(wal)
    unrouted = feed.where(F.expr(route3) == "t2").count()
    assert unrouted > 0
    ingest._apply_epoch(feed, 1)
    assert ingest.runner.unrouted_events == unrouted
    ingest._apply_epoch(feed, 1)  # full redelivery: every target has_batch
    assert ingest.runner.unrouted_events == unrouted


@pytest.mark.parametrize("bad", ["..", ".", "a/b", " "])
def test_router_rejects_escaping_table_names(spark, tmp_path, bad):
    with pytest.raises(ValueError, match="plain dir names"):
        MultiTableReplayRunner(spark, str(tmp_path / "lake"), ["ok", bad], route_by=ROUTE)
    with pytest.raises(ValueError, match="plain dir names"):
        MultiTableStreamingIngest(
            spark, str(tmp_path / "lake"), ["ok", bad], route_by=ROUTE,
            wal_path=str(tmp_path / "wal"), checkpoint_path=str(tmp_path / "ckpt"),
        )


def test_fsck_deep_checks_retained_history(spark, tmp_path):
    from pasar_spark.cdc.merge import compact_buckets
    from pasar_spark.cdc.runner import ReplayRunner
    from pasar_spark.lake.fsck import fsck
    from pasar_spark.lake.table import LakeTable

    wal = str(tmp_path / "wal")
    write_change_log(change_events(spark, 1200, n_convs=20, seed=4), wal, n_files=2)
    path = str(tmp_path / "tbl")
    table = ReplayRunner(spark, path, n_buckets=2, chunk_size=600).replay(wal)
    table, _ = compact_buckets(table, min_files=1, policy="full")

    # corrupt a data file referenced ONLY by pre-compaction manifests
    head = LakeTable.load(spark, path)
    head_files = {
        e["path"] for es in head.manifest["buckets"].values() for e in es
    }
    old = LakeTable.load(spark, path, version=head.version - 1)
    old_only = sorted(
        {e["path"] for es in old.manifest["buckets"].values() for e in es}
        - head_files
    )
    assert old_only, "expected a file only the retained history references"
    victim = os.path.join(path, old_only[0])
    with open(victim, "r+b") as fh:
        fh.seek(0, os.SEEK_END)
        fh.truncate(max(fh.tell() // 2, 1))  # torn file

    report = fsck(path, deep=True)
    assert any(old_only[0] in e for e in report["errors"]), report["errors"]
