"""Streaming followers: a derived aggregate table (cdc/derived.py)
maintained INSIDE the streaming ingest loop (stream.py ``followers=``) —
the live-dashboard seam: tail a WAL, and a per-conversation stats table
tracks the transcripts table with at most one epoch of lag.

Invariants:
- after every drain, derived == from-scratch groupBy of the source's
  live state, and its checkpoint sits at the source HEAD;
- the second drain folds CDF deltas (no second O(source) rescan);
- a redelivered epoch (crash between the source commit and the follower
  commit) HEALS a stale follower instead of skipping it;
- a zero-epoch drain still catches followers up to out-of-band source
  commits (another writer, compaction).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pasar_spark.cdc.derived import DerivedConvStats
from pasar_spark.datagen import change_events, write_change_log
from pasar_spark.lake.table import LakeTable
from pasar_spark.streaming.stream import StreamingIngest

_SRC = "__source_version__"


def _oracle(src: LakeTable):
    return sorted(
        (r["conv_id"], r["n_turns"], r["total_chars"])
        for r in src.read()
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.coalesce(F.sum(F.length("text").cast("long")), F.lit(0)).alias(
                "total_chars"
            ),
        )
        .collect()
    )


def _state(stats: DerivedConvStats):
    return sorted(
        (r["conv_id"], r["n_turns"], r["total_chars"])
        for r in stats.read().collect()
    )


def test_follower_tracks_available_now_drains(spark, tmp_path):
    wal = str(tmp_path / "wal")
    ev = change_events(spark, 6_000, n_convs=80, seed=91, delete_fraction=0.1)
    write_change_log(ev.where("lsn < 3000"), wal, n_files=2)

    stats = DerivedConvStats(
        spark, str(tmp_path / "tbl"), str(tmp_path / "derived"), n_buckets=4
    )
    ingest = StreamingIngest(
        spark, str(tmp_path / "tbl"), wal,
        checkpoint_path=str(tmp_path / "ckpt"), n_buckets=4,
        followers=[stats],
    )
    t1 = ingest.run_available_now()
    assert _state(stats) == _oracle(t1)
    d1 = LakeTable.load(spark, str(tmp_path / "derived"))
    assert d1.source_offset(_SRC) == t1.version

    # tail grows; the next drain must fold the CDF delta, not rescan
    ev.where("lsn >= 3000").repartition(2).write.mode("append").parquet(wal)
    t2 = ingest.run_available_now()
    assert _state(stats) == _oracle(t2)
    d2 = LakeTable.load(spark, str(tmp_path / "derived"))
    assert d2.source_offset(_SRC) == t2.version
    # exactly one full aggregate ever ran (the bootstrap one): the second
    # drain went down the incremental path
    full_batches = [
        b for b in d2.manifest["ledger"]["batch_ids"] if b.startswith("cdf-full-")
    ]
    assert len(full_batches) == 1


def test_redelivered_epoch_heals_stale_follower(spark, tmp_path):
    """Crash analogue: the source commit landed but the follower's never
    did. foreachBatch redelivers the epoch after restart; the source
    merge must no-op while the follower catches up — the heal path in
    StreamingIngest._apply_epoch."""
    wal = str(tmp_path / "wal")
    write_change_log(
        change_events(spark, 3_000, n_convs=50, seed=92, delete_fraction=0.1),
        wal, n_files=2,
    )
    kw = dict(
        checkpoint_path=str(tmp_path / "ckpt"), n_buckets=4,
    )
    # epoch 0 applied with no followers attached == crash before refresh
    bare = StreamingIngest(spark, str(tmp_path / "tbl"), wal, **kw)
    bare.bootstrap()
    batch = spark.read.parquet(wal)
    bare._apply_epoch(batch, epoch_id=0)
    t1 = LakeTable.load(spark, str(tmp_path / "tbl"))

    stats = DerivedConvStats(
        spark, str(tmp_path / "tbl"), str(tmp_path / "derived"), n_buckets=4
    )
    healed = StreamingIngest(
        spark, str(tmp_path / "tbl"), wal, followers=[stats], **kw
    )
    healed._apply_epoch(batch, epoch_id=0)  # redelivery
    t2 = LakeTable.load(spark, str(tmp_path / "tbl"))
    assert t2.version == t1.version  # source merge was a ledger no-op
    assert _state(stats) == _oracle(t2)  # follower healed to HEAD
    der = LakeTable.load(spark, str(tmp_path / "derived"))
    assert der.source_offset(_SRC) == t2.version


def test_cli_stream_derived_honors_buckets(spark, tmp_path, capsys):
    """Regression: the CLI stream path passed --buckets to the source
    table but let the --derived follower fall back to the default 16, so
    a ``--buckets 4 --derived ...`` run minted a derived table bucketed
    differently from every other table in the deployment."""
    import json as _json

    from pasar_spark.cli import main

    wal = str(tmp_path / "wal")
    write_change_log(
        change_events(spark, 2_000, n_convs=40, seed=95, delete_fraction=0.1),
        wal, n_files=2,
    )
    rc = main([
        "stream",
        "--table", str(tmp_path / "tbl"),
        "--wal", wal,
        "--checkpoint", str(tmp_path / "ckpt"),
        "--buckets", "4",
        "--derived", str(tmp_path / "derived"),
    ])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["last_lsn"] >= 0
    der = LakeTable.load(spark, str(tmp_path / "derived"))
    assert len(der.manifest["buckets"]) == 4
    src = LakeTable.load(spark, str(tmp_path / "tbl"))
    stats = DerivedConvStats(
        spark, str(tmp_path / "tbl"), str(tmp_path / "derived"), n_buckets=4
    )
    assert _state(stats) == _oracle(src)


def test_zero_epoch_drain_catches_up_out_of_band_commits(spark, tmp_path):
    """run_available_now's post-condition: followers sit at the source
    HEAD even when the drain fired zero epochs — e.g. another writer
    committed to the table out-of-band since the last drain."""
    from pasar_spark.cdc.merge import merge_batch
    from pasar_spark.cdc.schema_evolution import promote_extra

    wal = str(tmp_path / "wal")
    ev = change_events(spark, 4_000, n_convs=60, seed=93, delete_fraction=0.1)
    write_change_log(ev.where("lsn < 2000"), wal, n_files=2)
    stats = DerivedConvStats(
        spark, str(tmp_path / "tbl"), str(tmp_path / "derived"), n_buckets=4
    )
    ingest = StreamingIngest(
        spark, str(tmp_path / "tbl"), wal,
        checkpoint_path=str(tmp_path / "ckpt"), n_buckets=4,
        followers=[stats],
    )
    ingest.run_available_now()

    # out-of-band writer: a direct batch merge that never touches the WAL
    t = LakeTable.load(spark, str(tmp_path / "tbl"))
    t, _ = merge_batch(
        t, promote_extra(ev.where("lsn >= 2000"), t), "oob-writer-1"
    )

    # nothing new in the WAL dir -> zero epochs; the drain's final
    # follower pass must still fold the out-of-band commit
    t2 = ingest.run_available_now()
    assert t2.version == t.version
    assert _state(stats) == _oracle(t2)
    der = LakeTable.load(spark, str(tmp_path / "derived"))
    assert der.source_offset(_SRC) == t2.version
