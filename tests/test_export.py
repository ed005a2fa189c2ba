"""Snapshot export (lake/export.py): publish resolved table state as
plain parquet for external engines, with incremental bucket-level
republish.

Invariants:
- an exported snapshot read by DUCKDB (no engine code) equals
  ``table.read()`` — logical names, deletes gone, MoR resolved;
- republish after a small change rewrites ONLY changed buckets and
  HARDLINKS the rest (asserted by inode identity), and the result still
  equals live state;
- exporting an unchanged table is a no-op;
- the previous export version stays complete and readable after the
  flip (snapshot isolation for external readers) and after expiry of
  even older versions;
- rebucket and schema evolution force a full rewrite (bucket-level
  reuse would be wrong);
- a tombstone-heavy bucket exports its (possibly empty) live state.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from pasar_spark.cdc.runner import ReplayRunner
from pasar_spark.datagen import change_events, write_change_log
from pasar_spark.lake.export import (
    current_export_version,
    exp_dirs_glob,
    expire_exports,
    export_snapshot,
    load_export_manifest,
    read_export,
)
from pasar_spark.lake.table import LakeTable


def _live_state(t: LakeTable):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["text"], r["lsn"])
        for r in t.read().select("conv_id", "turn_idx", "text", "lsn").collect()
    )


def _duck_state(dest: str):
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT conv_id, turn_idx, text, lsn FROM '{exp_dirs_glob(dest)}'"
        ).fetchall()
    finally:
        con.close()
    return sorted(rows)


@pytest.fixture()
def built(spark, tmp_path):
    wal = str(tmp_path / "wal")
    ev = change_events(spark, 6_000, n_convs=80, seed=61, delete_fraction=0.12)
    write_change_log(ev.where("lsn < 4000"), wal, n_files=2)
    t = ReplayRunner(
        spark, str(tmp_path / "tbl"), n_buckets=8, chunk_size=1 << 40
    ).replay(wal)
    return t, ev, wal, str(tmp_path / "exp")


def test_full_export_matches_duckdb(spark, built):
    t, _, _, dest = built
    s = export_snapshot(t, dest)
    assert not s["noop"] and s["reused_buckets"] == []
    assert current_export_version(dest) == t.version
    assert _duck_state(dest) == _live_state(t)
    # read_export (manifest-resolved read) agrees with the raw glob
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["text"], r["lsn"])
        for r in read_export(spark, dest)
        .select("conv_id", "turn_idx", "text", "lsn")
        .collect()
    )
    assert got == _live_state(t)


def test_incremental_reuses_unchanged_buckets_via_hardlinks(spark, built):
    t, ev, wal, dest = built
    export_snapshot(t, dest)
    v1 = current_export_version(dest)

    # touch a handful of conversations only -> most buckets unchanged
    ev.where(
        "lsn >= 4000 AND conv_id IN ('conv-00000001','conv-00000002')"
    ).write.mode("append").parquet(wal)
    t2 = ReplayRunner(spark, t.path, n_buckets=8, chunk_size=1 << 40).replay(wal)
    assert t2.version > t.version

    s = export_snapshot(t2, dest)
    assert s["rewritten_buckets"] and s["reused_buckets"]
    assert _duck_state(dest) == _live_state(t2)

    # reused files are HARDLINKS of the prior version's (same inode)
    m2 = load_export_manifest(dest)
    b = s["reused_buckets"][0]
    rels = m2["buckets"][b]["files"]
    if rels:
        new_f = os.path.join(dest, f"v{t2.version}", rels[0])
        old_f = os.path.join(dest, f"v{v1}", rels[0])
        assert os.stat(new_f).st_ino == os.stat(old_f).st_ino

    # the OLD version is still complete and readable (snapshot isolation)
    old = read_export(spark, dest, version=v1)
    assert old.count() == len(_live_state(t))

    # expiry of the old version never breaks the current one
    dropped = expire_exports(dest, keep=1)
    assert dropped == [v1]
    assert _duck_state(dest) == _live_state(t2)


def test_noop_and_forward_only(spark, built):
    t, _, _, dest = built
    export_snapshot(t, dest)
    again = export_snapshot(t, dest)
    assert again["noop"] and again["rewritten_buckets"] == []
    # a stale handle (older version) must not roll the export back
    stale = LakeTable.load(spark, t.path, version=t.version)
    t.add_column("note", "string")
    cur = LakeTable.load(spark, t.path)
    export_snapshot(cur, dest)
    with pytest.raises(ValueError, match="forward"):
        export_snapshot(stale, dest)


def test_schema_evolution_forces_full_rewrite(spark, built):
    t, _, _, dest = built
    export_snapshot(t, dest)
    t2 = t.rename_column("text", "body")
    s = export_snapshot(t2, dest)
    assert s["reused_buckets"] == []  # logical names changed everywhere
    con = duckdb.connect()
    try:
        cols = [
            d[0]
            for d in con.execute(
                f"SELECT * FROM '{exp_dirs_glob(dest)}' LIMIT 0"
            ).description
        ]
    finally:
        con.close()
    assert "body" in cols and "text" not in cols


def test_rebucket_forces_full_rewrite(spark, built):
    t, _, _, dest = built
    export_snapshot(t, dest)
    t2 = LakeTable.load(spark, t.path).rebucket(4)
    s = export_snapshot(t2, dest)
    assert s["reused_buckets"] == [] and len(s["rewritten_buckets"]) <= 4
    assert _duck_state(dest) == _live_state(t2)


def test_unsupported_flock_is_not_reported_as_contention(spark, tmp_path, monkeypatch):
    """Only EAGAIN/EWOULDBLOCK (BlockingIOError) means another exporter
    holds the publish lock. A filesystem without flock (ENOLCK,
    EOPNOTSUPP) must surface as its own error naming the lock, not as
    the retry-later contention message."""
    import errno
    import fcntl

    t = ReplayRunner(spark, str(tmp_path / "tbl"), n_buckets=2).bootstrap()

    def no_locks(fh, op):
        raise OSError(errno.ENOLCK, os.strerror(errno.ENOLCK))

    monkeypatch.setattr(fcntl, "flock", no_locks)
    dest = str(tmp_path / "exp")
    with pytest.raises(OSError, match="publish lock") as exc:
        export_snapshot(t, dest)
    assert exc.value.errno == errno.ENOLCK
    assert "another exporter" not in str(exc.value)
    assert current_export_version(dest) is None


def test_import_snapshot_bootstrap_and_resume(spark, tmp_path):
    """The CDC snapshot+position bootstrap: seed a replica from the
    export (re-sharded to a different bucket count), resume the SAME WAL
    on both primary and replica from the export's recorded position —
    final states identical, and equal to the from-scratch oracle. The
    feed's 15% out-of-order events cross the snapshot boundary, so this
    also proves the exported tombstone layer prevents resurrection on
    the replica."""
    from pasar_spark.lake.export import import_snapshot

    wal = str(tmp_path / "wal")
    ev = change_events(spark, 8_000, n_convs=100, seed=65, delete_fraction=0.15)
    write_change_log(ev.where("lsn < 4000"), wal, n_files=2)
    primary = ReplayRunner(
        spark, str(tmp_path / "p"), n_buckets=8, chunk_size=1 << 40
    ).replay(wal)
    dest = str(tmp_path / "exp")
    export_snapshot(primary, dest)

    replica = import_snapshot(spark, dest, str(tmp_path / "r"), n_buckets=4)
    assert replica.last_lsn == primary.last_lsn
    assert _live_state(replica) == _live_state(primary)
    # tombstones rode along with their own (ts, lsn)
    pt = primary.read(include_tombstones=True).where("_tombstone").count()
    rt = replica.read(include_tombstones=True).where("_tombstone").count()
    assert pt == rt > 0

    ev.where("lsn >= 4000").repartition(2).write.mode("append").parquet(wal)
    p2 = ReplayRunner(spark, str(tmp_path / "p"), n_buckets=8).replay(wal)
    r2 = ReplayRunner(spark, str(tmp_path / "r"), n_buckets=4).replay(wal)
    assert _live_state(r2) == _live_state(p2)

    # re-import over an existing replica path must refuse, not clobber
    with pytest.raises(Exception):
        import_snapshot(spark, dest, str(tmp_path / "r"))


def test_import_refuses_patch_exports(spark, tmp_path):
    from pasar_spark.cdc.patch import PatchReplayRunner
    from pasar_spark.lake.export import import_snapshot

    ev = change_events(spark, 1_500, n_convs=30, seed=66, delete_fraction=0.1)
    wal = str(tmp_path / "wal")
    write_change_log(
        ev.select("conv_id", "turn_idx", "op", "ts", "lsn", "role", "text", "tool"),
        wal, n_files=1,
    )
    runner = PatchReplayRunner(spark, str(tmp_path / "src"), n_buckets=4)
    runner.replay(wal)
    dest = str(tmp_path / "exp")
    export_snapshot(LakeTable.load(spark, str(tmp_path / "src")), dest)
    with pytest.raises(ValueError, match="row-mode"):
        import_snapshot(spark, dest, str(tmp_path / "r"))


def test_export_follower_tracks_streaming_tail(spark, tmp_path):
    """ExportFollower inside the streaming drain: after every drain the
    DuckDB-readable export equals the live table; the second drain
    republishes INCREMENTALLY (some buckets reused); expiry keeps disk
    bounded without breaking CURRENT."""
    from pasar_spark.lake.export import ExportFollower
    from pasar_spark.streaming.stream import StreamingIngest

    wal = str(tmp_path / "wal")
    ev = change_events(spark, 6_000, n_convs=80, seed=63, delete_fraction=0.1)
    write_change_log(ev.where("lsn < 3000"), wal, n_files=2)
    dest = str(tmp_path / "exp")
    ingest = StreamingIngest(
        spark, str(tmp_path / "tbl"), wal,
        checkpoint_path=str(tmp_path / "ckpt"), n_buckets=8,
        followers=[ExportFollower(spark, str(tmp_path / "tbl"), dest, keep=None)],
    )
    t1 = ingest.run_available_now()
    assert current_export_version(dest) == t1.version
    assert _duck_state(dest) == _live_state(t1)

    ev.where(
        "lsn >= 3000 AND conv_id IN ('conv-00000001','conv-00000003')"
    ).write.mode("append").parquet(wal)
    t2 = ingest.run_available_now()
    assert current_export_version(dest) == t2.version
    assert _duck_state(dest) == _live_state(t2)
    # incremental: untouched buckets carried their signature (and files)
    # forward from the previous export instead of being rewritten
    m1 = load_export_manifest(dest, version=t1.version)
    m2 = load_export_manifest(dest, version=t2.version)
    reused = [b for b in m2["buckets"] if m2["buckets"][b]["sig"] == m1["buckets"][b]["sig"]]
    assert reused
    # expiry keeps disk bounded without breaking CURRENT
    assert expire_exports(dest, keep=1) == [t1.version]
    assert not os.path.isdir(os.path.join(dest, f"v{t1.version}"))
    assert _duck_state(dest) == _live_state(t2)


def test_export_follower_heals_on_redelivery(spark, tmp_path):
    """Crash between the source commit and the export: the redelivered
    epoch's source merge no-ops while the follower catches the export up
    — same heal path as DerivedConvStats."""
    from pasar_spark.lake.export import ExportFollower
    from pasar_spark.streaming.stream import StreamingIngest

    wal = str(tmp_path / "wal")
    write_change_log(
        change_events(spark, 3_000, n_convs=50, seed=64, delete_fraction=0.1),
        wal, n_files=2,
    )
    kw = dict(checkpoint_path=str(tmp_path / "ckpt"), n_buckets=8)
    bare = StreamingIngest(spark, str(tmp_path / "tbl"), wal, **kw)
    bare.bootstrap()
    batch = spark.read.parquet(wal)
    bare._apply_epoch(batch, epoch_id=0)  # source committed, no export
    t1 = LakeTable.load(spark, str(tmp_path / "tbl"))

    dest = str(tmp_path / "exp")
    healed = StreamingIngest(
        spark, str(tmp_path / "tbl"), wal,
        followers=[ExportFollower(spark, str(tmp_path / "tbl"), dest)], **kw,
    )
    healed._apply_epoch(batch, epoch_id=0)  # redelivery
    t2 = LakeTable.load(spark, str(tmp_path / "tbl"))
    assert t2.version == t1.version
    assert current_export_version(dest) == t2.version
    assert _duck_state(dest) == _live_state(t2)


def test_cli_export(spark, built, capsys):
    import json

    from pasar_spark.cli import main

    t, _, _, dest = built
    rc = main(["export", "--table", t.path, "--dest", dest, "--keep", "1"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["source_version"] == t.version and not out["noop"]
    con = duckdb.connect()
    try:
        n = con.execute(f"SELECT count(*) FROM '{out['glob']}'").fetchone()[0]
    finally:
        con.close()
    assert n == t.read().count()


def test_deleted_keys_absent_from_export(spark, tmp_path):
    wal = str(tmp_path / "wal")
    ev = change_events(spark, 2_000, n_convs=30, seed=62, delete_fraction=0.3)
    write_change_log(ev, wal, n_files=1)
    t = ReplayRunner(
        spark, str(tmp_path / "tbl"), n_buckets=4, chunk_size=1 << 40
    ).replay(wal)
    dest = str(tmp_path / "exp")
    export_snapshot(t, dest)
    # keys whose LAST event is a delete must not appear
    last = ev.groupBy("conv_id", "turn_idx").agg(
        F.max(F.struct("ts", "lsn", "op")).alias("w")
    )
    deleted = {
        (r["conv_id"], r["turn_idx"])
        for r in last.where("w.op = 'D'").select("conv_id", "turn_idx").collect()
    }
    exported = {(r[0], r[1]) for r in _duck_state(dest)}
    assert deleted and not (deleted & exported)
    assert _duck_state(dest) == _live_state(t)
