"""Chain-aware commit protocol (ADVICE round 3, high + medium).

The CURRENT pointer is a fast-forward CAS over the parent_version
chain, not merely a numeric max. Invariants under test:

- crash repair is CHAIN-aware: a STAGED manifest occupying CURRENT+1
  must not hide a crashed-but-complete main commit minted PAST it —
  the repair rolls CURRENT onto the main commit (acknowledging it)
  and the new writer rebases on top, so no acknowledged batch is ever
  orphaned (the round-3 high finding);
- the flip refuses a manifest that FORKS before the acknowledged
  head, even when its version number is higher;
- a _commit whose base went stale between the manifest link and the
  flip raises instead of reporting success on an orphaned manifest;
- many writers hammering the same table through stale handles all
  land exactly once on one linear chain.
"""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from pasar_spark.cdc.merge import merge_batch
from pasar_spark.cdc.runner import ReplayRunner
from pasar_spark.datagen import change_events, write_change_log
from pasar_spark.lake.table import LakeTable, _StaleCommit


@pytest.fixture()
def base_table(spark, tmp_path):
    wal = str(tmp_path / "wal")
    write_change_log(change_events(spark, 3_000, n_convs=40, seed=77), wal, n_files=2)
    return ReplayRunner(
        spark, str(tmp_path / "tbl"), n_buckets=4, chunk_size=10_000
    ).replay(wal)


def _current(path: str) -> int:
    with open(os.path.join(path, "metadata", "CURRENT")) as fh:
        return int(fh.read().strip())


def _one_row(handle: LakeTable, conv_id: str, lsn: int, text: str):
    row = (
        handle.spark.createDataFrame(
            [(conv_id, 0, "user", text, None, lsn)],
            "conv_id string, turn_idx int, role string, text string,"
            " tool string, lsn bigint",
        )
        .withColumn("ts", F.lit("2026-07-01 00:00:00").cast("timestamp"))
        .withColumn("_tombstone", F.lit(False))
        .withColumn("_bucket", handle.bucket_expr())
    )
    return handle.write_files(row, handle.new_commit_id())


def _wap_chunk(spark, conv_id: str, lsn: int):
    return (
        spark.createDataFrame(
            [(conv_id, 0, "U", lsn, "staged text")],
            "conv_id string, turn_idx int, op string, lsn bigint, text string",
        )
        .withColumn("ts", F.lit("2026-07-01 00:00:00").cast("timestamp"))
        .withColumn("role", F.lit("user"))
        .withColumn("tool", F.lit(None).cast("string"))
    )


def _crashed_main_manifest(t: LakeTable, version: int, batch_id: str) -> None:
    """Simulate a writer that LINKED a complete main manifest at
    ``version`` (parent = t.version) and crashed before the flip."""
    m = json.loads(json.dumps(t.manifest))
    m["version"] = version
    m["parent_version"] = t.version
    m.pop("staged", None)
    m["ledger"]["batch_ids"] = m["ledger"]["batch_ids"] + [batch_id]
    LakeTable._write_manifest(t.path, version, m)


def test_history_lists_only_the_parent_chain(spark, base_table):
    """history() is this version's lineage: a discarded stage (still on
    disk until expire reclaims it) with a higher last_lsn is no part of
    it, and last_lsn never runs backwards along it."""
    t = base_table
    staged, _ = merge_batch(
        t, _wap_chunk(spark, "conv-staged", 900_900), "wap-h", last_lsn=900_900, stage="h"
    )
    t.discard_staged("h")
    main = t.commit_append(
        _one_row(t, "conv-main", 900_100, "main write"), "batch-main", last_lsn=900_100
    )
    assert os.path.exists(LakeTable._manifest_path(t.path, staged.version))
    hist = main.history()
    versions = [h["version"] for h in hist]
    assert staged.version not in versions
    assert versions[-1] == main.version and versions == sorted(versions)
    lsns = [h["last_lsn"] for h in hist]
    assert lsns == sorted(lsns)


def test_repair_rolls_past_staged_onto_crashed_main_commit(spark, base_table):
    """ADVICE r3 (high): staged manifest at CURRENT+1, crashed main
    commit at CURRENT+2 whose parent IS CURRENT. A new writer's repair
    must acknowledge the crashed commit (roll CURRENT onto it) and
    rebase on top — never re-mint on the stale base and bury it."""
    t = base_table
    v = t.version

    staged, _ = merge_batch(t, _wap_chunk(spark, "conv-staged", 900_500), "wap-s", stage="s")
    assert staged.version == v + 1 and _current(t.path) == v

    _crashed_main_manifest(t, v + 2, "batch-crashed")
    assert _current(t.path) == v  # still unflipped

    writer = LakeTable.load(spark, t.path)  # sees CURRENT = v
    tw = writer.commit_append(
        _one_row(writer, "conv-new", 900_501, "new write"), "batch-new"
    )

    final = LakeTable.load(spark, t.path)
    led = final.manifest["ledger"]["batch_ids"]
    # BOTH batches survive, on one chain: crashed commit acknowledged,
    # new commit on top of it
    assert "batch-crashed" in led and "batch-new" in led
    assert tw.version == v + 3 and final.version == v + 3
    assert final.manifest["parent_version"] == v + 2
    # the staged snapshot was neither published nor buried
    assert final.staged_refs() == {"s": v + 1}
    assert final.read().where("conv_id = 'conv-staged'").count() == 0
    final.discard_staged("s")


def test_flip_refuses_fork_even_with_higher_version(spark, base_table):
    t = base_table
    t2 = t.commit_append(_one_row(t, "conv-head", 900_510, "head"), "batch-head")
    assert _current(t.path) == t2.version

    # a manifest numerically above the head but forking BEFORE it
    _crashed_main_manifest(t, t2.version + 1, "batch-fork")
    assert LakeTable._flip_current(t.path, t2.version + 1) is False
    assert _current(t.path) == t2.version
    assert not LakeTable._chain_reaches(t.path, _current(t.path), t2.version + 1)
    assert LakeTable._chain_reaches(t.path, _current(t.path), t2.version)
    assert LakeTable._chain_reaches(t.path, _current(t.path), t.version)


def test_commit_on_stale_base_with_explicit_version_raises(spark, base_table):
    """The re-validation ADVICE asked for: committing with an explicit
    retry version on a base that is no longer CURRENT must not report
    success while producing an orphaned manifest."""
    t = base_table
    stale = LakeTable.load(spark, t.path)  # handle pinned at v
    t.commit_append(_one_row(t, "conv-adv", 900_520, "advance"), "batch-adv")

    m = json.loads(json.dumps(stale.manifest))
    m["ledger"]["batch_ids"] = m["ledger"]["batch_ids"] + ["batch-stale"]
    with pytest.raises(_StaleCommit):
        stale._commit(m, version=stale._max_version() + 1)
    final = LakeTable.load(spark, t.path)
    assert "batch-stale" not in final.manifest["ledger"]["batch_ids"]
    assert final.manifest["ledger"]["batch_ids"].count("batch-adv") == 1


def test_publish_race_mid_flip_raises_and_keeps_stage(spark, base_table, monkeypatch):
    """ADVICE r3 (medium): a main commit landing between publish_staged's
    staleness walk and its flip must surface as CommitConflict with the
    STAGED pointer intact — never a silent no-op reported as
    'published'."""
    t = base_table
    staged, _ = merge_batch(
        t, _wap_chunk(spark, "conv-race-stage", 900_530), "wap-r", stage="r"
    )
    head_v = staged.version

    orig = LakeTable._flip_current  # the underlying function
    state = {"fired": False}

    def racing_flip(path, version):
        if version == head_v and not state["fired"]:
            state["fired"] = True
            comp = LakeTable.load(spark, t.path)
            comp.commit_append(
                _one_row(comp, "conv-mid-pub", 900_531, "mid publish"),
                "batch-mid-pub",
            )
        return orig(path, version)

    monkeypatch.setattr(LakeTable, "_flip_current", staticmethod(racing_flip))
    with pytest.raises(Exception, match="publish race|stale"):
        LakeTable.load(spark, t.path).publish_staged("r")
    monkeypatch.undo()

    final = LakeTable.load(spark, t.path)
    assert state["fired"]
    # the competitor's commit is the visible head; the stage survived
    assert final.read().where("conv_id = 'conv-mid-pub'").count() == 1
    assert final.read().where("conv_id = 'conv-race-stage'").count() == 0
    assert "r" in final.staged_refs()
    final.discard_staged("r")


def test_many_threads_all_land_on_one_chain(spark, base_table):
    """8 writers through stale handles, racing for real (threads share
    the JVM; the flock'd CAS arbitrates). Every batch must land exactly
    once and the parent chain from CURRENT must reach the base."""
    t = base_table
    v0 = t.version
    handles = [LakeTable.load(spark, t.path) for _ in range(8)]
    filesets = [
        _one_row(h, f"conv-thr-{i}", 900_600 + i, f"thread {i}")
        for i, h in enumerate(handles)
    ]
    errs = []

    def run(i):
        try:
            handles[i].commit_append(filesets[i], f"batch-thr-{i}")
        except Exception as e:  # noqa: BLE001 — collected and asserted
            errs.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []

    final = LakeTable.load(spark, t.path)
    led = final.manifest["ledger"]["batch_ids"]
    for i in range(8):
        assert led.count(f"batch-thr-{i}") == 1
    assert LakeTable._chain_reaches(t.path, final.version, v0)
    assert final.read().where("conv_id like 'conv-thr-%'").count() == 8
