"""Write-audit-publish staged snapshots (Iceberg WAP pattern).

The invariants under test:
- staging a chunk never changes what readers see (CURRENT untouched);
- publish is an atomic fast-forward; the ledger/batch-id exactly-once
  semantics only become visible on publish;
- a failing audit discards the stage with main history untouched, and
  the SAME chunk can be re-staged later (no poisoned ledger);
- the optimistic commit protocol and staged snapshots compose: crash
  repair never auto-publishes a staged manifest, and a main writer
  whose next version number is occupied by a staged manifest mints
  past it;
- expire_snapshots never reclaims a live staged chain.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pasar_spark.cdc.merge import merge_batch
from pasar_spark.cdc.runner import ReplayRunner
from pasar_spark.cdc.wap import write_audit_publish
from pasar_spark.datagen import change_events, write_change_log
from pasar_spark.lake.table import CommitConflict, LakeTable


@pytest.fixture()
def base_table(spark, tmp_path):
    wal = str(tmp_path / "wal")
    write_change_log(change_events(spark, 3_000, n_convs=40, seed=71), wal, n_files=2)
    return ReplayRunner(
        spark, str(tmp_path / "tbl"), n_buckets=4, chunk_size=10_000
    ).replay(wal)


def _chunk(spark, rows):
    """rows: (conv_id, turn_idx, op, lsn, text)"""
    return (
        spark.createDataFrame(
            rows, "conv_id string, turn_idx int, op string, lsn bigint, text string"
        )
        .withColumn("ts", F.lit("2026-07-01 00:00:00").cast("timestamp"))
        .withColumn("role", F.lit("user"))
        .withColumn("tool", F.lit(None).cast("string"))
    )


GOOD = [("conv-wap", 0, "U", 900_100, "audited hello")]
BAD = [("conv-bad", 0, "U", 900_200, None)]  # null text -> audit veto


class Veto(ValueError):
    """An audit check's veto."""


def no_null_text(df):
    n = df.where("text IS NULL").count()
    if n:
        raise Veto(f"nulls in text: {n} rows")


def unique_key(df):
    dupes = df.groupBy("conv_id", "turn_idx").count().where("count > 1").limit(1).collect()
    if dupes:
        raise Veto(f"duplicate key {tuple(dupes[0])[:2]}")


def test_stage_is_invisible_until_publish(spark, base_table):
    t = base_table
    staged, delta = merge_batch(t, _chunk(spark, GOOD), "wap-good", stage="audit")
    assert staged.manifest["staged"] == "audit"
    # main readers: unchanged snapshot, unchanged ledger
    main = LakeTable.load(spark, t.path)
    assert main.version == t.version
    assert main.read().where("conv_id = 'conv-wap'").count() == 0
    assert not main.has_batch("wap-good")
    # audit view: sees the chunk
    audit = LakeTable.load(spark, t.path, version=main.staged_refs()["audit"])
    assert audit.read().where("conv_id = 'conv-wap'").count() == 1

    published = main.publish_staged("audit")
    assert published.read().where("conv_id = 'conv-wap'").count() == 1
    assert published.has_batch("wap-good")
    assert "audit" not in published.staged_refs()
    # publish made the batch id visible -> replay is a no-op
    again, d2 = merge_batch(published, _chunk(spark, GOOD), "wap-good")
    assert again.version == published.version and d2 == {"skipped_batches": 1}


def test_failed_audit_discards_and_chunk_can_restage(spark, base_table):
    t = base_table
    with pytest.raises(Veto):
        write_audit_publish(
            t, _chunk(spark, BAD), "wap-bad",
            checks=[lambda df: no_null_text(df.where("conv_id = 'conv-bad'"))],
        )
    main = LakeTable.load(spark, t.path)
    assert main.version == t.version  # readers never saw the bad chunk
    assert main.read().where("conv_id = 'conv-bad'").count() == 0
    assert main.staged_refs() == {}
    # upstream fixes the feed: SAME batch id stages and publishes cleanly
    fixed = [("conv-bad", 0, "U", 900_201, "fixed")]
    t2, delta, outcome = write_audit_publish(
        main, _chunk(spark, fixed), "wap-bad",
        checks=[unique_key],
    )
    assert outcome == "published"
    assert t2.read().where("conv_id = 'conv-bad'").count() == 1


def test_wap_helper_end_to_end_and_replay_skip(spark, base_table):
    t = base_table
    t2, delta, outcome = write_audit_publish(
        t, _chunk(spark, GOOD), "wap-helper",
        checks=[unique_key],
    )
    assert outcome == "published" and delta["applied"] == 1
    t3, d3, outcome3 = write_audit_publish(
        t2, _chunk(spark, GOOD), "wap-helper",
        checks=[unique_key],
    )
    assert outcome3 == "skipped" and t3.version == t2.version


def test_crash_repair_never_publishes_staged(spark, base_table):
    """A staged manifest at CURRENT+1 must not be flipped to by another
    writer's crash-repair roll-forward; the writer mints past it."""
    t = base_table
    staged, _ = merge_batch(t, _chunk(spark, GOOD), "wap-stay", stage="hold")
    assert staged.version == t.version + 1  # occupies the next number

    # another (stale-handled) main writer commits — must succeed, must
    # not publish the staged manifest
    writer = LakeTable.load(spark, t.path)
    row = (
        spark.createDataFrame(
            [("conv-main", 0, "user", "main write", None, 900_300)],
            "conv_id string, turn_idx int, role string, text string, tool string, lsn bigint",
        )
        .withColumn("ts", F.lit("2026-07-01 00:00:00").cast("timestamp"))
        .withColumn("_tombstone", F.lit(False))
        .withColumn("_bucket", writer.bucket_expr())
    )
    tw = writer.commit_append(
        writer.write_files(row, writer.new_commit_id()), "main-past-staged"
    )
    assert tw.version > staged.version  # minted past the staged number
    main = LakeTable.load(spark, t.path)
    assert main.version == tw.version
    assert main.read().where("conv_id = 'conv-wap'").count() == 0  # unpublished
    assert main.read().where("conv_id = 'conv-main'").count() == 1
    # the staged snapshot is now STALE (main advanced past its base)
    with pytest.raises(CommitConflict, match="stale"):
        main.publish_staged("hold")
    main.discard_staged("hold")


def test_wap_retries_publish_race(spark, base_table):
    """If main advances between stage and publish, the helper re-stages
    on the new base and publishes — exactly-once preserved."""
    t = base_table

    calls = {"n": 0}
    orig = LakeTable.publish_staged

    def racing_publish(self, name):
        if calls["n"] == 0:
            calls["n"] += 1
            # a competitor lands a commit right before our publish
            comp = LakeTable.load(spark, t.path)
            row = (
                spark.createDataFrame(
                    [("conv-racer", 0, "user", "racer", None, 900_400)],
                    "conv_id string, turn_idx int, role string, text string,"
                    " tool string, lsn bigint",
                )
                .withColumn("ts", F.lit("2026-07-01 00:00:00").cast("timestamp"))
                .withColumn("_tombstone", F.lit(False))
                .withColumn("_bucket", comp.bucket_expr())
            )
            comp.commit_append(
                comp.write_files(row, comp.new_commit_id()), "racer-batch"
            )
        return orig(self, name)

    import pytest as _p

    mp = _p.MonkeyPatch()
    mp.setattr(LakeTable, "publish_staged", racing_publish)
    try:
        t2, delta, outcome = write_audit_publish(
            t, _chunk(spark, GOOD), "wap-race",
            checks=[unique_key],
        )
    finally:
        mp.undo()
    assert outcome == "published" and calls["n"] == 1
    final = LakeTable.load(spark, t.path)
    assert final.read().where("conv_id = 'conv-wap'").count() == 1
    assert final.read().where("conv_id = 'conv-racer'").count() == 1
    assert final.manifest["ledger"]["batch_ids"].count("wap-race") == 1


def test_expire_keeps_live_staged_chain(spark, base_table):
    t = base_table
    staged, _ = merge_batch(t, _chunk(spark, GOOD), "wap-keep", stage="keep")
    # advance main a few times so the staged version falls out of keep_last
    cur = LakeTable.load(spark, t.path)
    for i in range(3):
        row = (
            spark.createDataFrame(
                [(f"conv-adv-{i}", 0, "user", "x", None, 900_500 + i)],
                "conv_id string, turn_idx int, role string, text string,"
                " tool string, lsn bigint",
            )
            .withColumn("ts", F.lit("2026-07-01 00:00:00").cast("timestamp"))
            .withColumn("_tombstone", F.lit(False))
            .withColumn("_bucket", cur.bucket_expr())
        )
        cur = cur.commit_append(cur.write_files(row, cur.new_commit_id()), f"adv-{i}")
    stats = cur.expire_snapshots(keep_last=1, min_age_sec=0.0)
    assert stats["expired_manifests"] > 0
    # the staged snapshot still loads and reads after expiry
    audit = LakeTable.load(spark, t.path, version=cur.staged_refs()["keep"])
    assert audit.read().where("conv_id = 'conv-wap'").count() == 1
    # once discarded, a second expire reclaims it
    cur.discard_staged("keep")
    LakeTable.load(spark, t.path).expire_snapshots(keep_last=1, min_age_sec=0.0)
    import os

    assert not os.path.exists(LakeTable._manifest_path(t.path, staged.version))


def test_crashing_check_discards_stage(spark, base_table):
    """ADVICE r3 (low): a check that raises anything OTHER than its
    designed veto (a bug in the check itself) must still discard the
    stage — a leaked STAGED pointer pins its parent chain against
    expire_snapshots forever."""
    t = base_table

    def buggy_check(df):
        raise ZeroDivisionError("check itself crashed")

    with pytest.raises(ZeroDivisionError):
        write_audit_publish(
            t, _chunk(spark, GOOD), "wap-crash", checks=[buggy_check]
        )
    final = LakeTable.load(spark, t.path)
    assert final.staged_refs() == {}
    assert final.version == t.version  # main history untouched
    # and the chunk is re-stageable afterwards (no poisoned ledger)
    t2, _, outcome = write_audit_publish(
        t, _chunk(spark, GOOD), "wap-crash", checks=[]
    )
    assert outcome == "published"
    assert t2.read().where("conv_id = 'conv-wap'").count() == 1


def test_expire_reclaims_abandoned_stage_past_ttl(spark, base_table):
    """ADVICE r3 (low): an audit that died between stage and
    publish/discard (process crash) leaves a STAGED pointer nobody will
    ever resolve. expire_snapshots(staged_ttl_sec=...) drops pointers
    older than the TTL so the orphaned chain can be reclaimed; young
    stages (live audits) are untouched."""
    import os
    import time

    t = base_table
    staged, _ = merge_batch(t, _chunk(spark, GOOD), "wap-dead", stage="dead")
    ptr = LakeTable._staged_pointer(t.path, "dead")
    # age the pointer artificially (the process that staged it is gone)
    old = time.time() - 3600
    os.utime(ptr, (old, old))

    cur = LakeTable.load(spark, t.path)
    # young TTL window: the stage survives (a live audit would too)
    cur.expire_snapshots(keep_last=1, staged_ttl_sec=7200)
    assert "dead" in LakeTable.load(spark, t.path).staged_refs()

    # past the TTL: pointer dropped, manifest reclaimed
    cur.expire_snapshots(keep_last=1, staged_ttl_sec=60)
    assert "dead" not in LakeTable.load(spark, t.path).staged_refs()
    assert not os.path.exists(LakeTable._manifest_path(t.path, staged.version))
