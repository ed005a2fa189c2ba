"""Cross-PROCESS commit races (the flock CAS is a process-level lock).

test_commit_chain.py races 8 threads inside one interpreter; the CURRENT
flip's critical section is an fcntl flock precisely so SEPARATE WRITER
PROCESSES (two spark-submit drivers, an ingest daemon racing a compaction
cron) serialize too. Manifest commits are pure metadata operations — no
Spark job runs for an empty-fileset append — so the workers here are
plain OS processes hammering the same table directory through the real
commit path (`_commit_rebasing` → link → chain-aware flip), which is
exactly the state two racing drivers would be in.

Invariants: every batch from every process lands exactly once; the final
parent_version chain from CURRENT reaches the base version; no version
is acknowledged off-chain.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os


def _worker(path: str, wid: int, n_commits: int, out_q) -> None:
    # fresh import in the child: a real separate-process writer
    from pasar_spark.lake.table import LakeTable

    try:
        for i in range(n_commits):
            t = LakeTable.load(None, path)  # spark handle unused for metadata ops
            t.commit_append({}, f"mp-{wid}-{i}", last_lsn=None)
        out_q.put((wid, "ok"))
    except Exception as e:  # noqa: BLE001 — reported and asserted
        out_q.put((wid, f"{type(e).__name__}: {e}"))


def test_separate_process_writers_all_land_exactly_once(spark, tmp_path):
    from pasar_spark.lake.table import LakeTable

    path = str(tmp_path / "tbl")
    base = LakeTable.create(
        spark,
        path,
        columns=[("conv_id", "string"), ("turn_idx", "int"), ("lsn", "bigint")],
        key=["conv_id", "turn_idx"],
        n_buckets=4,
        bucket_by="conv_id",
    )
    v0 = base.version

    n_procs, n_commits = 4, 12
    ctx = mp.get_context("spawn")  # no JVM/fork hazards
    q = ctx.Queue()
    procs = [
        ctx.Process(target=_worker, args=(path, w, n_commits, q))
        for w in range(n_procs)
    ]
    for p in procs:
        p.start()
    # generous deadlines: each worker boots its OWN JVM, and on a box
    # already saturated by a concurrent suite run 120 s has been observed
    # to starve — the timeout exists to fail a HUNG worker, not a slow one
    results = [q.get(timeout=300) for _ in procs]
    for p in procs:
        p.join(timeout=60)
    assert all(r[1] == "ok" for r in results), results

    final = LakeTable.load(spark, path)
    led = final.manifest["ledger"]["batch_ids"]
    for w in range(n_procs):
        for i in range(n_commits):
            assert led.count(f"mp-{w}-{i}") == 1, (w, i)
    # the acknowledged history is one linear chain down to the base, and
    # the CURRENT pointer names a version that is on it
    assert LakeTable._chain_reaches(path, final.version, v0)
    assert LakeTable._chain_reaches(path, LakeTable._current(path), final.version)
    # orphaned manifests from lost races (off-chain version numbers) may
    # exist — but no batch id anywhere on disk is missing from the
    # winning ledger (nothing any process ever saw acknowledged was lost)
    meta = os.path.join(path, "metadata")
    led_set = set(led)
    for f in os.listdir(meta):
        if f.startswith("v") and f.endswith(".json"):
            with open(os.path.join(meta, f)) as fh:
                m = json.load(fh)
            assert set(m["ledger"]["batch_ids"]) <= led_set
    assert len(led) >= n_procs * n_commits
