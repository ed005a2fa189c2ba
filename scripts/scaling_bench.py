"""Two-parallelism scaling evidence (north rule: >=0.8 efficiency N->4N).

No multi-node cluster exists in this sandbox, so per BASELINE.md §3 the
N->4N executor criterion is evidenced by running the IDENTICAL replay job
on IDENTICAL input at local[N] and local[4N] (fresh JVM each, shuffle
partitions scaled with cores) and reporting events/sec at both.

Usage: python scripts/scaling_bench.py [n_events] [N] [out.json]
Writes a JSON report and prints it; BENCH.md cites the numbers.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
import pyspark
os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))
from pasar_spark.session import get_spark
from pasar_spark.cdc.runner import ReplayRunner

wal, master, cores, chunk, table_path = (
    sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4]), sys.argv[5])
extra = {{"spark.ui.showConsoleProgress": "false"}}
if os.environ.get("PASAR_SCALING_LOCALDIR"):
    # put shuffle/spill files on the same (ram-)disk as the data so the
    # measurement isolates engine scaling from single-disk IO limits —
    # on a real cluster both scale with the node count
    extra["spark.local.dir"] = os.environ["PASAR_SCALING_LOCALDIR"]
if master.startswith("local-cluster"):
    # real separate executor JVMs — the honest emulation of a
    # multi-executor cluster on one box (ship the engine code like
    # spark-submit --py-files would)
    extra["spark.executor.memory"] = os.environ.get("PASAR_SCALING_EXEC_MEM", "6g")
spark = get_spark("scaling-%d" % cores, master=master,
                  shuffle_partitions=cores * 2, extra_conf=extra)
spark.sparkContext.setLogLevel("ERROR")
if master.startswith("local-cluster"):
    import shutil, tempfile
    z = shutil.make_archive(tempfile.mktemp(prefix="pasar_pyz"), "zip",
                            root_dir={repo!r}, base_dir="pasar_spark")
    spark.sparkContext.addPyFile(z)
reps = int(os.environ.get("PASAR_SCALING_REPS", "2"))
# Box-ceiling calibration: an embarrassingly parallel, codegen'd,
# zero-IO aggregation. Whatever speedup THIS gets from N->4N is the most
# any Spark job can get on this box (virtualized CPUs do not deliver 4x
# capacity for 4x threads); the engine's efficiency is reported both raw
# and relative to this ceiling.
cal_df = spark.range(0, 2_000_000_000, 1, cores * 4)
cal_q = "sum(xxhash64(id) % 1000)"
cal_df.selectExpr(cal_q).collect()
cal_best = None
for _ in range(3):
    t0 = time.time()
    cal_df.selectExpr(cal_q).collect()
    dt = time.time() - t0
    cal_best = dt if cal_best is None else min(cal_best, dt)
# Warmup pass on a throwaway table: JIT-compile the codegen stages and
# warm the page cache, so the measured pass reflects steady-state
# throughput (what a long 10^10-event replay runs at), not cold-start.
# Then best-of-R measured passes (box-noise guard; same policy both
# parallelism levels, so the efficiency ratio is noise-robust).
import shutil as _sh
ReplayRunner(spark, table_path + ".warmup", n_buckets=64, chunk_size=chunk).replay(wal)
_sh.rmtree(table_path + ".warmup", ignore_errors=True)
elapsed = None
table = None
for rep in range(reps):
    tp = f"{{table_path}}.r{{rep}}"
    t0 = time.time()
    table = ReplayRunner(spark, tp, n_buckets=64, chunk_size=chunk).replay(wal)
    dt = time.time() - t0
    elapsed = dt if elapsed is None else min(elapsed, dt)
    if rep < reps - 1:
        _sh.rmtree(tp, ignore_errors=True)
print(json.dumps({{"cores": cores, "master": master, "wall_sec": elapsed,
                   "reps": reps, "calibration_wall_sec": round(cal_best, 3),
                   "last_lsn": table.last_lsn, "metrics": table.metrics}}))
spark.stop()
"""

GEN = r"""
import sys
sys.path.insert(0, {repo!r})
from pasar_spark.session import get_spark
from pasar_spark.datagen import change_events, write_change_log
wal, n = sys.argv[1], int(sys.argv[2])
spark = get_spark("gen", master="local[32]",
                  extra_conf={{"spark.ui.showConsoleProgress": "false"}})
spark.sparkContext.setLogLevel("ERROR")
write_change_log(change_events(spark, n, n_convs=max(10000, n // 100), seed=42),
                 wal, n_files=128)
spark.stop()
"""


def run_py(code: str, *args: str) -> str:
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as f:
        f.write(code.format(repo=REPO))
        path = f.name
    try:
        out = subprocess.run(
            [sys.executable, path, *args], capture_output=True, text=True
        )
        if out.returncode != 0:
            sys.stderr.write(out.stderr[-4000:])
            raise RuntimeError(f"worker failed (exit {out.returncode})")
        lines = out.stdout.strip().splitlines()
        return lines[-1] if lines else ""
    finally:
        os.unlink(path)


def main():
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    n_small = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    out_path = sys.argv[3] if len(sys.argv) > 3 else None
    topology = os.environ.get("PASAR_SCALING_TOPOLOGY", "cluster")
    n_big = n_small * 4
    # big chunks: per-chunk fixed costs (driver planning, commit IO,
    # python-worker spin-up) are parallelism-independent — scaling is
    # only observable when per-chunk compute dominates them.
    # PASAR_SCALING_CHUNKS=1 replays the whole WAL as ONE chunk (the
    # 10^10 design point: chunk ~ 10^8 events, commits amortized away).
    n_chunks = int(os.environ.get("PASAR_SCALING_CHUNKS", "2"))
    chunk = max(n_events // n_chunks, 1_000_000)

    exec_mem_mb = int(os.environ.get("PASAR_SCALING_EXEC_MEM", "6g").rstrip("g")) * 1024

    cpw = int(os.environ.get("PASAR_SCALING_CORES_PER_WORKER", "4"))

    def master_for(workers: int) -> tuple[str, int]:
        if topology == "cluster":
            # N vs 4N separate EXECUTOR JVMs, cpw cores each — matches the
            # north rule's executor-count criterion; single-JVM local[n]
            # understates scaling (shared-JVM contention, measured).
            # Worker memory in the master string must cover the executor
            # heap or executors silently fail to launch.
            return (
                f"local-cluster[{workers},{cpw},{exec_mem_mb + 1024}]",
                workers * cpw,
            )
        return f"local[{workers}]", workers

    root = tempfile.mkdtemp(prefix="pasar_scaling_")
    try:
        wal = f"{root}/wal"
        run_py(GEN, wal, str(n_events))
        results = {}
        for workers in (n_small, n_big):
            master, cores = master_for(workers)
            r = json.loads(
                run_py(WORKER, wal, master, str(cores), str(chunk), f"{root}/tbl{workers}")
            )
            r["events_per_sec"] = round(n_events / r["wall_sec"])
            r["wall_sec"] = round(r["wall_sec"], 2)
            results[str(workers)] = r
        thr_n = results[str(n_small)]["events_per_sec"]
        thr_4n = results[str(n_big)]["events_per_sec"]
        speedup = thr_4n / thr_n
        cal_n = results[str(n_small)]["calibration_wall_sec"]
        cal_4n = results[str(n_big)]["calibration_wall_sec"]
        box_speedup = cal_n / cal_4n
        report = {
            "n_events": n_events,
            "topology": topology,
            "N_executors": n_small,
            "4N_executors": n_big,
            "events_per_sec_N": thr_n,
            "events_per_sec_4N": thr_4n,
            "speedup": round(speedup, 3),
            "scaling_efficiency": round(speedup / 4, 3),
            # what a zero-IO embarrassingly parallel codegen'd agg gets
            # from the same N->4N on this box — the hardware ceiling
            "box_ceiling_speedup": round(box_speedup, 3),
            "box_ceiling_efficiency": round(box_speedup / 4, 3),
            "efficiency_vs_box_ceiling": round(speedup / box_speedup, 3),
            "detail": results,
        }
        print(json.dumps(report))
        if out_path:
            with open(out_path, "w") as f:
                json.dump(report, f, indent=2)
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
