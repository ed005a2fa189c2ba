"""Profile one registry query: run warmup + 1 measured rep with the UI on,
then dump per-stage wall/task times from the REST API (guide §7.1).

Usage: python scripts/profile_query.py <sf_dir> <query> [reps]
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("PASAR_DRIVER_MEM", "64g")

from pasar_spark.session import get_spark  # noqa: E402


def main():
    sf_dir = sys.argv[1]
    name = sys.argv[2]
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # spill/shuffle files on tmpfs where there is one (same policy as
    # bench_extra.py); the directory is removed when the run ends
    extra_conf = {"spark.ui.enabled": "true", "spark.ui.showConsoleProgress": "false"}
    if os.path.isdir("/dev/shm"):
        extra_conf["spark.local.dir"] = "/dev/shm/pasar_prof/spark_local"
    spark = get_spark(
        "prof",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 2, 8),
        extra_conf=extra_conf,
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        import pasar_spark.queries as q
        import pasar_spark.queries_docs  # noqa: F401

        registry = q.queries()
        fn = registry[name]
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        t0 = time.time()
        fn(spark, sf_dir).count()
        print(f"warmup {time.time()-t0:.2f}s", flush=True)
        # mark the measured window by stage submission time
        mark = time.time()
        for i in range(reps):
            spark.sparkContext.setJobDescription(f"{name}:rep{i}")
            t0 = time.time()
            fn(spark, sf_dir).count()
            print(f"rep{i} {time.time()-t0:.2f}s", flush=True)

        app_id = spark.sparkContext.applicationId
        url = f"http://localhost:4040/api/v1/applications/{app_id}/stages?status=complete"
        stages = json.load(urllib.request.urlopen(url))
        rows = []
        for s in stages:
            sub = s.get("firstTaskLaunchedTime") or s.get("submissionTime")
            if not sub:
                continue
            t = time.strptime(sub[:19], "%Y-%m-%dT%H:%M:%S")
            if time.mktime(t) - time.timezone < mark - 1:
                continue
            rows.append(
                (
                    s["stageId"],
                    s["executorRunTime"] / 1000.0,
                    s["executorCpuTime"] / 1e9,
                    s["numTasks"],
                    s.get("inputBytes", 0) // 1024,
                    s.get("shuffleReadBytes", 0) // 1024,
                    s.get("shuffleWriteBytes", 0) // 1024,
                    (s.get("description") or s["name"])[:95],
                )
            )
        rows.sort(key=lambda r: -r[1])
        print(f"{'stage':>5} {'run_s':>8} {'cpu_s':>8} {'tasks':>5} {'in_kb':>9} {'shR_kb':>8} {'shW_kb':>8}  name")
        for r in rows[:40]:
            print(f"{r[0]:>5} {r[1]:>8.2f} {r[2]:>8.2f} {r[3]:>5} {r[4]:>9} {r[5]:>8} {r[6]:>8}  {r[7]}")
    finally:
        spark.stop()
        shutil.rmtree("/dev/shm/pasar_prof", ignore_errors=True)


if __name__ == "__main__":
    main()
