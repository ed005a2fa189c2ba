"""Run one registry query (warmup + 1 rep) and dump the SQL execution DAGs
from the UI REST API — node names with key metrics, to see cache usage and
row counts. Usage: python scripts/profile_sql.py <sf_dir> <query>"""
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
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # spill/shuffle files on tmpfs where there is one (same policy as
    # bench_extra.py); the directory is removed when the run ends
    extra_conf = {"spark.ui.enabled": "true", "spark.ui.showConsoleProgress": "false"}
    if os.path.isdir("/dev/shm"):
        extra_conf["spark.local.dir"] = "/dev/shm/pasar_prof/spark_local"
    spark = get_spark(
        "profsql",
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
        t0 = time.time()
        fn(spark, sf_dir).count()
        print(f"warmup {time.time()-t0:.2f}s", flush=True)
        mark_id_url = "http://localhost:4040/api/v1/applications"
        app_id = spark.sparkContext.applicationId
        before = json.load(urllib.request.urlopen(f"{mark_id_url}/{app_id}/sql?length=1000"))
        seen = {e["id"] for e in before}
        spark.sparkContext.setJobDescription(f"{name}:rep")
        t0 = time.time()
        fn(spark, sf_dir).count()
        print(f"rep {time.time()-t0:.2f}s", flush=True)
        execs = json.load(
            urllib.request.urlopen(f"{mark_id_url}/{app_id}/sql?length=1000&details=true&planDescription=false")
        )
        for e in execs:
            if e["id"] in seen:
                continue
            print(f"\n=== SQL exec {e['id']}  dur={e.get('duration')}ms  {e.get('description','')[:80]}")
            for n in e.get("nodes", []):
                mets = {m["name"]: m["value"] for m in n.get("metrics", [])}
                keep = {
                    k: v
                    for k, v in mets.items()
                    if k in (
                        "number of output rows",
                        "time in aggregation build",
                        "scan time",
                        "shuffle bytes written",
                        "number of files read",
                        "size of files read",
                    )
                }
                print(f"  [{n['nodeId']:>3}] {n['nodeName'][:60]:60s} {keep}")
    finally:
        spark.stop()
        shutil.rmtree("/dev/shm/pasar_prof", ignore_errors=True)


if __name__ == "__main__":
    main()
