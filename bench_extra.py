"""Per-query isolation bench (guide §1.4) — NOT the driver's bench.

Times individual registry queries with the same session config as
bench.py (warmup + best-of-N .count(), plus an optional noop-sink rep
that materializes every column). Usage:

    python bench_extra.py <sf_dir> <query> [query ...]

Env: SPARK_GRAFT_CPUS (default 32), PASAR_BENCH_REPS (default 3),
PASAR_NOOP=1 to use the noop sink instead of count().
"""
from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
os.environ.setdefault("PASAR_DRIVER_MEM", "64g")

from pasar_spark.session import get_spark  # noqa: E402


def main():
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_reps = max(1, int(os.environ.get("PASAR_BENCH_REPS", "3")))
    noop = os.environ.get("PASAR_NOOP") == "1"
    # same shuffle-dir policy as bench.py: spill/shuffle files on tmpfs
    # (the sandbox's single ext4 virtual disk adds multi-second variance)
    extra_conf = {"spark.ui.showConsoleProgress": "false"}
    if os.path.isdir("/dev/shm"):
        extra_conf["spark.local.dir"] = "/dev/shm/pasar_bench_extra/spark_local"
    spark = get_spark(
        "pasar-bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 2, 8),
        extra_conf=extra_conf,
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        import pasar_spark.queries as q
        import pasar_spark.queries_docs  # noqa: F401

        registry = q.queries()

        def run(df):
            if noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()

        for name in names:
            fn = registry[name]
            spark.sparkContext.setJobDescription(f"warmup:{name}")
            t0 = time.time()
            run(fn(spark, sf_dir))
            warm = time.time() - t0
            reps = []
            for i in range(n_reps):
                spark.sparkContext.setJobDescription(f"{name}:rep{i}")
                t0 = time.time()
                run(fn(spark, sf_dir))
                reps.append(time.time() - t0)
            print(
                f"{name}: best={min(reps):.3f} median={sorted(reps)[len(reps)//2]:.3f} "
                f"warm={warm:.3f} reps={[round(r,3) for r in reps]}",
                flush=True,
            )
    finally:
        spark.stop()
        shutil.rmtree("/dev/shm/pasar_bench_extra", ignore_errors=True)


if __name__ == "__main__":
    main()
