"""Dump .explain('formatted') for registry queries to plans/<suffix>/<q>.txt.

Usage: python scripts/dump_plans.py <suffix> [query ...]
Writes plans/<suffix>/<query>.txt for each named query (default: the
bench.py headline list), so two trees' dumps diff file by file. The
session uses get_spark's defaults (local[*], one shuffle partition per
core). SPARK_GRAFT_SF_DIR picks the data (default sf0.1).
"""
import os, sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from pasar_spark.session import get_spark

def main():
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plans", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    import pasar_spark.queries as q
    import pasar_spark.queries_docs  # noqa: F401
    registry = q.queries()
    if not names:
        import bench
        names = bench.BENCH_QUERIES
    out_dir = os.path.join(ROOT, "plans", suffix)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = registry[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(plan)
        print(name, "ok")
    spark.stop()

if __name__ == "__main__":
    main()
