"""SparkSession factory tuned for the CDC-ingest workload.

Defaults are chosen for the 100 TB design point and scaled by core count
for local runs:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting) —
  the engine's backstop for hot conversation keys on top of the LWW
  aggregate's map-side combine (see cdc/lww.py);
- Arrow execution on — every Python-side transform is a vectorized
  pandas_udf batch, never a row-at-a-time UDF;
- shuffle partitions sized to cores locally; on a real cluster this is
  2-3x total executor cores (AQE coalesces the excess);
- PySpark's per-Column call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  every Column call also fetches the session and a conf, sets and clears
  an origin and walks the Python stack: ``F.col("a").cast("int")
  .alias("b")`` costs 38-40 py4j round trips on and 5 off (PySpark
  4.1.2), and one 20k-event replay window's ``_merge_rows`` about 1,120
  on and 340 off (tests/test_driver_round_trips.py budgets it). The
  trade-off: a DataFrame error no longer names the Python line that
  built the failing Column; the JVM's query context (the SQL fragment
  and plan node) is still reported. It is a static conf, so it holds for
  the session's lifetime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pasar-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Under spark-submit the gateway JVM already exists and carries the
    # submitted --master/--conf (PYSPARK_GATEWAY_PORT is how the python
    # driver finds it); forcing local[*] here would fight the submit.
    # Explicit callers and PASAR_SPARK_MASTER still win.
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    master = master or os.environ.get("PASAR_SPARK_MASTER") or (
        None if under_submit else "local[*]"
    )
    cores = os.cpu_count() or 4
    if master and master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner != "*":
            cores = int(inner)
    if shuffle_partitions is None:
        shuffle_partitions = max(4, cores)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let the planner pick shuffled-hash join when its size checks
        # pass (guide: often faster than sort-merge when one side is
        # moderately small per partition — skips both sorts). Not a
        # local-only knob: the same preference is the guide's baseline
        # for batch ETL clusters; SMJ remains the fallback whenever the
        # per-partition build side would not fit.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("PASAR_DRIVER_MEM", "16g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Session default codec: it governs only the parquet writes that
        # set none of their own — export files (lake/export.py) and
        # auxiliary outputs. Lake data files are always snappy
        # (lake/table.py LakeTable._write_parquet, the one lake write).
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    if master:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
