"""Deterministic synthetic transcript change-feed generator.

Generates the FIXTURES.md F2 `change_events` table entirely Spark-side
(``spark.range`` + ``xxhash64`` — no driver loops, no RNG state), so the
same call scales from 1k events in unit tests to 10^7+ in the bench while
staying bit-identical for a given (seed, n_events, dials).

Dials (all deterministic functions of (seed, lsn)):
- hot-key skew: ``hot_fraction`` of events land on ``n_hot`` conversations
  (the Zipf-head analogue; exercises the map-side combine / AQE skew-join);
- out-of-order fraction: events whose ``ts`` is jittered backwards so that
  LSN order and event-time order disagree — the LWW-on-(ts, lsn) test;
- duplicate deliveries: a fraction of LSNs are emitted twice (at-least-once
  feed; exercises exactly-once/idempotence);
- delete/update mix;
- schema evolution: events with ``lsn >= evolution_lsn`` carry
  ``schema_ver=1`` and a JSON ``extra`` payload with the added column.

Reference analogue: the reference's ETL re-derives everything from a full
source snapshot each run (truncate-then-load, e.g.
etl/pypasar/omop/person.py:24-33); this generator produces the incremental
feed of the SAME logical content so the engine can prove MERGE-equivalence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["search", "browser", "python", "calculator", "none"]

# The change-event envelope (FIXTURES.md F2).
EVENT_COLUMNS = [
    "lsn",
    "op",
    "conv_id",
    "turn_idx",
    "role",
    "text",
    "tool",
    "ts",
    "schema_ver",
    "extra",
]


def _h(col, salt: str, seed: int):
    """Deterministic 64-bit hash of (col, salt, seed) — the only entropy source."""
    return F.xxhash64(col, F.lit(salt), F.lit(seed))


def change_events(
    spark: SparkSession,
    n_events: int,
    n_convs: int = 1000,
    max_turns: int = 32,
    seed: int = 42,
    hot_fraction: float = 0.2,
    n_hot: int = 3,
    delete_fraction: float = 0.08,
    insert_fraction: float = 0.50,
    out_of_order_fraction: float = 0.15,
    max_jitter_s: int = 3600,
    duplicate_fraction: float = 0.02,
    evolution_lsn: int | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """Build the change-event DataFrame. ``lsn`` is strictly monotone 0..n-1.

    Duplicate deliveries are extra rows with an already-used lsn (identical
    payload), appended after generation — total row count is therefore
    ``n_events * (1 + duplicate_fraction)`` approximately.
    """
    if n_partitions is None:
        n_partitions = max(spark.sparkContext.defaultParallelism, 8)
    df = spark.range(0, n_events, 1, n_partitions).withColumnRenamed("id", "lsn")

    h_conv = _h(F.col("lsn"), "conv", seed)
    h_route = F.pmod(_h(F.col("lsn"), "route", seed), F.lit(10_000))

    # Hot-key routing: hot_fraction of traffic → n_hot conversations.
    conv_idx = F.when(
        h_route < int(hot_fraction * 10_000), F.pmod(h_conv, F.lit(max(n_hot, 1)))
    ).otherwise(F.lit(n_hot) + F.pmod(h_conv, F.lit(max(n_convs - n_hot, 1))))
    df = df.withColumn("conv_id", F.format_string("conv-%08d", conv_idx))
    df = df.withColumn(
        "turn_idx", F.pmod(_h(F.col("lsn"), "turn", seed), F.lit(max_turns)).cast("int")
    )

    # Op mix: I / U / D by hash bucket.
    op_bucket = F.pmod(_h(F.col("lsn"), "op", seed), F.lit(10_000))
    ins_hi = int(insert_fraction * 10_000)
    del_hi = ins_hi + int(delete_fraction * 10_000)
    df = df.withColumn(
        "op",
        F.when(op_bucket < ins_hi, F.lit("I"))
        .when(op_bucket < del_hi, F.lit("D"))
        .otherwise(F.lit("U")),
    )

    # Event time: base + lsn seconds, with a deterministic backwards jitter
    # on out_of_order_fraction of events → (ts order) != (lsn order).
    jitter_gate = F.pmod(_h(F.col("lsn"), "ooo", seed), F.lit(10_000))
    jitter = F.when(
        jitter_gate < int(out_of_order_fraction * 10_000),
        F.pmod(_h(F.col("lsn"), "jit", seed), F.lit(max_jitter_s)),
    ).otherwise(F.lit(0))
    df = df.withColumn(
        "ts",
        F.to_timestamp(F.lit("2025-01-01 00:00:00"))
        + F.make_dt_interval(secs=(F.col("lsn") - jitter).cast("double")),
    )

    role_arr = F.array(*[F.lit(r) for r in ROLES])
    tool_arr = F.array(*[F.lit(t) for t in TOOLS])
    role = F.element_at(role_arr, (F.pmod(_h(F.col("lsn"), "role", seed), F.lit(len(ROLES))) + 1).cast("int"))
    df = df.withColumn("role", F.when(F.col("op") == "D", F.lit(None)).otherwise(role))
    tool = F.when(
        F.col("role") == "tool",
        F.element_at(tool_arr, (F.pmod(_h(F.col("lsn"), "tool", seed), F.lit(len(TOOLS))) + 1).cast("int")),
    ).otherwise(F.lit(None).cast("string"))
    df = df.withColumn("tool", tool)

    # Messy text (mixed case, stray whitespace, revision marker) so that
    # normalization is observable and the per-turn text-equality invariant
    # has teeth.
    pad = F.repeat(F.lit(" "), (F.pmod(_h(F.col("lsn"), "pad", seed), F.lit(4)) + 1).cast("int"))
    casey = F.when(
        F.pmod(_h(F.col("lsn"), "case", seed), F.lit(2)) == 0, F.lit("Reply")
    ).otherwise(F.lit("rePLY"))
    body = F.concat(
        pad,
        casey,
        F.lit(" from "),
        F.coalesce(F.col("role"), F.lit("?")),
        F.lit(" in "),
        F.col("conv_id"),
        F.lit("\tturn "),
        F.col("turn_idx").cast("string"),
        F.lit("  rev "),
        F.col("lsn").cast("string"),
        pad,
    )
    df = df.withColumn("text", F.when(F.col("op") == "D", F.lit(None)).otherwise(body))

    if evolution_lsn is not None:
        df = df.withColumn(
            "schema_ver", F.when(F.col("lsn") >= evolution_lsn, F.lit(1)).otherwise(F.lit(0))
        )
        df = df.withColumn(
            "extra",
            F.when(
                (F.col("schema_ver") >= 1) & (F.col("op") != "D"),
                F.to_json(
                    F.struct(
                        F.pmod(_h(F.col("lsn"), "sentiment", seed), F.lit(201))
                        .cast("int")
                        .alias("sentiment")
                    )
                ),
            ),
        )
    else:
        df = df.withColumn("schema_ver", F.lit(0)).withColumn(
            "extra", F.lit(None).cast("string")
        )

    df = df.select(*EVENT_COLUMNS)

    if duplicate_fraction > 0:
        dup_gate = F.pmod(_h(F.col("lsn"), "dup", seed), F.lit(10_000))
        dups = df.where(dup_gate < int(duplicate_fraction * 10_000))
        df = df.unionByName(dups)

    return df


def write_change_log(
    df: DataFrame, path: str, n_files: int = 16, order_by_lsn: bool = True
) -> None:
    """Persist the feed as an append-only parquet dir (the simulated WAL).

    Files are range-partitioned by lsn so that LSN-range replay chunks map
    to contiguous file sets (parquet min/max footer pruning on ``lsn`` —
    the scan-side analogue of the reference's LIMIT/OFFSET pages at
    etl/pypasar/omop/measurement.py:124-145, without the O(n^2) re-scan).
    """
    out = df.repartitionByRange(n_files, "lsn") if order_by_lsn else df.repartition(n_files)
    # snappy: a binlog/WAL is a write-rate-bound, short-lived stream —
    # encode speed beats compression ratio (zstd measured 2x slower here)
    out.write.mode("overwrite").option("compression", "snappy").parquet(path)
