"""Last-writer-wins reduction per key — the engine's core conflict rule.

Reference analogue: the prioritized-pick pattern ``ROW_NUMBER() OVER
(PARTITION BY biz_key ORDER BY priority) = 1`` used everywhere in the
reference (etl/pypasar/db/sql/postgres/person/stg__person.sql:26-40,
stg__visit_detail.sql:26-38, temp_drugmed_view.sql:16-20 — SURVEY.md W1/W2).

We deliberately do NOT use a window for the hot path. A window needs a
full sort of every key-group; an aggregate of ``max(struct(ts, lsn,
payload...))`` (max_by semantics via struct ordering) gets map-side
partial aggregation for free, so a conversation receiving 10^7 updates
collapses to one row per map task before the shuffle — the reduce side
sees at most (#map tasks) rows per key regardless of skew. That makes the
aggregate formulation *inherently* hot-key-tolerant (BENCH.md §1, 90% of
events on 3 keys), so no salted two-phase variant is needed.

Duplicate deliveries (same lsn twice from an at-least-once feed) need no
separate pass: identical (ts, lsn, payload) tuples are idempotent under
max().

Tie-breaking: the comparator is the struct prefix ``(ts, lsn)``; lsn is
globally unique, so ordering is total and the reduce is deterministic
under any event permutation (property-tested in tests/test_lww.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_KEY = ["conv_id", "turn_idx"]
DEFAULT_ORDER = ["ts", "lsn"]


def _packed(order: list[str], payload: list[str]):
    cols = [F.col(c).alias(f"_o_{i}") for i, c in enumerate(order)]
    cols += [F.col(c).alias(f"_p_{c}") for c in payload]
    return F.struct(*cols)


def _unpack(df: DataFrame, key: list[str], order: list[str], payload: list[str]) -> DataFrame:
    sel = [F.col(k) for k in key]
    sel += [F.col(f"_w._o_{i}").alias(c) for i, c in enumerate(order)]
    sel += [F.col(f"_w._p_{c}").alias(c) for c in payload]
    return df.select(*sel)


def lww_reduce(
    events: DataFrame,
    key: list[str] | None = None,
    order: list[str] | None = None,
    payload: list[str] | None = None,
    prefer_non_null: str | None = None,
) -> DataFrame:
    """One row per key: the event with the max ``order`` tuple.

    Single shuffle on ``key`` with map-side combine; no sort, no window.

    ``prefer_non_null`` names a payload column whose NON-NULLness takes
    precedence over the time order — the reference's W2 prioritized pick
    (stg__person.sql:26-32 orders by ``CASE WHEN g IS NOT NULL THEN 0
    ELSE 1 END`` before the timestamp). In CDC terms: an event carrying a
    real value beats a null-payload event even if the null one is newer.
    Implemented as a boolean prefix on the comparator struct, so it keeps
    the aggregate's map-side combine (no window, no sort).
    """
    key = key or DEFAULT_KEY
    order = order or DEFAULT_ORDER
    if payload is None:
        payload = [c for c in events.columns if c not in set(key) | set(order)]
    if prefer_non_null is not None:
        events = events.withColumn("_nn", F.col(prefer_non_null).isNotNull())
        order = ["_nn", *order]
    packed = events.groupBy(*key).agg(F.max(_packed(order, payload)).alias("_w"))
    out = _unpack(packed, key, order, payload)
    return out.drop("_nn") if prefer_non_null is not None else out


# NOTE: a HashAggregate variant (decimal-packed comparator + join-back to
# fetch payloads) was implemented and benchmarked head-to-head in round 2:
# at 8M events / 80k keys on local[32] it measured 2.8x SLOWER than the
# max(struct) SortAggregate (1.77s vs 4.94s best-of-3) — the join-back's
# second scan + extra shuffle cost far more than the map-side sort saves.
# Deleted rather than kept as a dead alternative path; see BENCH.md §4.


def lww_reduce_partial(
    events: DataFrame,
    key: list[str] | None = None,
    order: list[str] | None = None,
    payload: list[str] | None = None,
    op_col: str | None = None,
) -> DataFrame:
    """Per-COLUMN last-writer-wins — CDC patch semantics.

    Many change feeds send partial updates: an event carries only the
    columns it changes, the rest NULL (Debezium without full row images,
    sparse UPDATEs). Whole-row LWW would null out untouched columns; the
    patch rule is: each payload column independently resolves to its most
    recent NON-NULL value, while the row-level ``order`` columns report
    the overall latest event (the key's version).

    Still one aggregate with map-side combine — per column,
    ``max(CASE WHEN col IS NOT NULL THEN struct(order..., col) END)``
    (max_by over the non-null subset; NULLs sort below any struct, so no
    filter is needed) — which keeps the hot-key behavior of
    :func:`lww_reduce`: no window, no sort, partial aggregation per map
    task. Cost scales with #payload columns (one packed struct each), the
    same trade Debezium consumers make materializing patch streams.

    ``op_col`` names the I/U/D operation column and makes the rule
    DELETE-AWARE: a delete contributes an ``(order, NULL)`` candidate to
    EVERY column, so values set before the delete can never resurrect
    through a later partial update — the column restarts from NULL and
    only sets newer than the delete stick. (The column-version CRDT
    rule, still one associative aggregate.) Row liveness is separate:
    the caller filters on the whole-row winner's op, same as
    :func:`lww_reduce` pipelines do.
    """
    key = key or DEFAULT_KEY
    order = order or DEFAULT_ORDER
    if payload is None:
        payload = [
            c
            for c in events.columns
            if c not in set(key) | set(order) | ({op_col} if op_col else set())
        ]
    ostruct = F.struct(*[F.col(o) for o in order])
    aggs = [F.max(ostruct).alias("_latest")]
    if op_col is not None:
        aggs.append(
            F.max(F.struct(*[F.col(o) for o in order], F.col(op_col).alias("_v"))).alias(
                "_w_op"
            )
        )
    for c in payload:
        is_del = (
            F.col(op_col) == F.lit("D") if op_col is not None else F.lit(False)
        )
        candidate = F.col(c).isNotNull() | is_del
        value = F.when(is_del, F.lit(None).cast(events.schema[c].dataType)).otherwise(
            F.col(c)
        )
        aggs.append(
            F.max(
                F.when(
                    candidate,
                    F.struct(*[F.col(o) for o in order], value.alias("_v")),
                )
            ).alias(f"_w_{c}")
        )
    g = events.groupBy(*key).agg(*aggs)
    return g.select(
        *key,
        *[F.col(f"_latest.{o}").alias(o) for o in order],
        *([F.col("_w_op._v").alias(op_col)] if op_col is not None else []),
        *[F.col(f"_w_{c}._v").alias(c) for c in payload],
    )
