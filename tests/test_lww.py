"""LWW reduce: unit + permutation/duplication properties."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from pasar_spark.cdc.lww import lww_reduce

SCHEMA = "lsn bigint, op string, conv_id string, turn_idx int, text string, ts timestamp"


def _ts(s):
    return dt.datetime.fromisoformat(s)


ROWS = [
    # key (a,0): lsn 1 has LATER ts than lsn 2 → ts wins (out-of-order case)
    (1, "I", "a", 0, "v1", _ts("2025-01-01 00:10:00")),
    (2, "U", "a", 0, "v2", _ts("2025-01-01 00:05:00")),
    # key (a,1): same ts → lsn breaks the tie
    (3, "I", "a", 1, "w1", _ts("2025-01-01 00:00:00")),
    (4, "U", "a", 1, "w2", _ts("2025-01-01 00:00:00")),
    # key (b,0): delete wins
    (5, "I", "b", 0, "x1", _ts("2025-01-01 00:00:00")),
    (6, "D", "b", 0, None, _ts("2025-01-01 00:20:00")),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _winners(df):
    out = lww_reduce(df, key=["conv_id", "turn_idx"], order=["ts", "lsn"])
    return {(r.conv_id, r.turn_idx): (r.lsn, r.op, r.text) for r in out.collect()}


def test_lww_picks_max_ts_then_lsn(spark):
    w = _winners(_df(spark, ROWS))
    assert w[("a", 0)] == (1, "I", "v1")  # later ts beats later lsn
    assert w[("a", 1)] == (4, "U", "w2")  # ts tie → max lsn
    assert w[("b", 0)][1] == "D"


def test_lww_permutation_invariant(spark):
    base = _winners(_df(spark, ROWS))
    shuffled = _winners(_df(spark, list(reversed(ROWS))))
    assert base == shuffled


def test_lww_duplicate_delivery_idempotent(spark):
    dup = _winners(_df(spark, ROWS + ROWS))  # at-least-once feed
    assert dup == _winners(_df(spark, ROWS))


def test_prefer_non_null_beats_newer_null(spark):
    """W2 prioritized pick: a NON-NULL payload wins over a newer null
    payload; among non-null candidates, normal (ts, lsn) order applies;
    all-null keys still resolve by (ts, lsn)."""
    rows = [
        # key (a,0): newest event (lsn 3) has null text → non-null lsn 2 wins
        (1, "U", "a", 0, "old", _ts("2025-01-01 00:00:00")),
        (2, "U", "a", 0, "new", _ts("2025-01-01 00:05:00")),
        (3, "U", "a", 0, None, _ts("2025-01-01 00:10:00")),
        # key (a,1): everything null → plain LWW picks max (ts, lsn)
        (4, "U", "a", 1, None, _ts("2025-01-01 00:00:00")),
        (5, "U", "a", 1, None, _ts("2025-01-01 00:01:00")),
    ]
    df = _df(spark, rows)
    out = lww_reduce(
        df, key=["conv_id", "turn_idx"], order=["ts", "lsn"], prefer_non_null="text"
    )
    got = {(r.conv_id, r.turn_idx): (r.lsn, r.text) for r in out.collect()}
    assert got == {("a", 0): (2, "new"), ("a", 1): (5, None)}
    assert "_nn" not in out.columns
    # permutation invariance holds for the extended comparator too
    out2 = lww_reduce(
        _df(spark, list(reversed(rows))),
        key=["conv_id", "turn_idx"], order=["ts", "lsn"], prefer_non_null="text",
    )
    assert {(r.conv_id, r.turn_idx): (r.lsn, r.text) for r in out2.collect()} == got
    # still the map-side-combinable aggregate — no window crept in
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan and "Window" not in plan


def test_lww_plan_has_mapside_combine_single_shuffle(spark):
    """The hot-path reduce must be a two-phase aggregate (partial_max
    map-side, final after ONE shuffle) — that's the skew story: a hot key
    collapses to one row per map task before it ever crosses the wire.
    A window/row_number formulation would shuffle ALL events of a key to
    one task; assert we never regress to that."""
    df = _df(spark, ROWS)
    plan = lww_reduce(df)._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan
    assert plan.count("Exchange") == 1
    assert "Window" not in plan


def test_partial_updates_per_column_winners(spark):
    """CDC patch semantics: each column takes its latest NON-NULL value;
    (ts, lsn) report the key's overall latest event."""
    from pasar_spark.cdc.lww import lww_reduce_partial

    rows = [
        # key (a,0): text set at lsn 1, patched at lsn 3; lsn 4 touches
        # nothing (both payload cols null) but IS the latest version
        (1, "U", "a", 0, "first", _ts("2025-01-01 00:00:00")),
        (3, "U", "a", 0, "patched", _ts("2025-01-01 00:10:00")),
        (4, "U", "a", 0, None, _ts("2025-01-01 00:20:00")),
        # key (a,1): never received a text -> stays null
        (5, "U", "a", 1, None, _ts("2025-01-01 00:00:00")),
        # key (b,0): out-of-order patch (older ts arrives later in feed
        # order) must NOT override the newer value
        (7, "U", "b", 0, "newer", _ts("2025-01-01 00:30:00")),
        (6, "U", "b", 0, "older", _ts("2025-01-01 00:05:00")),
    ]
    df = _df(spark, rows)
    out = lww_reduce_partial(
        df, key=["conv_id", "turn_idx"], order=["ts", "lsn"], payload=["text"]
    )
    got = {(r.conv_id, r.turn_idx): (r.lsn, r.text) for r in out.collect()}
    assert got == {
        ("a", 0): (4, "patched"),  # latest version lsn=4, text from lsn=3
        ("a", 1): (5, None),
        ("b", 0): (7, "newer"),
    }


def test_partial_equals_bruteforce_window(spark):
    """Property: per-column winners == last non-null value per column in
    a window scan, on a generated feed with injected nulls."""
    from pyspark.sql import Window

    from pasar_spark.cdc.lww import lww_reduce_partial
    from pasar_spark.datagen import change_events

    ev = (
        change_events(spark, 3_000, n_convs=40, seed=91)
        .withColumn(
            "text", F.when(F.col("lsn") % 3 == 0, F.lit(None)).otherwise(F.col("text"))
        )
        .select("conv_id", "turn_idx", "ts", "lsn", "text")
    )
    got = lww_reduce_partial(
        ev, key=["conv_id", "turn_idx"], order=["ts", "lsn"], payload=["text"]
    )
    w = Window.partitionBy("conv_id", "turn_idx").orderBy(F.desc("ts"), F.desc("lsn"))
    brute = (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "last_text",
            F.first("text", ignorenulls=True).over(
                w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
            ),
        )
        .where("rn = 1")
        .select("conv_id", "turn_idx", "ts", "lsn", F.col("last_text").alias("text"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, brute.collect()))


def test_partial_reduce_is_map_side_combined(spark):
    from pasar_spark.cdc.lww import lww_reduce_partial

    df = _df(spark, ROWS)
    plan = (
        lww_reduce_partial(df, key=["conv_id", "turn_idx"], order=["ts", "lsn"])
        ._jdf.queryExecution()
        .sparkPlan()
        .toString()
    )
    assert "partial_max" in plan and "Window" not in plan


def test_partial_updates_delete_resets_columns(spark):
    """Delete-aware patch rule: a delete resets every column, so values
    set BEFORE the delete cannot resurrect through a later partial
    update; sets newer than the delete stick."""
    from pasar_spark.cdc.lww import lww_reduce_partial

    rows = [
        # key (a,0): text set, then delete, then a patch touching nothing
        # -> text must stay NULL (no resurrection of 'early')
        (1, "U", "a", 0, "early", _ts("2025-01-01 00:00:00")),
        (2, "D", "a", 0, None, _ts("2025-01-01 00:10:00")),
        (3, "U", "a", 0, None, _ts("2025-01-01 00:20:00")),
        # key (b,0): delete, then a patch that DOES set text -> sticks
        (4, "U", "b", 0, "gone", _ts("2025-01-01 00:00:00")),
        (5, "D", "b", 0, None, _ts("2025-01-01 00:10:00")),
        (6, "U", "b", 0, "fresh", _ts("2025-01-01 00:20:00")),
        # key (c,0): delete is the latest event -> row-level winner is D
        (7, "U", "c", 0, "alive", _ts("2025-01-01 00:00:00")),
        (8, "D", "c", 0, None, _ts("2025-01-01 00:30:00")),
    ]
    df = _df(spark, rows)
    out = lww_reduce_partial(
        df, key=["conv_id", "turn_idx"], order=["ts", "lsn"],
        payload=["text"], op_col="op",
    )
    got = {(r.conv_id, r.turn_idx): (r.lsn, r.op, r.text) for r in out.collect()}
    assert got == {
        ("a", 0): (3, "U", None),     # delete reset; later patch set nothing
        ("b", 0): (6, "U", "fresh"),  # post-delete set sticks
        ("c", 0): (8, "D", None),     # row-level winner is the delete
    }
