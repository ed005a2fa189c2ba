"""merge_eras with REAL interval inputs (end_col) — the drug_era branch.

The point-event path (end = start) is covered by the cdc_sessions /
cdc_eras oracle queries; these tests pin the overlapping-interval
semantics: overlap merging, gap-based splitting, containment (a short
interval inside the running max must not open a new era), and the
30-day persistence pad arithmetic of drug_era.sql:129.
"""

from __future__ import annotations

import datetime as dt
import math

from pasar_spark.operators.eras import merge_eras

DAY = 86400
SF_DIR = "/root/testdata/sf0.001"


def _norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def _ts(d: int, h: int = 0):
    return dt.datetime(2025, 1, 1) + dt.timedelta(days=d, hours=h)


def _eras(spark, rows, gap_days=30):
    df = spark.createDataFrame(rows, "pid string, s timestamp, e timestamp")
    out = merge_eras(df, ["pid"], "s", end_col="e", gap_seconds=gap_days * DAY)
    return sorted(
        (r.pid, r.era_start, r.era_end, r.n_events) for r in out.collect()
    )


def test_overlap_and_gap_split(spark):
    rows = [
        ("a", _ts(0), _ts(10)),    # era 1
        ("a", _ts(5), _ts(12)),    # overlaps -> same era
        ("a", _ts(40), _ts(41)),   # 12d end + 30d gap = 42d >= 40d start -> SAME era
        ("a", _ts(80), _ts(81)),   # 41+30=71 < 80 -> new era
    ]
    assert _eras(spark, rows) == [
        ("a", _ts(0), _ts(41), 3),
        ("a", _ts(80), _ts(81), 1),
    ]


def test_containment_does_not_split(spark):
    rows = [
        ("a", _ts(0), _ts(60)),    # long exposure
        ("a", _ts(5), _ts(6)),     # contained: running max stays 60
        ("a", _ts(95), _ts(96)),   # 60+30=90 < 95 -> new era
    ]
    assert _eras(spark, rows) == [
        ("a", _ts(0), _ts(60), 2),
        ("a", _ts(95), _ts(96), 1),
    ]


def test_gap_boundary_is_strict(spark):
    # start exactly AT prev_end + gap does NOT split (strict >)
    rows = [("a", _ts(0), _ts(1)), ("a", _ts(31), _ts(32))]
    assert _eras(spark, rows) == [("a", _ts(0), _ts(32), 2)]
    rows2 = [("a", _ts(0), _ts(1)), ("a", _ts(31, 1), _ts(32))]
    assert _eras(spark, rows2) == [
        ("a", _ts(0), _ts(1), 1),
        ("a", _ts(31, 1), _ts(32), 1),
    ]


def test_keys_are_independent(spark):
    rows = [
        ("a", _ts(0), _ts(1)),
        ("b", _ts(0), _ts(1)),
        ("b", _ts(100), _ts(101)),
    ]
    got = _eras(spark, rows)
    assert [g[0] for g in got] == ["a", "b", "b"]


def test_identical_intervals_merge_into_one_era(spark):
    # tied (start, end) pairs: however they order, neither opens an era
    rows = [("a", _ts(0), _ts(5)), ("a", _ts(0), _ts(5))]
    assert _eras(spark, rows) == [("a", _ts(0), _ts(5), 2)]


def test_duration_eras_matches_oracle_at_sf01(spark):
    """cdc_duration_eras against its DuckDB oracle at sf0.1, where orders
    tie on (start, end) within a person/ingredient: the oracle's two
    windows must break those ties the same way, or it splits one era
    into two overlapping ones."""
    import os

    import duckdb
    import pytest

    import pasar_spark.queries as q

    sf_dir = os.path.join(os.path.dirname(SF_DIR), "sf0.1")
    if not os.path.isdir(sf_dir):
        pytest.skip(f"no sf0.1 tables next to {SF_DIR}")
    sdf = q.queries()["cdc_duration_eras"](spark, sf_dir)
    con = duckdb.connect()
    for t in ("orders", "customer", "nation", "region"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    cur = con.execute(q.oracle_sql()["cdc_duration_eras"])
    dcols = [d[0] for d in cur.description]
    assert _norm_rows(sdf.columns, [tuple(r) for r in sdf.collect()]) == _norm_rows(
        dcols, cur.fetchall()
    )
