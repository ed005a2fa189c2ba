"""Property-based LWW verification (hypothesis): for ARBITRARY small event
logs, the engine's aggregate reduce must equal an independent pure-Python
reference reducer — including duplicate lsns (at-least-once), timestamp
ties, null payloads, and the prefer-non-null conflict rule.

This generalizes the fixed-example tests in test_lww.py: hypothesis
explores adversarial interleavings (all events on one key, all ties,
null-only keys) that hand-written cases miss.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pasar_spark.cdc.lww import lww_reduce

BASE = dt.datetime(2025, 1, 1)

# (key, ts_offset_s, op, text) — lsn assigned by position (unique),
# then a duplicate-delivery suffix re-appends a prefix of the log.
event = st.tuples(
    st.integers(0, 3),                      # key (few keys -> dense conflicts)
    st.integers(0, 5),                      # ts offset (ties are likely)
    st.sampled_from(["I", "U", "D"]),
    st.one_of(st.none(), st.text(alphabet="ab", max_size=2)),
)
logs = st.lists(event, min_size=1, max_size=30)

SCHEMA = "conv_id int, ts timestamp, op string, text string, lsn bigint"


def _rows(data, dup_prefix):
    rows = [
        (k, BASE + dt.timedelta(seconds=off), op, txt, i)
        for i, (k, off, op, txt) in enumerate(data)
    ]
    return rows + rows[:dup_prefix]  # duplicate deliveries (same lsn, same payload)


def _reference(rows, prefer_non_null=False):
    best = {}
    for k, ts, op, txt, lsn in rows:
        rank = ((txt is not None,) if prefer_non_null else ()) + (ts, lsn)
        if k not in best or rank > best[k][0]:
            best[k] = (rank, (ts, op, txt, lsn))
    return {k: v[1] for k, v in best.items()}


def _engine(spark, rows, **kw):
    df = spark.createDataFrame(rows, SCHEMA)
    out = lww_reduce(df, key=["conv_id"], order=["ts", "lsn"], **kw)
    return {r.conv_id: (r.ts, r.op, r.text, r.lsn) for r in out.collect()}


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(data=logs, dup=st.integers(0, 5))
def test_lww_equals_reference(spark, data, dup):
    rows = _rows(data, min(dup, len(data)))
    assert _engine(spark, rows) == _reference(rows)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(data=logs, dup=st.integers(0, 5))
def test_prefer_non_null_equals_reference(spark, data, dup):
    rows = _rows(data, min(dup, len(data)))
    got = _engine(spark, rows, prefer_non_null="text")
    assert got == _reference(rows, prefer_non_null=True)
