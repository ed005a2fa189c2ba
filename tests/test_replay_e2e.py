"""Golden end-to-end replay: engine final state == independent DuckDB oracle.

The oracle (FIXTURES.md F5) reduces the same change log with plain SQL:
per (conv_id, turn_idx) take the max-(ts, lsn) event, drop keys whose
winner is a delete, normalize text identically. Equivalence = both-ways
anti-join empty + per-turn text equality under stable (conv_id, turn_idx)
ordering — the upgraded version of the reference's row-count accounting
(etl/pypasar/db/utils/final_statistics.py:26-52).
"""

from __future__ import annotations

import duckdb
import pytest

from pasar_spark.cdc.merge import compact_buckets
from pasar_spark.cdc.runner import ReplayRunner
from pasar_spark.datagen import change_events, write_change_log

N_EVENTS = 20_000

ORACLE_SQL = """
WITH ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY conv_id, turn_idx ORDER BY ts DESC, lsn DESC) AS rn
  FROM events
)
SELECT conv_id, turn_idx, role,
       nfc_normalize(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS text,
       tool, ts, lsn
FROM ranked WHERE rn = 1 AND op <> 'D'
ORDER BY conv_id, turn_idx
"""


@pytest.fixture(scope="module", params=["mor", "compacted"])
def replayed(spark, tmp_path_factory, request):
    """``mor``: the replayed table as the runner left it, deltas still
    unresolved. ``compacted``: then every bucket resolved by a full
    compaction, so the golden check also covers a table whose state
    ``commit_merge`` rewrote."""
    root = tmp_path_factory.mktemp(f"e2e-{request.param}")
    log_path = str(root / "wal")
    events = change_events(spark, N_EVENTS, n_convs=300, seed=7)
    write_change_log(events, log_path, n_files=8)
    runner = ReplayRunner(spark, str(root / "table"), n_buckets=8, chunk_size=6_000)
    table = runner.replay(log_path)
    if request.param == "compacted":
        table, _ = compact_buckets(table, min_files=1, policy="full")
        assert table.manifest["unresolved"] == []
    return log_path, table


def _oracle(log_path):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{log_path}/*.parquet'")
    return con.execute(ORACLE_SQL).fetchall()


def test_final_state_equivalence(spark, replayed):
    log_path, table = replayed
    got = [
        (r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts, r.lsn)
        for r in table.read().orderBy("conv_id", "turn_idx").collect()
    ]
    want = _oracle(log_path)
    assert len(got) == len(want)
    assert got == want  # full-state equality incl. per-turn text invariant


def test_metrics_accounting(spark, replayed):
    log_path, table = replayed
    m = table.metrics
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{log_path}/*.parquet'")
    seen = con.execute("SELECT count(*) FROM events").fetchone()[0]
    assert m["events_seen"] == seen
    final_rows = table.read().count()
    # applied rows across batches ≥ final rows (updates overwrite) and
    # every chunk advanced the ledger
    assert m["applied"] >= final_rows
    assert table.last_lsn == N_EVENTS - 1


def test_bucket_pruning_reads_only_affected_files(spark, replayed):
    _, table = replayed
    all_files = sum(len(v) for v in table.manifest["buckets"].values())
    one = table.manifest["buckets"][next(iter(table.manifest["buckets"]))]
    assert 0 < len(one) < all_files  # per-bucket file isolation holds
