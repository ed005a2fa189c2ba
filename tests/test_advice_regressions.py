"""Regression tests for round-1 review findings (ADVICE.md round 2).

1. Replay over an EMPTY WAL dir (Spark writes zero-row-group parquet
   files for an empty dataset) must return bootstrap(), not crash in
   the footer-stat reader.
2. A payload column added via the 'extra' JSON and later RENAMED must
   still ingest pre-rename events (coalesce over the reverse-alias
   chain) — otherwise all history before the rename silently becomes
   NULL under LWW replay.
3. compact_buckets(min_files=0) over buckets whose manifest entries
   pre-date the 'kind' field (all default to 'base', so no deltas)
   must be a no-op, not an AttributeError.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pasar_spark.cdc.merge import compact_buckets
from pasar_spark.cdc.runner import ReplayRunner
from pasar_spark.cdc.schema_evolution import EvolutionPlan, promote_extra
from pasar_spark.cdc.sources import lsn_file_stats
from pasar_spark.datagen import change_events, write_change_log


def test_replay_empty_wal_returns_bootstrap(spark, tmp_path):
    wal = str(tmp_path / "wal")
    empty = change_events(spark, 10, n_convs=4, seed=1).where(F.lit(False))
    empty.coalesce(1).write.parquet(wal)
    # the footer reader must skip zero-row-group files instead of int(None)
    stats = lsn_file_stats(wal)
    assert stats in (None, [])
    runner = ReplayRunner(spark, str(tmp_path / "t"), n_buckets=2, chunk_size=100)
    table = runner.replay(wal)
    assert table.read().count() == 0


def test_replay_mixed_empty_and_real_wal_files(spark, tmp_path):
    """Zero-row-group files interleaved with real ones: skipped, not fatal,
    and the real files still replay."""
    wal = str(tmp_path / "wal")
    ev = change_events(spark, 500, n_convs=10, seed=2)
    write_change_log(ev, wal, n_files=2)
    ev.where(F.lit(False)).coalesce(1).write.mode("append").parquet(wal)
    stats = lsn_file_stats(wal)
    assert stats is not None and len(stats) >= 2  # empty file skipped
    table = ReplayRunner(spark, str(tmp_path / "t"), n_buckets=2, chunk_size=250).replay(wal)
    assert table.read().count() > 0


def test_promote_extra_coalesces_renamed_json_field(spark, tmp_path):
    """add 'sentiment' at feed v1, rename to 'mood' at v2: events written
    under BOTH names must ingest a non-null value."""
    runner = ReplayRunner(spark, str(tmp_path / "t"), n_buckets=2)
    table = runner.bootstrap()
    plan = EvolutionPlan(
        steps={1: [("add", "sentiment", "int")], 2: [("rename", "sentiment", "mood")]}
    )
    table = plan.apply_up_to(table, 2)
    assert table.manifest["feed_aliases"] == {"sentiment": "mood"}

    events = spark.createDataFrame(
        [
            (1, "U", "c-1", 0, '{"sentiment": 7}'),   # pre-rename envelope
            (2, "U", "c-1", 1, '{"mood": 9}'),        # post-rename envelope
            (3, "U", "c-1", 2, None),                  # no payload at all
        ],
        "lsn long, op string, conv_id string, turn_idx int, extra string",
    )
    out = promote_extra(events, table)
    got = {r.lsn: r.mood for r in out.select("lsn", "mood").collect()}
    assert got == {1: 7, 2: 9, 3: None}


def test_cache_root_invalidates_on_feed_definition_change(monkeypatch):
    """r2 ADVICE #7: the cached query fixtures must key on the CONTENT of
    the feed mapping, not just sf_dir — editing _as_change_feed (or any
    build parameter) must mint a different cache dir so a stale table can
    never serve the oracle."""
    import pasar_spark.queries as q

    p1 = q._cache_root("demo", "/root/testdata/sf0.001", 16)
    assert q._cache_root("demo", "/root/testdata/sf0.001", 16) == p1  # stable
    assert q._cache_root("demo", "/root/testdata/sf0.001", 32) != p1  # params

    def other_feed(ev):
        return ev  # pragma: no cover - source text only

    monkeypatch.setattr(q, "_as_change_feed", other_feed)
    assert q._cache_root("demo", "/root/testdata/sf0.001", 16) != p1  # feed def


def test_compact_explicit_bucket_without_kind_field(spark, tmp_path):
    wal = str(tmp_path / "wal")
    write_change_log(change_events(spark, 400, n_convs=8, seed=3), wal, n_files=2)
    runner = ReplayRunner(
        spark, str(tmp_path / "t"), n_buckets=2, chunk_size=200,
        compact_min_files=100,  # keep deltas unfolded
    )
    table = runner.replay(wal)
    assert table.manifest.get("unresolved")
    # simulate a manifest written before the 'kind' field existed
    for b in table.manifest["unresolved"]:
        for e in table.manifest["buckets"][b]:
            e.pop("kind", None)
        assert table.bucket_entries(b, kind="delta") == []
    t2, metrics = compact_buckets(table, min_files=0)  # must not raise
    assert metrics == {"compacted_buckets": 0, "minor_compacted_buckets": 0}
    assert t2.version == table.version
