"""FeedSource seam: the replay loop must consume any source unchanged.

The sandbox has no database, so the JDBC path is proven at the seam: the
reader options a chunk read issues (pushdown subquery + partitioned range
read, never OFFSET) are unit-checked, and a fake in-memory source proves
the runner is source-agnostic — identical final state to the parquet-dir
path, including resume and provably-empty-range skipping.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pasar_spark.cdc.runner import ReplayRunner
from pasar_spark.cdc.sources import (
    DataFrameSource,
    FeedSource,
    JdbcSource,
    ParquetDirSource,
    as_source,
)
from pasar_spark.datagen import change_events, write_change_log


class FakeSource(FeedSource):
    """In-memory source with a gap, tracking which ranges were asked."""

    def __init__(self, df, gap=None):
        self.df = df
        self.gap = gap  # (lo, hi) range this source proves empty
        self.chunks_asked = []

    def tip(self):
        row = self.df.agg(F.max("lsn").alias("m")).collect()[0]
        return None if row["m"] is None else int(row["m"])

    def chunk(self, lo, hi):
        self.chunks_asked.append((lo, hi))
        if self.gap and lo >= self.gap[0] and hi <= self.gap[1]:
            return None
        return self.df.where((F.col("lsn") >= lo) & (F.col("lsn") <= hi))


def _state(table):
    return sorted(
        tuple(r)
        for r in table.read().select("conv_id", "turn_idx", "text", "ts", "lsn").collect()
    )


def test_runner_is_source_agnostic(spark, tmp_path):
    wal = str(tmp_path / "wal")
    ev = change_events(spark, 3_000, n_convs=50, seed=21)
    write_change_log(ev, wal, n_files=4)

    via_path = ReplayRunner(spark, str(tmp_path / "t1"), n_buckets=4, chunk_size=1_000).replay(wal)
    via_df = ReplayRunner(spark, str(tmp_path / "t2"), n_buckets=4, chunk_size=1_000).replay(
        spark.read.parquet(wal)
    )
    fake = FakeSource(spark.read.parquet(wal))
    via_fake = ReplayRunner(spark, str(tmp_path / "t3"), n_buckets=4, chunk_size=1_000).replay(fake)

    assert _state(via_path) == _state(via_df) == _state(via_fake)
    assert fake.chunks_asked == [(0, 999), (1000, 1999), (2000, 2999)]


def test_provably_empty_chunk_skipped_without_merge(spark, tmp_path):
    """A source returning None for a range must advance the loop without
    a merge commit, and resume must re-offer the skipped range."""
    ev = change_events(spark, 3_000, n_convs=50, seed=22)
    fake = FakeSource(ev.where("lsn < 1000 or lsn >= 2000"), gap=(1000, 1999))
    table = ReplayRunner(spark, str(tmp_path / "t"), n_buckets=4, chunk_size=1_000).replay(fake)
    batch_ids = set(table.manifest["ledger"]["batch_ids"])
    assert "lsn-0-999" in batch_ids and "lsn-2000-2999" in batch_ids
    assert "lsn-1000-1999" not in batch_ids
    # checkpoint advanced to the tip, so a re-replay is a no-op
    v = table.version
    t2 = ReplayRunner(spark, str(tmp_path / "t"), n_buckets=4, chunk_size=1_000).replay(fake)
    assert t2.version == v


def test_parquet_dir_source_prunes_files(spark, tmp_path):
    wal = str(tmp_path / "wal")
    write_change_log(change_events(spark, 4_000, n_convs=50, seed=23), wal, n_files=8)
    src = ParquetDirSource(spark, wal)
    assert src.tip() == 3_999
    assert src._stats is not None
    # a range covered by no file is proven empty without a Spark job
    assert src.chunk(10_000, 10_999) is None
    got = src.chunk(0, 499)
    assert got is not None and got.count() > 0


def test_as_source_coercion(spark, tmp_path):
    wal = str(tmp_path / "wal")
    write_change_log(change_events(spark, 100, n_convs=5, seed=24), wal, n_files=1)
    assert isinstance(as_source(spark, wal), ParquetDirSource)
    assert isinstance(as_source(spark, spark.read.parquet(wal)), DataFrameSource)
    fake = FakeSource(spark.read.parquet(wal))
    assert as_source(spark, fake) is fake
    with pytest.raises(TypeError):
        as_source(spark, 42)


def test_chunk_predicate_reaches_parquet_scan(spark, tmp_path):
    """The LSN-range predicate must be PUSHED into the parquet scan
    (row-group stats pruning), not evaluated post-scan — at 10^10 events
    the difference is reading one chunk vs reading the table."""
    wal = str(tmp_path / "wal")
    write_change_log(change_events(spark, 2_000, n_convs=20, seed=25), wal, n_files=4)
    chunk = ParquetDirSource(spark, wal).chunk(500, 999)
    plan = chunk._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "GreaterThanOrEqual(lsn,500)" in pushed
    assert "LessThanOrEqual(lsn,999)" in pushed


def test_jdbc_source_chunk_options(spark):
    """S3 parity seam: chunk reads are pushdown subqueries with
    partitioned range scans — no OFFSET anywhere."""
    src = JdbcSource(
        spark,
        url="jdbc:postgresql://db:5432/feed",
        table="wal.events",
        num_partitions=16,
        properties={"user": "replicator"},
    )
    opts = src.chunk_options(5_000, 9_999)
    assert opts["dbtable"] == "(SELECT * FROM wal.events WHERE lsn BETWEEN 5000 AND 9999) c"
    assert opts["partitionColumn"] == "lsn"
    assert (opts["lowerBound"], opts["upperBound"]) == ("5000", "10000")
    assert opts["numPartitions"] == "16"
    assert opts["user"] == "replicator"
    assert "OFFSET" not in opts["dbtable"].upper()
    assert src.tip_query() == "(SELECT max(lsn) AS m FROM wal.events) t"


def _replay_row(spark, path, src):
    t = ReplayRunner(spark, path, n_buckets=4, chunk_size=500).replay(src)
    return [t.last_lsn], t.read()


def _replay_patch(spark, path, src):
    from pasar_spark.cdc.patch import PatchReplayRunner

    runner = PatchReplayRunner(spark, path, n_buckets=4, chunk_size=500)
    t = runner.replay(src)
    return [t.last_lsn], runner.read(t)


def _replay_router(spark, path, src):
    from pasar_spark.cdc.router import MultiTableReplayRunner

    tables = MultiTableReplayRunner(
        spark, path, ["even", "odd"],
        route_by="CASE WHEN turn_idx % 2 = 0 THEN 'even' ELSE 'odd' END",
        n_buckets=4, chunk_size=500,
    ).replay(src)
    cols = ["conv_id", "turn_idx", "lsn"]
    live = tables["even"].read().select(cols).unionByName(
        tables["odd"].read().select(cols)
    )
    return [t.last_lsn for t in tables.values()], live


@pytest.mark.parametrize(
    "replay",
    [_replay_row, _replay_patch, _replay_router],
    ids=["row", "patch", "router"],
)
def test_sparse_lsn_space_jumps_gaps(spark, tmp_path, replay):
    """Real WAL positions are sparse (byte offsets, GTID gaps). The
    replay loop must stay O(data regions), never walking empty chunk
    windows one by one: a feed with events at lsn ~[0,1k) and one event
    at lsn=10M must NOT schedule ~10M/chunk_size merge jobs — in every
    ingest mode, since they share one window loop."""
    ev = change_events(spark, 1_000, n_convs=20, seed=77)
    far = (
        ev.orderBy("lsn")
        .limit(1)  # deterministic pick: the feed is re-evaluated per action
        .withColumn("lsn", F.lit(10_000_000).cast("bigint"))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 365 DAYS"))
    )
    feed = ev.unionByName(far)

    class CountingSource(DataFrameSource):
        def __init__(self, df):
            super().__init__(df)
            self.chunks_asked = []

        def chunk(self, lo, hi):
            self.chunks_asked.append((lo, hi))
            # fail fast instead of walking the 10M-lsn gap window by window
            assert len(self.chunks_asked) <= 10, self.chunks_asked
            return super().chunk(lo, hi)

    src = CountingSource(feed)
    last_lsns, live = replay(spark, str(tmp_path / "t"), src)
    # 2 dense windows + 1 empty window that evidences the gap + 1 far window
    assert len(src.chunks_asked) <= 5, src.chunks_asked
    assert all(lsn >= 10_000_000 for lsn in last_lsns)
    assert live.where("lsn = 10000000").count() == 1
    # live rows = LWW winners that are not deletes
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id", "turn_idx").orderBy(F.desc("ts"), F.desc("lsn"))
    expected_live = (
        feed.withColumn("rn", F.row_number().over(w))
        .where("rn = 1 AND op <> 'D'")
        .count()
    )
    assert live.count() == expected_live


def test_parquet_source_next_lsn_from_stats(spark, tmp_path):
    wal = str(tmp_path / "wal")
    write_change_log(change_events(spark, 2_000, n_convs=30, seed=78), wal, n_files=4)
    src = ParquetDirSource(spark, wal)
    assert src.next_lsn(0) == 0
    assert src.next_lsn(1_999) == 1_999
    assert src.next_lsn(2_000) is None  # exhausted: no file reaches past tip
    # inside a file's envelope the conservative answer is `after` itself
    assert src.next_lsn(500) == 500


def test_jdbc_source_next_query_is_indexed_min(spark):
    src = JdbcSource(spark, url="jdbc:postgresql://db:5432/feed", table="wal.events")
    q = src.next_query(12345)
    assert q == "(SELECT min(lsn) AS m FROM wal.events WHERE lsn >= 12345) n"
    assert "OFFSET" not in q.upper()
