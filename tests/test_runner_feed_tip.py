"""Feed-tip discovery: footer-stats fast path vs Spark-scan fallback."""

from pyspark.sql import functions as F

from pasar_spark.cdc.runner import ReplayRunner
from pasar_spark.cdc.sources import ParquetDirSource, lsn_file_stats
from pasar_spark.datagen import change_events, write_change_log


def test_footer_stats_match_scan(spark, tmp_path):
    wal = str(tmp_path / "wal")
    write_change_log(change_events(spark, 5_000, n_convs=50, seed=11), wal, n_files=4)
    assert lsn_file_stats(wal) is not None  # tip comes from the footers
    from_footers = ParquetDirSource(spark, wal).tip()
    from_scan = spark.read.parquet(wal).agg(F.max("lsn")).collect()[0][0]
    assert from_footers == from_scan == 4_999


def test_footer_helper_degrades_to_none(tmp_path):
    # missing dir / no parquet files -> None (caller falls back to a scan)
    assert lsn_file_stats(str(tmp_path / "nope")) is None
    empty = tmp_path / "empty"
    empty.mkdir()
    assert lsn_file_stats(str(empty)) is None


def test_dataframe_feed_still_works(spark, tmp_path):
    # a DataFrame feed (no path) must use the scan path
    wal = str(tmp_path / "wal")
    write_change_log(change_events(spark, 4_000, n_convs=50, seed=12), wal, n_files=2)
    df = spark.read.parquet(wal)
    t = ReplayRunner(spark, str(tmp_path / "tbl"), n_buckets=4, chunk_size=1_000).replay(df)
    assert t.last_lsn == 3_999
