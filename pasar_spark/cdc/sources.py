"""Feed sources: where the change events come from.

The reference's actual source is a Postgres chunked cursor —
``pd.read_sql(..., chunksize=CHUNK_SIZE)`` at
etl/pypasar/omop/observation.py:55-65 / observation_utils/config.py:255,
and the LIMIT/OFFSET page loop at etl/pypasar/omop/measurement.py:124-145
(SURVEY.md S2/S3). This module is the engine's seam for that capability:
:class:`ReplayRunner` consumes any :class:`FeedSource`, so the same
checkpointed LSN-range replay tails

- a parquet WAL dir (:class:`ParquetDirSource` — footer-stat pruned, the
  simulated binlog used by tests and the bench),
- a live database (:class:`JdbcSource` — ``spark.read.format("jdbc")``
  with ``partitionColumn=lsn``, the S3 parity path: chunk predicates are
  pushed into the database and each chunk is itself a partitioned
  parallel read, never OFFSET pagination),
- or an already-built DataFrame (:class:`DataFrameSource`).

Contract: ``tip()`` returns the max LSN currently available (None for an
empty feed); ``chunk(lo, hi)`` returns the events with ``lsn`` in
``[lo, hi]``, or None when the source can prove the range is empty
without scanning (footer stats / DB index — the runner then skips the
range without scheduling a job); ``next_lsn(after)`` returns the
smallest LSN >= ``after`` the source may still hold (conservative:
``after`` itself when it cannot do better cheaply), or None when the
feed is exhausted past ``after``. Real WAL/binlog LSN spaces are SPARSE
(Postgres WAL positions are byte offsets; MySQL GTIDs skip), so the
replay loop uses ``next_lsn`` to jump gaps — iterations stay O(data
regions / chunk_size), never O(lsn_range / chunk_size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


#: the footer key Spark writes its own schema under; when present, Spark
#: infers a file's schema from it rather than from the parquet schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def lsn_file_stats(path: str) -> list[tuple[str, int, int, tuple]] | None:
    """Per-file (path, min_lsn, max_lsn, schema) from parquet footers.

    ``schema`` is what Spark's schema inference reads from a footer: the
    parquet schema and the Spark schema in the key-value metadata.
    Returns None when any file lacks lsn stats (callers fall back to a
    full-dir Spark scan). Zero-row-group files (Spark writes these for an
    empty dataset) are skipped, not fatal. O(#files) driver-side metadata
    reads.
    """
    import os

    import pyarrow.parquet as pq

    out = []
    try:
        names = [f for f in os.listdir(path) if f.endswith(".parquet")]
        if not names:
            return None
        for f in names:
            full = os.path.join(path, f)
            md = pq.ParquetFile(full).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            if "lsn" not in idx:
                return None
            f_min = f_max = None
            for rg in range(md.num_row_groups):
                stats = md.row_group(rg).column(idx["lsn"]).statistics
                if stats is None or not stats.has_min_max:
                    return None
                f_min = stats.min if f_min is None else min(f_min, stats.min)
                f_max = stats.max if f_max is None else max(f_max, stats.max)
            if f_min is None:
                continue  # zero row groups — contributes no lsn range
            schema = (md.schema, (md.metadata or {}).get(_SPARK_SCHEMA_KEY))
            out.append((full, int(f_min), int(f_max), schema))
    except (OSError, ValueError):
        # ValueError covers pyarrow.lib.ArrowInvalid (truncated/partial
        # file from a crashed writer) — fall back to the Spark scan
        return None
    return out


class FeedSource:
    """Abstract change-feed source for LSN-range replay."""

    def tip(self) -> int | None:
        raise NotImplementedError

    def chunk(self, lo: int, hi: int) -> DataFrame | None:
        raise NotImplementedError

    def next_lsn(self, after: int) -> int | None:
        """Smallest LSN >= ``after`` possibly present. The conservative
        default ("try ``after``") keeps custom sources correct; override
        where a gap jump is cheap (stats, index) so sparse LSN spaces
        don't degrade the replay loop."""
        return after


class DataFrameSource(FeedSource):
    """An already-built events DataFrame (tests, composition)."""

    def __init__(self, df: DataFrame):
        self.df = df

    def tip(self) -> int | None:
        row = self.df.agg(F.max("lsn").alias("m")).collect()[0]
        return None if row["m"] is None else int(row["m"])

    def chunk(self, lo: int, hi: int) -> DataFrame | None:
        return self.df.where((F.col("lsn") >= lo) & (F.col("lsn") <= hi))

    def next_lsn(self, after: int) -> int | None:
        # one tiny agg (min over a pushed-down range predicate) per jump
        # decision; trades a metadata-sized job for skipping whole empty
        # chunk windows' merge jobs
        row = (
            self.df.where(F.col("lsn") >= after)
            .agg(F.min("lsn").alias("m"))
            .collect()[0]
        )
        return None if row["m"] is None else int(row["m"])


class ParquetDirSource(FeedSource):
    """Append-only parquet WAL dir, range-partitioned by lsn.

    Footer min/max stats give the feed tip as a metadata read and let
    each chunk list ONLY its overlapping files — at 10^10 events a chunk
    would otherwise schedule one (empty) scan task per non-matching file.
    Stats are captured once per replay call (the WAL may grow later;
    construct a fresh source per replay, as the runner does).

    When every footer carries the same schema, the Spark schema is
    inferred once, by the first chunk, and later chunks read with it:
    Spark infers a multi-file read's schema from one footer (no
    ``mergeSchema``), so the result is the same, minus a footer job and
    its planning per window. Differing footers keep per-chunk inference.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._stats = lsn_file_stats(path)
        self._one_schema = bool(self._stats) and all(
            s == self._stats[0][3] for *_, s in self._stats
        )
        self._schema = None

    def tip(self) -> int | None:
        if self._stats:
            return max(hi for _, _, hi, _ in self._stats)
        row = (
            self.spark.read.parquet(self.path).agg(F.max("lsn").alias("m")).collect()[0]
        )
        return None if row["m"] is None else int(row["m"])

    def chunk(self, lo: int, hi: int) -> DataFrame | None:
        if self._stats is not None:
            overlapping = [
                p for p, f_lo, f_hi, _ in self._stats if f_hi >= lo and f_lo <= hi
            ]
            if not overlapping:
                return None  # provably empty range — skip without a job
            reader = self.spark.read
            if self._one_schema:
                if self._schema is None:
                    self._schema = reader.parquet(overlapping[0]).schema
                reader = reader.schema(self._schema)
            src = reader.parquet(*overlapping)
        else:
            src = self.spark.read.parquet(self.path)
        return src.where((F.col("lsn") >= lo) & (F.col("lsn") <= hi))

    def next_lsn(self, after: int) -> int | None:
        # pure driver-side metadata: the smallest point >= after covered
        # by any file's [min,max] lsn envelope (conservative — a file
        # overlapping `after` may lack that exact lsn, which only costs
        # one scheduled-then-empty window, never a missed event)
        if self._stats is None:
            return after  # no stats — fall back to "try it"
        cands = [max(f_lo, after) for _, f_lo, f_hi, _ in self._stats if f_hi >= after]
        return min(cands) if cands else None


class JdbcSource(FeedSource):
    """Database change feed via Spark's JDBC source (SURVEY.md S3).

    Replaces the reference's driver-side chunked cursor / OFFSET loop:
    the chunk predicate (``lsn BETWEEN lo AND hi``) is pushed into the
    database as the dbtable subquery, and ``partitionColumn=lsn`` with
    ``numPartitions`` splits each chunk into parallel range reads — the
    database does an index range scan per partition instead of a full
    re-scan per page (the O(n^2) OFFSET anti-pattern at
    measurement.py:205).
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        table: str,
        lsn_column: str = "lsn",
        num_partitions: int = 8,
        properties: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.url = url
        self.table = table
        self.lsn_column = lsn_column
        self.num_partitions = num_partitions
        self.properties = dict(properties or {})

    def _base_options(self) -> dict[str, str]:
        return {"url": self.url, **self.properties}

    def tip_query(self) -> str:
        return f"(SELECT max({self.lsn_column}) AS m FROM {self.table}) t"

    def next_query(self, after: int) -> str:
        """Gap probe: an index range-scan min, the same shape a logical
        replication client uses to find the next WAL position."""
        return (
            f"(SELECT min({self.lsn_column}) AS m FROM {self.table} "
            f"WHERE {self.lsn_column} >= {int(after)}) n"
        )

    def chunk_options(self, lo: int, hi: int) -> dict[str, str]:
        """The exact reader options a chunk read uses (unit-testable
        without a live database)."""
        return {
            **self._base_options(),
            "dbtable": (
                f"(SELECT * FROM {self.table} WHERE {self.lsn_column} "
                f"BETWEEN {int(lo)} AND {int(hi)}) c"
            ),
            "partitionColumn": self.lsn_column,
            "lowerBound": str(int(lo)),
            "upperBound": str(int(hi) + 1),
            "numPartitions": str(self.num_partitions),
        }

    def tip(self) -> int | None:
        row = (
            self.spark.read.format("jdbc")
            .options(**self._base_options(), dbtable=self.tip_query())
            .load()
            .collect()[0]
        )
        return None if row["m"] is None else int(row["m"])

    def chunk(self, lo: int, hi: int) -> DataFrame | None:
        return (
            self.spark.read.format("jdbc").options(**self.chunk_options(lo, hi)).load()
        )

    def next_lsn(self, after: int) -> int | None:
        row = (
            self.spark.read.format("jdbc")
            .options(**self._base_options(), dbtable=self.next_query(after))
            .load()
            .collect()[0]
        )
        return None if row["m"] is None else int(row["m"])


def as_source(spark: SparkSession, events) -> FeedSource:
    """Coerce the runner's ``events`` argument (path | DataFrame |
    FeedSource) to a FeedSource."""
    if isinstance(events, FeedSource):
        return events
    if isinstance(events, str):
        return ParquetDirSource(spark, events)
    if isinstance(events, DataFrame):
        return DataFrameSource(events)
    raise TypeError(f"cannot build a FeedSource from {type(events).__name__}")
