"""Parquet bloom filters on the bucketing key.

The manifest min/max tier (test_stats_pruning) is inert on uniformly
random keys: every file's [min, max] spans the key space. A parquet
bloom filter answers "is this exact key in this row group" regardless of
distribution, and is built JVM-side by parquet-java 1.16 inside the
writer tasks (write_files options). Only Spark-side readers consume it,
when a key equality is pushed into a Spark parquet scan. read_key reads
its candidate files on the driver with pyarrow 16.1, which prunes by
manifest stats and row-group min/max but does not read blooms, so on
these uniform-key files a lookup reads every row group of the bucket
(3 x 3.5 MB; on 4 vCPUs 0.27-0.31 s with the Spark scan and its blooms,
0.20-0.26 s on the driver).
These tests prove the filter is physically present in every delta
file's footer, that its membership semantics are right (present key
found, absent key rejected — the property row-group skipping relies on),
and that lookups stay exact where min/max cannot prune.

Reference parity: pasar's Postgres target gets this from the btree
primary-key index (reference: pasar/db/schema.sql); a lakehouse has no
index, so exact-key file/row-group skipping comes from blooms.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pasar_spark.cdc.runner import BASE_COLUMNS, KEY
from pasar_spark.lake.table import LakeTable

from test_stats_pruning import T0


N_CONVS = 50_000  # see _uniform_chunk


def _uniform_chunk(spark, chunk_no: int):
    # Every chunk spans the SAME key range: min/max stats cannot tell the
    # files apart, so only the bloom can prune. Cardinality matters:
    # parquet-java only materializes a bloom once the column chunk falls
    # out of full dictionary encoding (a complete dictionary is already
    # an exact row-group filter, so a bloom would be redundant bytes —
    # correct behavior, relied on below). 50k distinct 26-byte ids
    # overflow the 1 MiB dictionary page exactly as real conversation-id
    # cardinality does at production file sizes.
    return (
        spark.range(N_CONVS * 2)
        .select(
            F.concat(
                F.lit("conv-"),
                F.lpad((F.col("id") % N_CONVS).cast("string"), 8, "0"),
                F.lit("-"),
                F.sha2((F.col("id") % N_CONVS).cast("string"), 256).substr(1, 12),
            ).alias("conv_id"),
            (chunk_no * 10 + (F.col("id") >= N_CONVS).cast("int")).alias("turn_idx"),
            F.lit("user").alias("role"),
            F.concat(F.lit(f"text c{chunk_no} j"), F.col("id").cast("string")).alias(
                "text"
            ),
            F.lit(None).cast("string").alias("tool"),
            (
                F.lit(T0) + F.make_interval(secs=chunk_no * 1000 + F.col("id"))
            ).alias("ts"),
            (chunk_no * 1_000_000 + F.col("id")).alias("lsn"),
            F.lit(False).alias("_tombstone"),
        )
    )


def _conv(j: int) -> str:
    import hashlib

    return f"conv-{j:08d}-" + hashlib.sha256(str(j).encode()).hexdigest()[:12]


def _data_files(table):
    return [
        os.path.join(table.path, e["path"])
        for es in table.manifest["buckets"].values()
        for e in es
    ]


def _footer_blooms(spark, path: str) -> dict[str, int]:
    """column dot-path -> bloom_filter_offset (-1 = none) for row group 0."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    inf = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(path), conf
    )
    rdr = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
    try:
        rg = rdr.getFooter().getBlocks().get(0)
        cols = rg.getColumns()
        return {
            cols.get(i).getPath().toDotString(): cols.get(i).getBloomFilterOffset()
            for i in range(cols.size())
        }
    finally:
        rdr.close()


def _bloom_contains(spark, path: str, phys_col: str, value: str) -> bool:
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    inf = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(path), conf
    )
    rdr = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
    try:
        rg = rdr.getFooter().getBlocks().get(0)
        cols = rg.getColumns()
        col = next(
            cols.get(i)
            for i in range(cols.size())
            if cols.get(i).getPath().toDotString() == phys_col
        )
        bf = rdr.getBloomFilterDataReader(rg).readBloomFilter(col)
        h = bf.hash(jvm.org.apache.parquet.io.api.Binary.fromString(value))
        return bool(bf.findHash(h))
    finally:
        rdr.close()


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bloompruning") / "tbl")
    t = LakeTable.create(
        spark, path, columns=BASE_COLUMNS, key=KEY, n_buckets=1, bucket_by="conv_id"
    )
    for i in range(3):
        df = _uniform_chunk(spark, i).withColumn("_bucket", t.bucket_expr())
        files = t.write_files(df, t.new_commit_id())
        t = t.commit_append(files, batch_id=f"chunk-{i}", last_lsn=i * 1000 + 999)
    return t


def test_every_delta_file_carries_a_key_bloom(spark, table):
    conv_phys = f"f{table.schema.field_by_name('conv_id').id}"
    files = _data_files(table)
    assert len(files) == 3
    for f in files:
        offs = _footer_blooms(spark, f)
        assert offs[conv_phys] >= 0, f"no bloom on key column in {f}"
        # only the bucketing key gets a bloom — the rest would be bytes
        # spent on columns no point lookup filters by
        assert all(v == -1 for c, v in offs.items() if c != conv_phys)


def test_bloom_membership_semantics(spark, table):
    conv_phys = f"f{table.schema.field_by_name('conv_id').id}"
    f = _data_files(table)[0]
    assert _bloom_contains(spark, f, conv_phys, _conv(7))
    # a key that was never written anywhere: the bloom must reject it
    # (this is exactly the check parquet-java's row-group filter runs
    # when Spark pushes conv_id = 'absent' down to the scan)
    assert not _bloom_contains(spark, f, conv_phys, "conv-not-there-xyz")


def test_min_max_stats_are_inert_but_lookup_is_exact(table):
    # uniform key range: the min/max tier keeps every file ...
    entries = [e for es in table.manifest["buckets"].values() for e in es]
    assert table._prune_entries(entries, {"conv_id": _conv(7)}) == entries
    # ... yet the lookup, reading every row group, is exact
    got = table.read_key(conv_id=_conv(7), turn_idx=21).collect()
    assert len(got) == 1 and got[0].text == f"text c2 j{N_CONVS + 7}"
    assert table.read_key(conv_id="conv-not-there-xyz", turn_idx=0).count() == 0
