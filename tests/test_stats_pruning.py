"""Manifest-level per-file key stats: point lookups skip whole files.

write_files records min/max of the key columns per data file (read from
the parquet footer it already opens for row counts); read_key prunes
manifest entries with them BEFORE any scan task is planned — the third
pruning tier after bucket hashing and ahead of parquet row-group stats.
On a long MoR delta chain a lookup then plans tasks for only the files
that could actually hold the key. Pruning must be invisible to results
(LWW winners, tombstones) and inert on stats-free manifests (backward
compat with pre-stats snapshots).
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pasar_spark.cdc.runner import BASE_COLUMNS, KEY
from pasar_spark.lake.table import LakeTable

SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
        StructField("lsn", LongType()),
        StructField("_tombstone", BooleanType()),
    ]
)

T0 = dt.datetime(2026, 1, 1)


def _chunk(spark, chunk_no: int, n_convs: int = 8, lsn0: int = 0):
    rows = [
        (
            f"conv{chunk_no:02d}_{j:02d}",
            t,
            "user" if t % 2 == 0 else "assistant",
            f"text c{chunk_no} j{j} t{t}",
            None,
            T0 + dt.timedelta(seconds=lsn0 + j * 10 + t),
            lsn0 + j * 10 + t,
            False,
        )
        for j in range(n_convs)
        for t in range(3)
    ]
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    # ONE bucket: every key hashes together, so any file skipped below is
    # skipped by the stats tier alone, not by bucket pruning
    path = str(tmp_path_factory.mktemp("statspruning") / "tbl")
    t = LakeTable.create(
        spark, path, columns=BASE_COLUMNS, key=KEY, n_buckets=1, bucket_by="conv_id"
    )
    for i in range(4):
        df = _chunk(spark, i, lsn0=i * 1000).withColumn("_bucket", t.bucket_expr())
        files = t.write_files(df, t.new_commit_id())
        t = t.commit_append(files, batch_id=f"chunk-{i}", last_lsn=i * 1000 + 999)
    return t


def _entries(table):
    return [e for es in table.manifest["buckets"].values() for e in es]


def test_write_files_records_key_stats(table):
    entries = _entries(table)
    assert len(entries) == 4
    conv_phys = f"f{table.schema.field_by_name('conv_id').id}"
    turn_phys = f"f{table.schema.field_by_name('turn_idx').id}"
    for e in entries:
        st = e["stats"]
        lo, hi = st[conv_phys]
        assert lo.startswith("conv") and hi.startswith("conv") and lo <= hi
        assert st[turn_phys] == [0, 2]
    # stats are JSON-round-trip clean (they live in the manifest)
    assert json.loads(json.dumps(entries)) == entries


def test_prune_keeps_only_possible_files(table):
    entries = _entries(table)
    kept = table._prune_entries(
        entries, {"conv_id": "conv02_05", "turn_idx": 1}
    )
    # disjoint conv ranges per chunk: exactly the chunk-2 file survives
    assert len(kept) == 1
    assert "conv02_05" >= kept[0]["stats"][
        f"f{table.schema.field_by_name('conv_id').id}"
    ][0]
    # an impossible turn_idx prunes everything
    assert table._prune_entries(entries, {"turn_idx": 99}) == []
    # a column with no recorded stats never prunes
    assert table._prune_entries(entries, {"role": "user"}) == entries


def test_read_key_pruned_equals_full_scan(table):
    got = table.read_key(conv_id="conv01_03", turn_idx=2).collect()
    want = (
        table.read()
        .where((F.col("conv_id") == "conv01_03") & (F.col("turn_idx") == 2))
        .collect()
    )
    assert got == want
    assert len(got) == 1
    assert got[0].text == "text c1 j3 t2"


def test_lww_winner_survives_pruning(spark, table):
    # re-send an existing key with a newer (ts, lsn) in a LATER file, then
    # look it up: both the old and new files pass the stats filter (same
    # key), and the resolved winner must be the newer row
    upd = spark.createDataFrame(
        [
            (
                "conv00_00",
                0,
                "assistant",
                "UPDATED",
                None,
                T0 + dt.timedelta(days=30),
                99_999,
                False,
            )
        ],
        SCHEMA,
    ).withColumn("_bucket", table.bucket_expr())
    t2 = table.commit_append(
        table.write_files(upd, table.new_commit_id()),
        batch_id="upd",
        last_lsn=99_999,
    )
    row = t2.read_key(conv_id="conv00_00", turn_idx=0).collect()
    assert len(row) == 1 and row[0].text == "UPDATED"


def test_stats_free_manifest_reads_everything(spark, table):
    # simulate a pre-stats snapshot: strip stats from a copied manifest —
    # pruning must become a no-op, results unchanged
    m = json.loads(json.dumps(table.manifest))
    for es in m["buckets"].values():
        for e in es:
            e.pop("stats", None)
    old = LakeTable(spark, table.path, m, table.version)
    assert old._prune_entries(_entries(old), {"conv_id": "conv02_05"}) == _entries(old)
    got = old.read_key(conv_id="conv03_07", turn_idx=1).collect()
    assert len(got) == 1 and got[0].text == "text c3 j7 t1"


def test_pruning_survives_rename(spark, table):
    # field-id stats outlive a logical rename of the key column
    # (rebase on the head: test_lww_winner advanced CURRENT past the
    # module fixture's snapshot, and DDL refuses to fork the chain)
    t2 = LakeTable.load(spark, table.path).rename_column(
        "conv_id", "conversation_id"
    )
    entries = _entries(t2)
    kept = t2._prune_entries(entries, {"conversation_id": "conv03_01"})
    assert 0 < len(kept) < len(entries)
    got = t2.read_key(conversation_id="conv03_01", turn_idx=0).collect()
    assert len(got) == 1 and got[0].text == "text c3 j1 t0"


UNIFORM_CONVS = 2_000


def _uniform_conv(j: int) -> str:
    import hashlib

    return f"conv-{j:08d}-" + hashlib.sha256(str(j).encode()).hexdigest()[:12]


@pytest.fixture(scope="module")
def uniform_table(spark, tmp_path_factory):
    """Three chunks that each span the SAME key range, so the min/max
    tier cannot tell their files apart."""
    path = str(tmp_path_factory.mktemp("uniformkeys") / "tbl")
    t = LakeTable.create(
        spark, path, columns=BASE_COLUMNS, key=KEY, n_buckets=1, bucket_by="conv_id"
    )
    j = F.col("id") % UNIFORM_CONVS
    for i in range(3):
        df = spark.range(UNIFORM_CONVS * 2).select(
            F.concat(
                F.lit("conv-"),
                F.lpad(j.cast("string"), 8, "0"),
                F.lit("-"),
                F.sha2(j.cast("string"), 256).substr(1, 12),
            ).alias("conv_id"),
            (i * 10 + (F.col("id") >= UNIFORM_CONVS).cast("int")).alias("turn_idx"),
            F.lit("user").alias("role"),
            F.concat(F.lit(f"text c{i} j"), F.col("id").cast("string")).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            (F.lit(T0) + F.make_interval(secs=i * 1000 + F.col("id"))).alias("ts"),
            (i * 1_000_000 + F.col("id")).alias("lsn"),
            F.lit(False).alias("_tombstone"),
        ).withColumn("_bucket", t.bucket_expr())
        files = t.write_files(df, t.new_commit_id())
        t = t.commit_append(files, batch_id=f"chunk-{i}", last_lsn=i * 1000 + 999)
    return t


def test_min_max_stats_are_inert_but_lookup_is_exact(uniform_table):
    table = uniform_table
    # uniform key range: the min/max tier keeps every file ...
    entries = _entries(table)
    assert table._prune_entries(entries, {"conv_id": _uniform_conv(7)}) == entries
    # ... yet the lookup, reading every row group, is exact
    got = table.read_key(conv_id=_uniform_conv(7), turn_idx=21).collect()
    assert len(got) == 1 and got[0].text == f"text c2 j{UNIFORM_CONVS + 7}"
    assert table.read_key(conv_id="conv-not-there-xyz", turn_idx=0).count() == 0
