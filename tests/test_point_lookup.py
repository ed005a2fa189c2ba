"""Bucket-pruned point lookup (read_key) + CLI lookup command."""

from __future__ import annotations

import json

import pytest

from pasar_spark.cdc.runner import ReplayRunner
from pasar_spark.datagen import change_events, write_change_log


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("lookup")
    wal = str(root / "wal")
    write_change_log(change_events(spark, 2_000, n_convs=40, seed=31), wal, n_files=2)
    return ReplayRunner(spark, str(root / "t"), n_buckets=8, chunk_size=1_000).replay(wal)


def test_read_key_equals_full_filter(table):
    full = table.read().collect()
    assert full
    conv = full[0].conv_id
    want = sorted(tuple(r) for r in full if r.conv_id == conv)
    got = sorted(tuple(r) for r in table.read_key(conv_id=conv).collect())
    assert got == want and got

    row = full[0]
    one = table.read_key(conv_id=row.conv_id, turn_idx=row.turn_idx).collect()
    assert len(one) == 1 and one[0].lsn == row.lsn


def test_read_key_prunes_to_one_bucket(table):
    conv = table.read().select("conv_id").first().conv_id
    b = table.bucket_of(conv)
    assert 0 <= b < table.manifest["n_buckets"]
    # the pruned read sees only that bucket's files — every other bucket's
    # rows must be absent even before the key filter
    pruned = table.read(buckets=[b])
    others = pruned.selectExpr(
        f"pmod(xxhash64(conv_id), {table.manifest['n_buckets']}) as bb"
    ).where(f"bb <> {b}")
    assert others.count() == 0


def test_read_key_requires_bucket_column(table):
    with pytest.raises(ValueError):
        table.read_key(turn_idx=3)


def test_major_compaction_sorts_bases_by_key(spark, tmp_path):
    """LSM discipline: ingest writes unsorted (hot path — a key sort
    measured 2.6x replay slowdown), major compaction rewrites the
    long-lived base files KEY-SORTED so parquet row-group stats prune
    point lookups inside a bucket."""
    import os

    import pyarrow.parquet as pq

    from pasar_spark.cdc.merge import compact_buckets

    wal = str(tmp_path / "wal")
    write_change_log(change_events(spark, 3_000, n_convs=60, seed=33), wal, n_files=2)
    t = ReplayRunner(spark, str(tmp_path / "t"), n_buckets=4, chunk_size=1_000,
                     compact_min_files=100).replay(wal)
    before = sorted(tuple(r) for r in t.read().collect())
    t, m = compact_buckets(t, min_files=1, policy="full")
    assert m["compacted_buckets"] > 0
    key_ids = [f"f{t.schema.field_by_name(k).id}" for k in t.manifest["key"]]
    for b in t.manifest["buckets"]:
        for e in t.bucket_entries(b, kind="base"):
            pdf = pq.read_table(os.path.join(t.path, e["path"])).to_pandas()
            got = pdf[key_ids].reset_index(drop=True)
            assert got.equals(pdf.sort_values(key_ids)[key_ids].reset_index(drop=True))
    # and the rewrite is state-preserving
    assert sorted(tuple(r) for r in t.read().collect()) == before


def test_cli_lookup(table, capsys):
    from pasar_spark.cli import main

    conv = table.read().select("conv_id").first().conv_id
    rc = main(["lookup", "--table", table.path, "--key", conv])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] and all(r["conv_id"] == conv for r in out["rows"])


def test_cli_lookup_on_int_bucketed_table(spark, tmp_path, capsys):
    # --key arrives as a string; the bucket must be the int column's
    from pasar_spark.cli import main
    from pasar_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("k", "int"), ("v", "string")], key=["k"],
        n_buckets=8, bucket_by="k",
    )
    df = spark.createDataFrame([(k, f"v{k}") for k in range(20)], "k int, v string")
    t.commit_merge(
        [], t.write_files(df.withColumn("_bucket", t.bucket_expr()), t.new_commit_id()),
        batch_id="b0",
    )
    for k in range(20):
        assert main(["lookup", "--table", t.path, "--key", str(k)]) == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["rows"] == [{"k": k, "v": f"v{k}"}]
