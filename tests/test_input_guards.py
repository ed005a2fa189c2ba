"""Bad options are refused up front with a ValueError (or a CLI exit 2)
instead of silently running some default path."""

from __future__ import annotations

import os

import pytest

from pasar_spark.cdc.merge import compact_buckets, merge_batch
from pasar_spark.cdc.runner import bootstrap_table
from pasar_spark.datagen import change_events


def test_merge_batch_refuses_unknown_mode(spark, tmp_path):
    table = bootstrap_table(spark, str(tmp_path / "t"), 2)
    changes = change_events(spark, 10, n_convs=2, seed=1)
    with pytest.raises(ValueError, match="'mor'\\|'cow', got 'mro'"):
        merge_batch(table, changes, "b0", mode="mro")


def test_compact_buckets_refuses_unknown_policy(spark, tmp_path):
    table = bootstrap_table(spark, str(tmp_path / "t"), 2)
    with pytest.raises(ValueError, match="'tiered'\\|'full', got 'major'"):
        compact_buckets(table, policy="major")


@pytest.mark.parametrize("flags", [["--mode", "cow"], ["--evolution-plan", "plan.json"]])
def test_cli_patch_ingest_refuses_row_only_flags(tmp_path, capsys, flags):
    from pasar_spark.cli import main

    table = str(tmp_path / "t")
    rc = main(["ingest", "--table", table, "--wal", str(tmp_path / "wal"),
               "--conflict", "patch", *flags])
    assert rc == 2
    assert "--conflict patch" in capsys.readouterr().err
    assert not os.path.exists(table)
