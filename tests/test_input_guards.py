"""Bad options are refused up front with a ValueError (or a CLI exit 2)
instead of silently running some default path."""

from __future__ import annotations

import os

import pytest

from pasar_spark.cdc.merge import compact_buckets
from pasar_spark.cdc.runner import bootstrap_table


def test_compact_buckets_refuses_unknown_policy(spark, tmp_path):
    table = bootstrap_table(spark, str(tmp_path / "t"), 2)
    with pytest.raises(ValueError, match="'tiered'\\|'full', got 'major'"):
        compact_buckets(table, policy="major")


@pytest.mark.parametrize(
    "flags", [["--evolution-plan=plan.json"], ["--evolution-plan", "plan.json"]]
)
def test_cli_patch_ingest_refuses_row_only_flags(tmp_path, capsys, flags):
    from pasar_spark.cli import main

    table = str(tmp_path / "t")
    rc = main(["ingest", "--table", table, "--wal", str(tmp_path / "wal"),
               "--conflict", "patch", *flags])
    assert rc == 2
    assert "--conflict patch" in capsys.readouterr().err
    assert not os.path.exists(table)
