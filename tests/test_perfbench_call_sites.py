"""The benchmark's tracer (perfbench/spans.py) wraps package call sites
by the names their callers look them up by. A refactor that renames or
moves one of them does not fail the benchmark: the span just never
opens, and its per-layer metric silently reads 0. These checks load the
tracer by file path and hold the package to its call-site list."""

from __future__ import annotations

import importlib.util
import os

from pasar_spark.lake.table import LakeTable

SPANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "spans.py"
)


def _spans():
    spec = importlib.util.spec_from_file_location("perfbench_spans", SPANS)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_every_call_site_resolves():
    spans = _spans()
    for owner, attr, _ in spans.CALL_SITES:
        assert callable(getattr(spans._resolve(owner), attr, None)), (owner, attr)


def test_write_files_reaches_the_hooked_footer_reader(spark, tmp_path, monkeypatch):
    """table.footer_stats_s times ``bucket_dir_entries`` by its module
    name, and table.write_files_s reads ``{bucket: [entries]}`` off
    ``write_files``' result."""
    import pasar_spark.lake.table as table_mod

    spans = _spans()
    seen = []
    real = table_mod.bucket_dir_entries

    def hooked(*args, **kwargs):
        seen.append(args[1])
        return real(*args, **kwargs)

    monkeypatch.setattr(table_mod, "bucket_dir_entries", hooked)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("k", "string"), ("v", "string")],
        key=["k"], n_buckets=2,
    )
    df = spark.createDataFrame(
        [(f"k{i}", "v") for i in range(20)], "k string, v string"
    ).withColumn("_bucket", t.bucket_expr())
    files = t.write_files(df, t.new_commit_id())

    assert len(seen) == len(files) > 0
    assert all(
        isinstance(b, str) and isinstance(es, list) and es for b, es in files.items()
    )
    n_files = sum(len(es) for es in files.values())
    assert spans._attrs("table.write_files", files) == {"files": n_files, "rows": 20}
