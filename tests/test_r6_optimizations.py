"""Round-6 optimization regression tests.

Each optimization that changed an operator's internals gets a focused
equivalence test here:
- normalize_text's pyarrow.compute body vs the reference pandas formulation
  (bit-identical contract, incl. unicode/NFC edge cases);
- the minhash size-ratio prefilter's exactness bound and the
  union-from-sizes identity;
- changes() resolved-bucket fast path vs the always-reduce path (a
  compacted from-version must yield the same diff as an uncompacted one).
"""

from __future__ import annotations

import random
import string
import unicodedata

import pandas as pd
import pytest
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# normalize_text: pyarrow body == reference pandas body, bit for bit


def _reference_normalize(s: pd.Series) -> pd.Series:
    out = s.str.replace(r"[ \t\n\r\f\v]+", " ", regex=True).str.strip(" \t\n\r\f\v")
    nonascii = out.str.contains(r"[^\x00-\x7F]", regex=True, na=False)
    if nonascii.any():
        out = out.copy()
        out.loc[nonascii] = out.loc[nonascii].map(
            lambda x: unicodedata.normalize("NFC", x)
        )
    return out


def test_normalize_text_matches_reference_formulation():
    # call the pandas_udf's wrapped python function directly
    from pasar_spark.functions.normalize import normalize_text

    fn = normalize_text.func
    cases = [
        None, "", " ", "  \t\n ", "a", " a ", "a  b\tc\nd\re\ff\vg",
        "café", "café",  # NFC no-op and NFC-composing forms
        " ", "a b",       # NBSP must NOT collapse (ASCII-only class)
        "\U0001F600  hi", "é" * 5, "\t\v\f\r\n", "a" * 1000 + "   b",
        "ḍ̇", "ＡＢ　Ｃ",  # combining; fullwidth+ideographic space
    ]
    rng = random.Random(7)
    alphabet = string.ascii_letters + " \t\n\r\f\v" + "éñ ́中"
    cases += [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 60)))
        for _ in range(2000)
    ]
    s = pd.Series(cases, dtype=object)
    got, want = fn(s), _reference_normalize(s)
    for i, (g, w) in enumerate(zip(got, want)):
        g_null = g is None or (isinstance(g, float))
        w_null = w is None or (isinstance(w, float))
        assert g_null == w_null and (g_null or g == w), (
            f"case {i}: {cases[i]!r} -> {g!r}, want {w!r}"
        )


# ---------------------------------------------------------------------------
# minhash prefilter: the size-ratio bound is exact, and union-from-sizes
# equals array_union cardinality, so the optimized pipeline returns the
# same pairs as the unfiltered array_union formulation


def test_minhash_size_prefilter_is_lossless(spark):
    from pasar_spark.functions.similarity import minhash_lsh_pairs

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    for doc_id in range(60):
        words = [vocab[rng.randrange(len(vocab))] for _ in range(rng.randrange(3, 25))]
        rows.append((doc_id, " ".join(words)))
    # exact copies (j == 1.0 must always survive) + one near-copy pair
    rows += [(1000 + d, t) for d, t in rows[:12]]
    base = dict(rows)[3].split(" ")
    rows.append((2000, " ".join(base + ["extraword"])))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    got = sorted(
        map(
            tuple,
            minhash_lsh_pairs(
                docs, n_hashes=32, bands=8, shingle_n=2, jaccard_threshold=0.5
            )
            .select("id_a", "id_b", "jaccard")
            .collect(),
        )
    )

    # reference: brute-force exact jaccard over bigram sets, restricted to
    # pairs whose signatures collide in >= 1 band is NOT needed — LSH can
    # only lose pairs, never invent them, and every pair it emits carries
    # its exact jaccard. So check (a) all emitted pairs match brute-force
    # values, (b) every exact-copy pair (j = 1.0) is present.
    from pasar_spark.functions.text import shingles

    sh = {
        r["doc_id"]: set(r["sh"])
        for r in docs.select(
            "doc_id", F.array_distinct(shingles(F.col("text"), 2)).alias("sh")
        ).collect()
    }
    for id_a, id_b, j in got:
        inter = len(sh[id_a] & sh[id_b])
        union = len(sh[id_a] | sh[id_b])
        assert round(inter / union, 6) == pytest.approx(j), (id_a, id_b)
        assert j >= 0.5
    emitted = {(a, b) for a, b, _ in got}
    for d in range(12):
        pair = (min(d, 1000 + d), max(d, 1000 + d))
        assert pair in emitted, f"exact copy pair {pair} lost"


# ---------------------------------------------------------------------------
# changes(): the resolved-bucket fast path must yield the same diff as the
# reduce path — compare changes(v1) computed from a COMPACTED v1 against
# the same logical diff computed from the uncompacted history


def test_changes_resolved_fast_path_equals_reduce_path(spark, tmp_path):
    from pasar_spark.cdc.merge import compact_buckets
    from pasar_spark.cdc.runner import ReplayRunner
    from pasar_spark.datagen import change_events, write_change_log
    from pasar_spark.lake.table import LakeTable

    wal = str(tmp_path / "wal")
    write_change_log(
        change_events(spark, 6000, n_convs=120, seed=5), wal, n_files=6
    )

    def two_halves(path, compact_first):
        feed = spark.read.parquet(f"{wal}/*.parquet")
        cut = feed.agg(F.max("lsn")).collect()[0][0] // 2
        t1 = ReplayRunner(spark, path, n_buckets=4, chunk_size=1 << 40).replay(
            wal, max_events=cut + 1
        )
        if compact_first:
            t1, _ = compact_buckets(t1, min_files=1, policy="full")
        v1 = t1.version
        ReplayRunner(spark, path, n_buckets=4, chunk_size=1 << 40).replay(wal)
        return LakeTable.load(spark, path), v1

    cols = ["conv_id", "turn_idx", "_change_type", "lsn", "text"]
    t_a, v_a = two_halves(str(tmp_path / "a"), compact_first=True)
    t_b, v_b = two_halves(str(tmp_path / "b"), compact_first=False)
    a = sorted(map(tuple, t_a.changes(v_a).select(*cols).collect()))
    b = sorted(map(tuple, t_b.changes(v_b).select(*cols).collect()))
    assert a == b
    # and the fast path really is reachable: v_a's buckets are all resolved
    frm = LakeTable.load(spark, str(tmp_path / "a"), version=v_a).manifest
    assert not frm.get("unresolved"), "compacted v1 should have no unresolved buckets"


# ---------------------------------------------------------------------------
# spread(): an unreadable file size must not skip the fan-out


def test_spread_unknown_file_size_keeps_exchange(spark, tmp_path, monkeypatch):
    import os

    from pasar_spark.queries import spread

    path = str(tmp_path / "one")
    spark.range(200).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) == 1
    big = 1 << 30  # far above the file's size
    assert spread(df, min_bytes=big) is df  # a readable small scan is skipped

    def unreadable(p):
        raise OSError(f"cannot stat {p}")

    monkeypatch.setattr(os.path, "getsize", unreadable)
    out = spread(df, min_bytes=big)
    assert "Exchange" in out._jdf.queryExecution().executedPlan().toString()
