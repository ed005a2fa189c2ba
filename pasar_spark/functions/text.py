"""Text analysis for large-scale training-data pipelines.

All hot-path functions are pure Catalyst expressions (split / size /
filter / transform / xxhash64) — JVM-side, whole-stage-codegen'd, no
Python. These generalize the reference's per-row text handling
(normalize/lookup chains, temp_drugmed_view.sql:10-77) into the
document-pipeline operators a 100 TB corpus needs: token counting,
quality scoring, language ID, fingerprinting, shingling.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small: the heuristic must stay a broadcastable
# constant folded into codegen, not a dictionary join.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "von"],
    "es": ["el", "la", "de", "que", "y", "los", "una", "por", "con", "para"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "pour", "que"],
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


# BPE-ish pre-tokenizer: letter runs, digit runs, and single punctuation
# marks each become a token — the classic byte-pair pre-split (GPT-2's
# regex family, simplified to an engine-portable character-class form so
# the DuckDB oracle evaluates the identical pattern).
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_tokens(col: Column) -> Column:
    """BPE-ish regex tokenization (pre-tokenizer granularity): splits
    punctuation off words and digit runs off text, the token-count basis
    an LLM-data pipeline budgets with (whitespace counting undercounts
    code/punctuation-heavy documents badly)."""
    return F.regexp_extract_all(col, F.lit(BPE_PATTERN), 0)


def bpe_token_count(col: Column) -> Column:
    return F.size(bpe_tokens(col)).cast("long")


def token_count(col: Column) -> Column:
    return F.size(tokens(col)).cast("long")


def char_count(col: Column) -> Column:
    return F.length(col).cast("long")


def avg_token_len(col: Column) -> Column:
    toks = tokens(col)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return total / F.size(toks).cast("double")


def stopword_ratio_tokens(toks: Column, lang: str = "en") -> Column:
    """Stopword hit ratio over a PRE-MATERIALIZED token-array column.
    Callers computing several ratios (language ID scores all languages)
    must tokenize once into a column first — Catalyst does not eliminate
    the repeated split() subtrees across lanes."""
    hits = F.size(
        F.filter(F.transform(toks, F.lower), lambda t: t.isin(*STOPWORDS[lang]))
    )
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    return stopword_ratio_tokens(tokens(col), lang)


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length score (saturating at 100
    tokens) blended with an English stopword ratio — the document-pipeline
    analogue of the reference's validity filters (SURVEY.md P2/P7)."""
    length_score = F.least(token_count(col).cast("double") / F.lit(100.0), F.lit(1.0))
    return F.round(F.lit(0.5) * length_score + F.lit(0.5) * stopword_ratio(col), 4)


def with_lang_id(df, text_col: str = "text", out_col: str = "pred_lang"):
    """DataFrame-level language ID — the form to use in pipelines.

    The language with the highest stopword hit ratio wins; 'und' when
    nothing matches (e.g. zh with latin-script stopword lists). The
    computation is staged through projections: tokenize+lower once, one
    hit-count pass per language, then a CASE over the materialized ratio
    columns. A single nested-CASE Column would duplicate its ratio
    subtrees at every comparison (measured ~15x redundant passes over
    the token array). Ties break in STOPWORDS declaration order
    (en > de > es > fr), matching the oracle SQL in queries_docs.py.
    """
    langs = list(STOPWORDS)
    ratio_cols = [f"_r_{lang}" for lang in langs]
    staged = df.withColumn("_lt", F.transform(tokens(F.col(text_col)), F.lower))
    def _hit(lang: str):
        # factory, not a default-arg lambda: Spark's lambda builder counts
        # every parameter (defaults included) when inferring arity
        return lambda t: t.isin(*STOPWORDS[lang])

    staged = staged.select(
        "*",
        *[
            (
                F.size(F.filter(F.col("_lt"), _hit(lang))).cast("double")
                / F.greatest(F.size("_lt"), F.lit(1)).cast("double")
            ).alias(rc)
            for lang, rc in zip(langs, ratio_cols)
        ],
    )
    pick = F.when(F.greatest(*[F.col(rc) for rc in ratio_cols]) == 0, F.lit("und"))
    for i, (lang, rc) in enumerate(zip(langs, ratio_cols)):
        rest = ratio_cols[i + 1 :]
        cond = F.lit(True)
        for other in rest:
            cond = cond & (F.col(rc) >= F.col(other))
        pick = pick.when(cond, F.lit(lang))
    return staged.withColumn(out_col, pick).drop("_lt", *ratio_cols)


def fingerprint(col: Column) -> Column:
    """Deterministic 128-bit document fingerprint (exact-dup detection
    key): md5 over the text with whitespace runs collapsed to one space
    and trimmed — no NFC, so it is not the lake's normal form
    (functions/normalize.py). md5 is chosen over xxhash64 here so
    external systems (and the DuckDB oracle) can reproduce it."""
    return F.md5(F.trim(F.regexp_replace(col, r"\s+", " ")))


def shingles(col: Column, n: int = 5) -> Column:
    """Array of word n-gram shingle strings (for MinHash / Jaccard).

    Formulated as n-1 chained ``zip_with`` joins over n shifted slices
    of the token array instead of a ``transform`` whose lambda slices
    and re-concatenates per output element: higher-order lambdas are
    interpreted, and the per-element ``slice`` allocation made the old
    form ~5x slower (measured 3.1 s -> 0.6 s for bigrams over a 100k-doc
    corpus, bit-identical output). Degenerate docs keep the old
    semantics: fewer tokens than ``n`` yields ONE shingle of whatever
    exists (``zip_with`` pads the short slices with null and
    ``concat_ws`` skips nulls), and an empty doc yields [''].
    """
    toks = tokens(col)
    # a NULL doc tokenizes to a NULL array (size NULL) and the old form
    # mapped it — like an empty doc — to ['']: coalesce the condition so
    # both degenerate cases take the [''] branch
    k = F.size(toks)
    m = F.greatest(k - n + 1, F.lit(1))
    out = F.slice(toks, 1, m)
    for j in range(2, n + 1):
        out = F.zip_with(
            out, F.slice(toks, j, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.when(
        F.coalesce(k <= 0, F.lit(True)), F.array(F.lit(""))
    ).otherwise(out)


def minhash_from_shingles(sh: Column, n_hashes: int = 32) -> Column:
    """MinHash signature from a PRE-MATERIALIZED shingle-array column:
    array of n_hashes min-over-shingles xxhash64 values, each with a
    distinct seed-salt. Pure Catalyst — no UDF. Single aggregate pass:
    the acc is the running element-wise min of per-shingle hash lanes.
    (The naive form — n_hashes separate array_min(transform(...)) lanes —
    produces a generated-code source ~n_hashes x larger; Janino compile
    time of that source dominated wall time on cold runs, and lambda
    variable ids make the source unique per query so it never hits the
    codegen cache.)"""
    max_long = (1 << 63) - 1
    return F.aggregate(
        sh,
        F.array_repeat(F.lit(max_long).cast("long"), n_hashes),
        lambda acc, s: F.zip_with(
            acc,
            F.array(*[F.xxhash64(s, F.lit(i)) for i in range(n_hashes)]),
            lambda a, b: F.least(a, b),
        ),
    )


def winnow_fingerprints(col: Column, shingle_n: int = 5, window: int = 4) -> Column:
    """Winnowing document fingerprints (the rolling-hash selection scheme
    of Schleimer/Wilkerson/Aiken's MOSS): hash every ``shingle_n``-token
    shingle, slide a ``window`` over the hash sequence, keep each
    window's minimum — documents sharing content share selected
    fingerprints, and the selection density is guaranteed (at least one
    fingerprint per window). Pure Catalyst (transform/slice/array_min);
    one pass over the shingle hashes. Returns array<long> (distinct).

    Degenerate docs: fewer shingles than the window -> one window over
    whatever exists (min of all hashes) -> still ≥1 fingerprint.

    The hash array is bound ONCE per row via a one-element-array lambda
    (Catalyst has no `let`): higher-order-function lambdas re-evaluate
    child expressions on EVERY invocation and codegen subexpression
    elimination does not reach inside lambda bodies, so referencing the
    tokenize+shingle+hash pipeline directly from the per-window lambda
    re-ran it once per window index — O(S^2) hashing in shingle count S
    (measured: the sf0.1 winnow query dropped 62.2 s -> ~2 s on this
    binding alone)."""
    hs = F.transform(shingles(col, shingle_n), lambda s: F.xxhash64(s))

    def _wins(h: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(h) - window, F.lit(0)))
        return F.transform(idx, lambda i: F.array_min(F.slice(h, i + 1, window)))

    return F.array_distinct(F.element_at(F.transform(F.array(hs), _wins), 1))


def _simhash_packed_sql(col_sql: str, width: int, bits: int) -> str:
    """SQL text of one fold over per-token hashes with the bit-counters
    PACKED into ``width`` longs of ``64/width`` fields each: per token,
    lane group g accumulates ``(h >> g) & lane_mask`` — one shift+and+add
    per group instead of one branch+add per bit. Counter for bit b lives
    in field ``b // width`` of accumulator ``b % width``; exact while
    every counter stays below the field size, which the caller gates on
    token count (2^16 for width=16; width=32 fields cannot overflow —
    an array cannot exceed 2^31 elements).

    Equivalence to the +/-1 vote form: votes_b = 2*cnt_b - n, so bit b
    is set iff cnt_b + cnt_b > n — integer-exact, no approximation.
    """
    n_acc = width
    lane = 0
    for k in range(64 // width):
        lane |= 1 << (width * k)
    field_mask = (1 << width) - 1
    zero = ", ".join(f"'c{g}', 0L" for g in range(n_acc))
    step = ", ".join(
        f"'c{g}', acc.c{g} + (shiftright(h, {g}) & {lane}L)" for g in range(n_acc)
    )
    terms = []
    for b in range(min(bits, 64)):
        g, k = b % n_acc, b // n_acc
        # bit 63's mask is the sign bit; -2^63 has no direct long literal
        m = "(-9223372036854775807L - 1L)" if b == 63 else f"{1 << b}L"
        cnt = f"(shiftright(acc.c{g}, {width * k}) & {field_mask}L)"
        terms.append(f"IF({cnt} + {cnt} > acc.n, {m}, 0L)")
    finish = " + ".join(terms)  # masks have disjoint bits so + acts as OR
    return (
        f"aggregate(transform({col_sql}, t -> xxhash64(t)), "
        f"named_struct('n', 0L, {zero}), "
        f"(acc, h) -> named_struct('n', acc.n + 1L, {step}), "
        f"acc -> {finish})"
    )


@lru_cache(maxsize=32)
def _simhash_sql(col_sql: str, bits: int) -> str:
    toks = f"filter(split({col_sql}, '\\\\s+'), t -> t != '')"
    return (
        f"CASE WHEN size({toks}) < 65536 "
        f"THEN {_simhash_packed_sql(toks, 16, bits)} "
        f"ELSE {_simhash_packed_sql(toks, 32, bits)} END"
    )


def simhash(col: Column, bits: int = 64) -> Column:
    """64-bit SimHash over whitespace tokens: per bit, sum of +/-1 votes
    from each token's xxhash64; bit set if the vote is positive.

    Evaluated as ONE fold over per-token hashes with packed bit-counters
    (``_simhash_packed_sql``): each token's xxhash64 is computed exactly
    once (the previous zip_with-over-64-masks form re-evaluated the hash
    expression per bit lane — 64 hashes/token in interpreted
    higher-order-function execution), and the per-token work is 16
    shift+and+adds instead of 64 branchy adds. Docs under 2^16 tokens
    use 16-bit counter fields (16 accumulator longs); longer docs fall
    back to 32-bit fields (32 longs) — both integer-exact, so the
    signature is bit-identical to the vote form at any length.

    The expression is assembled as ONE generated-SQL string (cached) and
    handed to the parser in a single call: building the equivalent tree
    through the Column API costs ~1,500 py4j round-trips, which showed
    up as ~2 s of driver time per query construction.
    """
    sql = _simhash_sql(col._jc.node().sql(), bits)
    return F.expr(sql)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))
