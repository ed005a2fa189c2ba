"""Document / embedding queries — training-data-pipeline operators.

Registered into the same registry as pasar_spark.queries. Near-dup
queries use the self-copy trick for oracle-able determinism: union the
corpus with itself under shifted ids, so every original/copy pair is an
exact duplicate the pipeline MUST find (jaccard == 1.0), while the random
word-soup cross-pairs stay far below threshold.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pasar_spark.functions import text as T
from pasar_spark.functions.similarity import (
    _plane_weights,
    brute_force_topk,
    lsh_topk,
    minhash_lsh_pairs,
    simhash_pairs,
)
from pasar_spark.queries import load, register, spread

# Committed parquet fixtures (scripts/make_fixtures.py) that make the
# approximate / engine-defined queries oracle-gated: the DuckDB side reads
# them by absolute path; the Spark side either reads the same fixture or
# recomputes the values live and must match it exactly.
FIXTURES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")


def _fixture(name: str) -> str:
    return os.path.join(FIXTURES, name)


def _fixture_sql(name: str) -> str:
    return f"'{_fixture(name)}/*.parquet'"

_STOP_EN = "'the','and','of','to','a','in','is','it','for','on'"
_TOKS = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"


@register(
    "text_stats",
    f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           round(CAST(list_sum(list_transform({_TOKS}, x -> length(x))) AS DOUBLE)
                 / len({_TOKS}), 4) AS avg_token_len
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + char stats, all JVM-side (SURVEY.md §2.9)."""
    d = spread(load(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        T.char_count(F.col("text")).alias("n_chars"),
        T.token_count(F.col("text")).alias("n_tokens"),
        F.round(T.avg_token_len(F.col("text")), 4).alias("avg_token_len"),
    )


@register(
    "text_quality",
    f"""
    SELECT doc_id,
           round(0.5 * least(CAST(len({_TOKS}) AS DOUBLE) / 100.0, 1.0)
               + 0.5 * (CAST(len(list_filter(list_transform({_TOKS}, x -> lower(x)),
                                             x -> x IN ({_STOP_EN}))) AS DOUBLE)
                        / greatest(len({_TOKS}), 1)), 4) AS quality
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length saturation + stopword ratio)."""
    d = spread(load(spark, sf_dir, "documents"))
    return d.select("doc_id", T.quality_score(F.col("text")).alias("quality"))


@register(
    "bpe_token_stats",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{T.BPE_PATTERN}')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(len({_TOKS}) AS BIGINT) AS n_ws_tokens,
           round(CAST(len(regexp_extract_all(text, '{T.BPE_PATTERN}')) AS DOUBLE)
                 / greatest(len({_TOKS}), 1), 4) AS expansion
    FROM documents
    """,
)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting at BPE pre-tokenizer granularity vs whitespace
    (SURVEY-mandated 'whitespace + a BPE-ish regex' pipeline operator):
    per doc, both counts plus the expansion factor a token-budgeting
    pipeline uses. Pure Catalyst regexp_extract_all — the oracle runs
    the identical pattern in DuckDB."""
    d = spread(load(spark, sf_dir, "documents"))
    ws = T.token_count(F.col("text"))
    bpe = T.bpe_token_count(F.col("text"))
    return d.select(
        "doc_id",
        bpe.alias("n_bpe_tokens"),
        ws.alias("n_ws_tokens"),
        F.round(bpe.cast("double") / F.greatest(ws, F.lit(1)).cast("double"), 4).alias(
            "expansion"
        ),
    )


def _ratio_sql(words: list[str]) -> str:
    lst = ",".join(f"'{w}'" for w in words)
    return (
        f"(CAST(len(list_filter(list_transform({_TOKS}, x -> lower(x)),"
        f" x -> x IN ({lst}))) AS DOUBLE) / greatest(len({_TOKS}), 1))"
    )


_LANG_PRED_SQL = f"""
  CASE WHEN greatest(r_en, r_de, r_es, r_fr) = 0 THEN 'und'
       WHEN r_en >= r_de AND r_en >= r_es AND r_en >= r_fr THEN 'en'
       WHEN r_de >= r_es AND r_de >= r_fr THEN 'de'
       WHEN r_es >= r_fr THEN 'es'
       ELSE 'fr' END
"""


@register(
    "lang_id_eval",
    f"""
    WITH scored AS (
      SELECT lang,
             {_ratio_sql(T.STOPWORDS['en'])} AS r_en,
             {_ratio_sql(T.STOPWORDS['de'])} AS r_de,
             {_ratio_sql(T.STOPWORDS['es'])} AS r_es,
             {_ratio_sql(T.STOPWORDS['fr'])} AS r_fr
      FROM documents)
    SELECT lang, {_LANG_PRED_SQL} AS pred_lang, count(*) AS n_docs
    FROM scored GROUP BY 1, 2
    """,
)
def lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/stopword language ID confusion matrix vs the labeled lang.
    Tokenizes once into a column; the per-language scorers run over it."""
    d = spread(load(spark, sf_dir, "documents"))
    return (
        T.with_lang_id(d.select("lang", "text"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "doc_fingerprint_stats",
    """
    SELECT source, count(*) AS n_docs,
           count(DISTINCT md5(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS n_unique
    FROM documents GROUP BY source
    """,
)
def doc_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup detection by normalized-text fingerprint, per source."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(T.fingerprint(F.col("text"))).alias("n_unique"),
    )


# ---------------------------------------------------------------------
# Near-dup detection with injected exact copies (doc_id + 1_000_000)
# ---------------------------------------------------------------------


def _with_copies(d: DataFrame) -> DataFrame:
    d = spread(d)
    return d.select("doc_id", "text").unionByName(
        d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )


_COPIES_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents
"""

# Bigram shingle sets: word-soup cross-pairs have jaccard << 0.95, so at
# threshold 0.95 the ONLY pairs are original<->copy — a closed-form oracle.
# Degenerate docs must match Spark's shingles(col, 2) exactly: a 1-token
# doc yields [tok] (slice pads nothing) and an empty doc yields [''] —
# the naive toks[i] || ' ' || toks[i+1] produces [NULL] for both, which
# diverges under intersect/union arithmetic.
_BIGRAMS = (
    "list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),"
    " i -> CASE WHEN len(toks) >= i + 1 THEN toks[i] || ' ' || toks[i + 1]"
    "           WHEN len(toks) >= i THEN toks[i] ELSE '' END))"
)


@register(
    "dedup_minhash_lsh",
    f"""
    WITH c AS ({_COPIES_SQL}),
    sh AS (SELECT doc_id, {_BIGRAMS} AS sh
           FROM (SELECT doc_id, {_TOKS} AS toks FROM c) t)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.95
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified by exact Jaccard >= 0.95.

    Verification threshold is 0.95 (not 0.9) because LSH recall at the
    band boundary is probabilistic: a j=0.9 pair slips past 8 bands x 4
    rows with p~2e-4, and the corpus contains such pairs — at >=0.95 the
    only qualifying pairs are exact copies (j=1.0), whose signatures are
    identical and therefore ALWAYS collide, making the oracle exact."""
    c = _with_copies(load(spark, sf_dir, "documents"))
    return minhash_lsh_pairs(
        c, n_hashes=32, bands=8, shingle_n=2, jaccard_threshold=0.95
    ).select("id_a", "id_b", "jaccard")


@register(
    "dedup_winnow",
    f"""
    WITH fp AS (SELECT doc_id, fp FROM {_fixture_sql('winnow_fps.parquet')}),
    common AS (SELECT fp FROM fp GROUP BY fp HAVING count(DISTINCT doc_id) <= 10)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(DISTINCT a.fp) AS BIGINT) AS n_shared
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
    WHERE a.fp IN (SELECT fp FROM common)
    GROUP BY 1, 2 HAVING count(DISTINCT a.fp) >= 2
    """,
)
def dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (winnowing/MOSS) near-dup pairs over injected copies:
    docs sharing >= 2 selected fingerprints, with boilerplate suppression
    (fingerprints present in > 10 docs are dropped before pairing — the
    standard winnowing practice, and the hot-key guard: a viral shingle
    can never blow up the fp equi-join). Candidate generation is an
    equi-join on the fingerprint value — no all-pairs stage. Oracle:
    the same extraction over the engine's persisted fingerprint fixture
    (sf0.01 corpus; xxhash64 is not reproducible in DuckDB)."""
    from pyspark import StorageLevel

    c = _with_copies(load(spark, sf_dir, "documents"))
    # persist the extracted fingerprints: the boilerplate counts and BOTH
    # sides of the pairing self-join read them — without the persist the
    # corpus scan + winnow extraction runs 3x (same cut-point reasoning
    # as minhash_lsh_pairs' shingle stage, similarity.py)
    # The cache is persisted ALREADY HASH-PARTITIONED on fp: every
    # consumer (the boilerplate counts groupBy, and both sides of the
    # pairing self-join) requires hashpartitioning(fp), so they all read
    # the cached partitioning directly instead of each re-shuffling the
    # full fingerprint table (measured: 4 near-identical exchanges of
    # the same 2M cached rows per query, which AQE's exchange reuse did
    # not collapse). Eager count: concurrent consumers otherwise race to
    # compute the still-empty cache, re-running the winnow extraction 3x.
    fps = (
        c.select(
            "doc_id", F.explode(T.winnow_fingerprints(F.col("text"), 5, 4)).alias("fp")
        )
        .repartition(spark.sparkContext.defaultParallelism, "fp")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    fps.count()
    counts = fps.groupBy("fp").agg(F.countDistinct("doc_id").alias("_n"))
    # broadcast the BOILERPLATE set (small by definition) and anti-join;
    # broadcasting the rare side would ship nearly the whole fp space
    common = counts.where(F.col("_n") > 10).select("fp")
    rare = fps.join(F.broadcast(common), "fp", "left_anti")
    a = rare.select(F.col("fp"), F.col("doc_id").alias("id_a"))
    b = rare.select(F.col("fp"), F.col("doc_id").alias("id_b"))
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.countDistinct("fp").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )


@register(
    "dedup_simhash",
    f"""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM {_fixture_sql('simhash_sigs.parquet')} a
    JOIN {_fixture_sql('simhash_sigs.parquet')} b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 6
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 6) over injected copies, with
    BANDED candidate generation (similarity.simhash_pairs): band+value
    equi-join, no all-pairs stage — exact recall for hamming <= n_bands-1
    by pigeonhole. Oracle-gated against all-pairs hamming extraction over
    the engine's persisted signature fixture (generated from the sf0.01
    corpus — the driver's correctness gate runs at sf0.01; at other scale
    factors the Spark side still runs, the fixture just describes 0.01)."""
    c = _with_copies(load(spark, sf_dir, "documents"))
    return simhash_pairs(c, max_hamming=6, n_bands=8)


# ---------------------------------------------------------------------
# Embedding similarity
# ---------------------------------------------------------------------


def _dot_sql(a: str, b: str, dim: int = 64) -> str:
    return "(" + " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)" for i in range(1, dim + 1)
    ) + ")"


def _norm_sql(a: str, dim: int = 64) -> str:
    return (
        "sqrt(" + " + ".join(
            f"CAST({a}[{i}] AS DOUBLE) * CAST({a}[{i}] AS DOUBLE)"
            for i in range(1, dim + 1)
        ) + ")"
    )


@register(
    "knn_cosine_topk",
    f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
    pairs AS (
      SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
             {_dot_sql('q.embedding', 'c.embedding')}
               / ({_norm_sql('q.embedding')} * {_norm_sql('c.embedding')}) AS sim
      FROM q JOIN embeddings c ON q.vec_id <> c.vec_id)
    SELECT vec_id, rank, neighbor_id, round(sim, 6) AS cos_sim FROM (
      SELECT vec_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM pairs) t
    WHERE rank <= 3
    """,
)
def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (exact ANN baseline): left-fold dot
    product via zip_with/aggregate — identical IEEE evaluation order to
    the oracle's explicit 64-term sum."""
    emb = spread(load(spark, sf_dir, "embeddings"))
    q = emb.where("vec_id < 20")
    return brute_force_topk(q, emb, k=3)


def _lsh_bucket_sql(col: str, n_planes: int = 6, dim: int = 64, seed: int = 7) -> str:
    """ANSI-SQL replica of similarity.hyperplane_bucket: the +/-1 plane
    weights are deterministic driver-side constants, so the oracle embeds
    them as literals; projection term order matches the Spark fold
    (left-assoc sum from 0.0) for bit-exact sign agreement."""
    planes = _plane_weights(n_planes, dim, seed)
    parts = []
    for p, row in enumerate(planes):
        proj = " + ".join(
            f"CAST({col}[{i + 1}] AS DOUBLE) * {row[i]:.1f}" for i in range(dim)
        )
        parts.append(f"(CASE WHEN ({proj}) > 0 THEN {2 ** p} ELSE 0 END)")
    return "(" + " + ".join(parts) + ")"


@register(
    "knn_lsh_topk",
    f"""
    WITH e AS (SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bkt
               FROM embeddings WHERE vec_id < 200),
    pairs AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             {_dot_sql('a.embedding', 'b.embedding')}
               / ({_norm_sql('a.embedding')} * {_norm_sql('b.embedding')}) AS sim
      FROM e a JOIN e b ON a.bkt = b.bkt AND a.vec_id <> b.vec_id)
    SELECT vec_id, rank, neighbor_id, round(sim, 6) AS cos_sim FROM (
      SELECT vec_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM pairs) t
    WHERE rank <= 3
    """,
)
def knn_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k (the 10^9-vector scale path).
    Fully oracle-gated: the hyperplane buckets are deterministic functions
    of the seeded +/-1 planes, so DuckDB reproduces bucket assignment,
    candidate restriction, and within-bucket exact ranking bit-for-bit."""
    emb = spread(load(spark, sf_dir, "embeddings").where("vec_id < 200"))
    return lsh_topk(emb, k=3, n_planes=6)


@register(
    "knn_recall_eval",
    f"""
    WITH corpus AS (SELECT vec_id, embedding FROM {_fixture_sql('ann_corpus.parquet')}),
    pairs AS (
      SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
             {_dot_sql('q.embedding', 'c.embedding')}
               / ({_norm_sql('q.embedding')} * {_norm_sql('c.embedding')}) AS sim
      FROM corpus q JOIN corpus c ON q.vec_id <> c.vec_id),
    exact AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT vec_id, neighbor_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, neighbor_id) AS rank
        FROM pairs) t WHERE rank <= 3),
    approx AS (SELECT method, vec_id, neighbor_id
               FROM {_fixture_sql('ann_approx.parquet')})
    SELECT method, count(*) AS n_pairs,
           round(CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / (SELECT count(*) FROM exact), 4) AS recall
    FROM approx a LEFT JOIN exact e
      ON a.vec_id = e.vec_id AND a.neighbor_id = e.neighbor_id
    GROUP BY method
    """,
)
def knn_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@3 of the engine's PERSISTED approximate ANN output
    (fixtures/ann_approx.parquet — LSH and IVF top-k over the fixture
    corpus, written by the engine itself) against an exact top-k that
    Spark and DuckDB each recompute independently. This is the quality
    gate the approximate indexes ship under: an ANN path whose recall
    is unmeasured is not deployable. sf-independent by design (the
    corpus rides in the fixture). See also tests/test_ann_recall.py,
    which regenerates the approximate results live and enforces the
    same floor."""
    corpus = spark.read.parquet(_fixture("ann_corpus.parquet"))
    approx = spark.read.parquet(_fixture("ann_approx.parquet"))
    # persisted: the exact ground truth feeds both the denominator count
    # and the hit join — one brute-force pass, not two
    exact = (
        brute_force_topk(corpus, corpus, k=3).select("vec_id", "neighbor_id").persist()
    )
    n_exact = exact.count()
    hits = approx.join(
        exact.withColumn("_hit", F.lit(1)), ["vec_id", "neighbor_id"], "left"
    )
    return hits.groupBy("method").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("double") / n_exact, 4).alias(
            "recall"
        ),
    )


@register(
    "knn_ivf_topk",
    f"""
    WITH cand AS (
      SELECT p.vec_id AS vec_id, c.vec_id AS neighbor_id
      FROM {_fixture_sql('ivf_probes.parquet')} p
      JOIN {_fixture_sql('ivf_cells.parquet')} c
        ON p.probe_cell = c.cell AND p.vec_id <> c.vec_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT cand.vec_id, cand.neighbor_id,
             {_dot_sql('a.embedding', 'b.embedding')}
               / ({_norm_sql('a.embedding')} * {_norm_sql('b.embedding')}) AS sim
      FROM cand JOIN embeddings a ON a.vec_id = cand.vec_id
                JOIN embeddings b ON b.vec_id = cand.neighbor_id)
    SELECT vec_id, rank, neighbor_id, round(sim, 6) AS cos_sim FROM (
      SELECT vec_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM pairs) t
    WHERE rank <= 3
    """,
)
def knn_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate top-k: coarse k-means quantizer trained
    driver-side on a seeded hash-ranked sample, candidates restricted to
    each query's n_probe nearest centroid cells, exact cosine rank
    within candidates. FULLY oracle-gated since r3: the engine's cell
    assignment and probe lists are persisted (fixtures/ivf_cells.parquet
    + ivf_probes.parquet, scripts/make_fixtures.py, same parameters and
    seed); DuckDB recomputes candidate generation and exact top-k over
    those cells, so the live query must reproduce the persisted index
    state bit-for-bit AND rank correctly — the same fixture pattern as
    dedup_simhash/knn_lsh_topk. Quality (recall@3 >= 0.9) is separately
    gated by knn_recall_eval. The fixture describes the sf0.01/0.001
    corpus (500 vectors, identical at both scale factors)."""
    from pasar_spark.functions.similarity import ivf_topk

    emb = spread(load(spark, sf_dir, "embeddings").where("vec_id < 500"))
    return ivf_topk(emb, k=3, n_cells=8, n_probe=6)


@register(
    "mm_feature_extract",
    f"""
    SELECT kind, count(*) AS n_media,
           count(DISTINCT payload) AS n_unique,
           CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes
    FROM {_fixture_sql('media.parquet')} GROUP BY kind
    """,
)
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction over binary media columns. Exercises
    the real 100 TB plumbing — mapInPandas over Arrow batches of binary
    payloads, metadata-only pruning — on the persisted media fixture.
    Oracle-gated: DuckDB recomputes the byte/uniqueness aggregates from
    the raw payload column (sha1 is injective over the corpus, so
    count(DISTINCT sha1) == count(DISTINCT payload))."""
    from pasar_spark.functions.multimodal import extract_features

    media = spark.read.parquet(_fixture("media.parquet"))
    feats = extract_features(media)
    return feats.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.countDistinct("sha1").alias("n_unique"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
    )


@register(
    "mm_frame_sample",
    f"""
    SELECT media_id,
           CAST((greatest(coalesce(duration_ms, 0), 1) + 499) // 500 AS BIGINT)
             AS n_frames,
           CAST(((greatest(coalesce(duration_ms, 0), 1) + 499) // 500 - 1) * 500
                AS INT) AS last_frame_ms
    FROM {_fixture_sql('media.parquet')}
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: 1 media row -> N frame rows via vectorized
    mapInPandas (output cardinality differs from input — why this is not
    a scalar UDF). Oracle-gated: frame counts and last-frame timestamps
    are closed-form in duration_ms, which DuckDB recomputes from the
    fixture's metadata columns."""
    from pasar_spark.functions.multimodal import sample_frames

    media = spark.read.parquet(_fixture("media.parquet"))
    frames = sample_frames(media, every_ms=500)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"), F.max("frame_ms").alias("last_frame_ms")
    )


@register(
    "mm_resize",
    f"""
    SELECT media_id, kind,
           CAST(CASE WHEN kind = 'image'
                     THEN round(width * least(32.0 / greatest(greatest(width, height), 1), 1.0))
                     ELSE width END AS INT) AS width,
           CAST(CASE WHEN kind = 'image'
                     THEN round(height * least(32.0 / greatest(greatest(width, height), 1), 1.0))
                     ELSE height END AS INT) AS height,
           (kind = 'image') AS has_ref
    FROM {_fixture_sql('media.parquet')}
    """,
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize-to-fit (max dim 32, aspect-preserving, never
    upscale) over the media fixture — the pre-training normalization
    step. The pixel transform is the declared stub; the CONTRACT is
    oracle-gated: output dimensions are a closed-form function of the
    input metadata, non-images pass through untouched, and exactly the
    image rows carry a re-encoded payload ref."""
    from pasar_spark.functions.multimodal import resize_media

    media = spark.read.parquet(_fixture("media.parquet"))
    out = resize_media(media, max_dim=32)
    return out.select(
        "media_id", "kind", "width", "height",
        F.col("payload_ref").isNotNull().alias("has_ref"),
    )
