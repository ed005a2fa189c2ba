"""Embedding similarity search + near-duplicate detection at scale.

Baseline: brute-force cosine top-k via built-in higher-order functions
(``zip_with`` dot product — JVM-side, codegen'd). Scale path: LSH
bucketing (random-hyperplane signs for cosine) so candidate generation is
a bucket-equi-join instead of a cross join — at 10^9 vectors the cross
join is off the table; the LSH join shuffles each side once on the
bucket key.

MinHash-LSH for set (shingle) similarity follows the classic
band/bucket construction: signature of H hashes split into B bands of R
rows; docs sharing any full band land in a candidate bucket; verified
pairs by exact Jaccard over shingle sets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pasar_spark.functions.text import minhash_from_shingles, shingles


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Shape: broadcast the (small) query side against the corpus, compute
    cosine JVM-side, rank per query. Columns: vec_id, rank, neighbor_id,
    cos_sim. Excludes self-matches.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    pairs = (
        c.join(F.broadcast(q), F.col("vec_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", cosine(F.col("_qv"), F.col("_cv")))
        .drop("_qv", "_cv")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "rank", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"))
    )


def _plane_weights(n_planes: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic +/-1 hyperplane weights, computed driver-side.

    hashlib (not Python's salted hash()) so the planes are stable across
    processes/runs — required for resume and for test reproducibility.
    """
    import hashlib

    out = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p}:{d}:{seed}".encode()).digest()
            row.append(1.0 if h[0] % 2 == 0 else -1.0)
        out.append(row)
    return out


def hyperplane_bucket(vec: Column, n_planes: int = 12, seed: int = 7, dim: int = 64) -> Column:
    """Random-hyperplane LSH bucket id for cosine similarity.

    Weights are precomputed driver-side and embedded as ONE array literal
    per plane (F.lit(list) -> a single Literal node) — versus building 64
    per-dimension conditional expressions, which made the generated code
    source huge and Janino compile time dominate cold runs. sign bits
    pack into an int bucket; no UDF, no stored model.
    """
    weights = _plane_weights(n_planes, dim, seed)
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(vec, F.lit(weights[p]), lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj > 0, F.lit(2**p).cast("long")).otherwise(F.lit(0))
    return bucket


def lsh_topk(
    df: DataFrame,
    k: int = 3,
    n_planes: int = 10,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k via hyperplane LSH — the 10^9-vector scale path.

    Classic multi-table construction: ``n_tables`` independent hash
    tables, each hashing into 2^n_planes buckets from its own seeded
    plane set; a pair is a candidate if it collides in ANY table. Recall
    is 1-(1-p^n_planes)^n_tables for per-plane agreement p — the
    (n_planes, n_tables) pair is the recall/cost dial, and recall is
    MEASURED, not assumed, by the knn_recall_eval registry gate
    (>= 0.9 on the fixture corpus at n_planes=4, n_tables=16).

    Scale shape: bucket assignment is one map pass; the per-table
    explode carries ONLY (vec_id, table, bucket) — vectors never ride
    the n_tables-way row multiplication (same ids-only discipline as the
    MinHash band explode); candidate generation is an equi-join on
    (table, bucket); vectors are re-joined for exact scoring of
    candidates only. No all-pairs stage anywhere.
    """
    from pyspark.sql import Window

    v = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"))
    if n_tables == 1:
        # no explode multiplication at L=1 — carry the vectors straight
        # through the single bucket equi-join (one shuffle per side,
        # no re-join); identical output to the general path
        b = v.select(
            "vec_id", "_v",
            hyperplane_bucket(F.col("_v"), n_planes, seed=seed, dim=dim).alias("_b"),
        )
        pairs = (
            b.join(
                b.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("_v").alias("_w"),
                    F.col("_b"),
                ),
                ["_b"],
            )
            .where(F.col("vec_id") != F.col("neighbor_id"))
            .withColumn("cos_sim", cosine(F.col("_v"), F.col("_w")))
        )
    else:
        sig = v.select(
            "vec_id",
            *[
                hyperplane_bucket(
                    F.col("_v"), n_planes, seed=seed + 100 * t, dim=dim
                ).alias(f"_b{t}")
                for t in range(n_tables)
            ],
        )
        banded = sig.select(
            "vec_id",
            F.explode(
                F.array(*[
                    F.struct(F.lit(t).alias("t"), F.col(f"_b{t}").alias("b"))
                    for t in range(n_tables)
                ])
            ).alias("_x"),
        ).select("vec_id", F.col("_x.t").alias("_t"), F.col("_x.b").alias("_b"))

        cand = (
            banded.select("_t", "_b", F.col("vec_id"))
            .join(
                banded.select("_t", "_b", F.col("vec_id").alias("neighbor_id")),
                ["_t", "_b"],
            )
            .where(F.col("vec_id") != F.col("neighbor_id"))
            .dropDuplicates(["vec_id", "neighbor_id"])
        )
        vb = v.select(F.col("vec_id").alias("neighbor_id"), F.col("_v").alias("_w"))
        pairs = cand.join(v, "vec_id").join(vb, "neighbor_id").withColumn(
            "cos_sim", cosine(F.col("_v"), F.col("_w"))
        )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "rank", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"))
    )


def _kmeans_fit(vectors, n_cells: int, seed: int, max_iter: int = 20):
    """Seeded k-means++ / Lloyd on an in-memory sample (numpy, driver).

    The coarse quantizer of an IVF index is a small-sample problem —
    FAISS trains it the same way (bounded sample, single node) — so
    running it through MLlib costs a Spark job PER LLOYD ITERATION for
    work that is microseconds of linear algebra. Deterministic for a
    fixed (sample, seed): numpy reductions have a fixed evaluation order.
    """
    import numpy as np

    x = np.asarray(vectors, dtype=np.float64)
    rng = np.random.RandomState(seed)
    # All distance math uses ||x||^2 - 2 x·cᵀ + ||c||^2 (gemm form):
    # O(n·k) memory instead of the (n, k, dim) broadcast intermediate,
    # which at train_cap=100k x 768 dims x k=8 was ~5 GB of transient
    # driver memory — a driver-OOM hazard for a "small-sample" trainer.
    xx = (x * x).sum(axis=1)

    def _d2_matrix(c: "np.ndarray") -> "np.ndarray":
        d2 = xx[:, None] - 2.0 * (x @ c.T) + (c * c).sum(axis=1)[None, :]
        return np.maximum(d2, 0.0)  # clamp fp cancellation below zero

    # kmeans++ seeding with a RUNNING min — O(n) per new center
    centers = [x[rng.randint(len(x))]]
    d2 = _d2_matrix(centers[0][None, :])[:, 0]
    for _ in range(1, n_cells):
        tot = d2.sum()
        if tot <= 0:
            nxt = x[rng.randint(len(x))]
        else:
            nxt = x[np.searchsorted(np.cumsum(d2 / tot), rng.rand())]
        centers.append(nxt)
        d2 = np.minimum(d2, _d2_matrix(nxt[None, :])[:, 0])
    c = np.stack(centers)
    for _ in range(max_iter):
        # (n, k) squared distances -> nearest-center assignment
        assign = _d2_matrix(c).argmin(axis=1)
        new_c = np.stack([
            x[assign == j].mean(axis=0) if (assign == j).any() else c[j]
            for j in range(n_cells)
        ])
        if np.allclose(new_c, c, atol=1e-9):
            c = new_c
            break
        c = new_c
    return [list(map(float, row)) for row in c]


def _ivf_base(
    df: DataFrame,
    n_cells: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
    seed: int,
    train_cap: int,
) -> DataFrame:
    """Shared IVF front half: train the quantizer, compute per-vector
    nearest cells. Returns a PERSISTED frame (vec_id, _v, _cells) where
    ``_cells`` is the n_probe nearest (distance, cell) structs ascending
    — element 1 is the assignment cell. Deterministic for a fixed
    (corpus, seed): seeded hash-ranked training sample, seeded k-means,
    pure-Catalyst distance expressions with cell-index tie-break."""
    feat = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"))
    # Arrow-path driver transfer (guide §6): the training sample crosses
    # to the driver as Arrow batches instead of pickled Rows — same rows,
    # same hash-ranked order, float32 -> float64 is exact, so the fitted
    # centroids are bit-identical (verified) while the per-run transfer
    # drops from ~0.6 s to ~0.4 s at the 20k-vector tier (and the row
    # path's first-call cost was 2.3 s).
    import numpy as np

    pdf = (
        feat.select("_v", F.xxhash64(F.col("vec_id"), F.lit(seed)).alias("_h"))
        .orderBy("_h", "vec_id")
        .limit(train_cap)
        .select("_v")
        .toPandas()
    )
    sample = np.asarray([np.asarray(v) for v in pdf["_v"]], dtype=np.float64)
    centroids = _kmeans_fit(sample, n_cells=n_cells, seed=seed)

    # distance to every centroid is a small literal-array expression
    # (n_cells x dim); ONE shared projection yields both the assignment
    # (nearest cell) and each query's n_probe probe list
    def _dist2(c: list[float]) -> Column:
        return F.aggregate(
            F.zip_with(F.col("_v"), F.lit(c), lambda x, w: (x.cast("double") - w) ** 2),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    cell_structs = F.array(*[
        F.struct(_dist2(c).alias("d"), F.lit(i).alias("cell"))
        for i, c in enumerate(centroids)
    ])
    # persisted: BOTH sides of the candidate join read this (probe
    # derivation and the corpus side) — without the cut point the scan +
    # n_cells distance expressions run twice
    return feat.withColumn(
        "_cells", F.slice(F.array_sort(cell_structs), 1, max(n_probe, 1))
    ).persist()


def ivf_cells(
    df: DataFrame,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    train_cap: int = 100_000,
) -> tuple[DataFrame, DataFrame]:
    """The IVF index state as plain id-keyed tables: (assignment, probes)
    = ((vec_id, cell), (vec_id, probe_cell)). This is what
    scripts/make_fixtures.py persists so the knn_ivf_topk oracle can
    recompute candidate top-k over the engine's own cells in DuckDB."""
    base = _ivf_base(
        df, n_cells=n_cells, n_probe=n_probe, id_col=id_col, vec_col=vec_col,
        seed=seed, train_cap=train_cap,
    )
    assigned = base.select(
        "vec_id", F.element_at("_cells", 1)["cell"].alias("cell")
    )
    probes = base.select(
        "vec_id", F.explode("_cells").alias("_p")
    ).select("vec_id", F.col("_p.cell").alias("probe_cell"))
    return assigned, probes


def ivf_topk(
    df: DataFrame,
    k: int = 3,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    train_cap: int = 100_000,
) -> DataFrame:
    """IVF-Flat approximate top-k cosine neighbors.

    Classic inverted-file ANN: (1) train a coarse k-means quantizer
    (seeded, deterministic); (2) assign every corpus vector to its
    nearest centroid cell; (3) for each query, probe its ``n_probe``
    nearest cells; (4) exact cosine rank within the probed candidates.

    Scale shape (10^9 vectors): the quantizer trains DRIVER-SIDE on a
    capped RANDOM sample — rows ranked by ``xxhash64(vec_id, seed)``,
    top ``train_cap`` taken (a TakeOrdered top-k, no full sort; the hash
    order is a seeded uniform permutation of ids, so the sample is
    unbiased even when the corpus is ordered by topic/time — a plain
    ``limit()`` prefix would train the quantizer on whatever slice the
    scan yields first). Deterministic for a fixed (corpus, seed); a
    coarse quantizer only needs enough points per cell, not the corpus
    (FAISS makes the same split). Everything after training is
    pure Catalyst: cell assignment and probe selection are one shared
    projection over literal centroid arrays (no MLlib job per Lloyd
    iteration, no VectorUDT conversion — replacing KMeans.fit cut this
    query's steady-state time ~2x); the candidate join is a cell-id
    equi-join — one shuffle per side, no cross join. The centroid table
    (n_cells x dim floats) rides in the plan as literals.
    """
    from pyspark.sql import Window

    base = _ivf_base(
        df, n_cells=n_cells, n_probe=n_probe, id_col=id_col, vec_col=vec_col,
        seed=seed, train_cap=train_cap,
    )
    assigned = base.select(
        "vec_id", "_v", F.element_at("_cells", 1)["cell"].alias("_cell")
    )
    probes = base.select(
        "vec_id", "_v", F.explode("_cells").alias("_p")
    ).select("vec_id", "_v", F.col("_p.cell").alias("_cell"))

    cand = probes.join(
        assigned.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("_v").alias("_w"),
            F.col("_cell"),
        ),
        ["_cell"],
    ).where(F.col("vec_id") != F.col("neighbor_id"))
    scored = cand.withColumn("cos_sim", cosine(F.col("_v"), F.col("_w"))).dropDuplicates(
        ["vec_id", "neighbor_id"]
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "rank", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"))
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 6,
    n_bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-duplicate pairs (hamming distance <= ``max_hamming``)
    via MULTI-INDEX Hamming search over DISTINCT signatures — the
    100 TB-safe shape.

    Candidate generation runs at the *distinct-signature* level with
    ``B = n_bands/2`` wide blocks of ``64/B`` bits each, allowing up to
    one mismatched bit per block: one side keys on the exact block value,
    the other side additionally emits every single-bit flip of its block
    (the standard multi-index/query-expansion construction, cf. Manku et
    al. WWW'07 and HmSearch). Pigeonhole: a pair within hamming h, with
    every block differing in >= 2 bits, would need h >= 2B — so for
    h <= 2B - 1 = n_bands - 1 at least one block differs in <= 1 bit and
    the pair collides. Same exact-recall guarantee as n_bands contiguous
    exact-match bands, but with block keys of 2x the width: candidate
    volume per bucket drops from O((n/2^8)^2) to O((n/2^16)^2) at
    n_bands=8, which is the difference between quadratic blowup and flat
    cost on corpora whose signature bits are correlated (real text).
    Measured at the 100k-doc tier: 5.43e9 candidate rows (8 exact bands)
    -> 1.66e8 (4 blocks, 1-flip expansion).

    Verification is inline — the 8-byte signature rides the block join,
    so ``bit_count(xor)`` filters candidates BEFORE the pair-level
    dedup, and no re-join with the signature table is needed. Identical
    signatures (exact duplicates — the common case in a dedup corpus)
    never enter the block join at all: they are expanded afterwards by
    joining doc ids back on the signature value, plus a same-signature
    clique expansion (hamming 0).

    Requires ``max_hamming <= n_bands - 1`` (asserted) and 64 % n_bands
    == 0. Returns (id_a, id_b, hamming).
    """
    from pasar_spark.functions.text import hamming64, simhash

    if max_hamming > n_bands - 1:
        raise ValueError(
            f"recall guarantee needs n_bands >= max_hamming + 1 "
            f"(got n_bands={n_bands}, max_hamming={max_hamming})"
        )
    if 64 % n_bands != 0:
        raise ValueError("64 must divide evenly into n_bands")

    # signatures are 16 bytes/doc — persist so the distinct pass, the
    # clique expansion, and the doc-id re-attach share one computation
    # of the text aggregate
    from pyspark import StorageLevel

    sig = docs.select(
        F.col(id_col).alias("doc_id"), simhash(F.col(text_col)).alias("sig")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # hamming==0 pairs: clique expansion within each identical-signature
    # group (equi-join on the signature value — output-sized work)
    same = (
        sig.join(sig.select(F.col("doc_id").alias("id_b"), "sig"), "sig")
        .where(F.col("doc_id") < F.col("id_b"))
        .select(
            F.col("doc_id").alias("id_a"),
            "id_b",
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    if max_hamming == 0 or n_bands < 2:
        # exact-duplicate mode (n_bands=1 forces max_hamming=0 above)
        return same

    n_blocks = n_bands // 2
    width = 64 // n_blocks

    def _blockval(i: int) -> Column:
        c = F.shiftright("sig", width * i)
        if width < 64:
            # arithmetic shift + mask = the i-th width-bit chunk; sign
            # extension is masked off, identical across engines
            c = c.bitwiseAND(F.lit((1 << width) - 1))
        return c

    # Explicit fan-out repartition (guide: partitioning must match the
    # WORK, not the bytes): the distinct-signature set is tiny in bytes
    # (8 B/row), so AQE's byte-based coalescing collapses its exchange to
    # ONE partition — and every downstream row then fans out x(1 + width)
    # variants x ~dozens of hash-map matches inside a single task (the
    # measured pathology: a 116 s serial stage on a 32-core box). A
    # user-specified repartition is exempt from AQE coalescing and sizes
    # the stage to the cluster, not to the 8-byte rows.
    usig = sig.select("sig").distinct().repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    blocks = usig.select(
        "sig",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("blk"), _blockval(i).alias("val"))
                for i in range(n_blocks)
            ])
        ).alias("_b"),
    ).select("sig", F.col("_b.blk").alias("blk"), F.col("_b.val").alias("val")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # Materialize EAGERLY, which fills the ``sig`` cache too (it is the
    # child): six independent subtrees consume the two caches (clique
    # join x2, exact + probe block sides, both doc-id re-attach sides),
    # and their map/broadcast stages are submitted concurrently within
    # one action — measured, each raced to compute the still-empty cache
    # partitions, re-running the signature stage 3-4x per query and the
    # distinct twice (AQE does not reuse the identical exchange). One
    # up-front job computes both exactly once; every later stage is a
    # pure InMemoryTableScan.
    blocks.count()
    # probe side: the block value itself plus every single-bit flip of it
    # (bit width-1 of a 64-bit block is the sign bit: -(1<<63) as a long)
    flip_lits = [
        F.lit(-(1 << 63) if j == 63 else 1 << j) for j in range(width)
    ]
    probe = blocks.select(
        F.col("sig").alias("_sb"),
        "blk",
        F.explode(
            F.array(F.col("val"), *[F.col("val").bitwiseXOR(m) for m in flip_lits])
        ).alias("val"),
    )
    # Join strategy pinned to SHUFFLED-HASH with the EXACT side as build
    # (guide §3.1: pick the strategy deliberately). Left to itself the
    # planner BROADCASTS the probe side: its size estimate comes from the
    # tiny cached block table and does not account for the (1 + width)x
    # Generate fan-out, so "1.5 MB" turns into millions of exploded rows
    # collected single-threaded on the driver per run (measured: 4.6 s/run
    # vs 2.2 s with the hint, same window, identical output). Shuffled
    # hash is also the honest 100 TB shape — the exact side is 4 rows per
    # distinct signature and hashes per partition; no driver collect, no
    # broadcast cap, AQE skew splitting still applies. Hot (blk, val)
    # buckets concentrate per key-partition under hash partitioning, but
    # a single 16-bit block value holds ~n/2^16 signatures — bounded fan-in
    # that AQE's skew-join handling can split further if one key runs hot.
    cand = (
        blocks.select(F.col("sig").alias("_sa"), "blk", "val")
        .hint("shuffle_hash")
        .join(probe, ["blk", "val"])
        .where(F.col("_sa") < F.col("_sb"))
        .withColumn("hamming", hamming64(F.col("_sa"), F.col("_sb")).cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["_sa", "_sb"])
        .select("_sa", "_sb", "hamming")
    )
    # re-attach doc ids: every doc of sig _sa pairs with every doc of
    # sig _sb (cross-group expansion is exactly the output, no more)
    a = sig.select(F.col("doc_id").alias("_ida"), F.col("sig").alias("_sa"))
    b = sig.select(F.col("doc_id").alias("_idb"), F.col("sig").alias("_sb"))
    cross = (
        cand.join(a, "_sa")
        .join(b, "_sb")
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            "hamming",
        )
    )
    return same.unionByName(cross)


def minhash_lsh_pairs(
    docs: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    jaccard_threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    cache_handle: list | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs with exact-Jaccard
    verification. Returns (id_a, id_b, jaccard). Candidate generation is
    a band-bucket equi-join; verification re-joins shingle sets only for
    candidates (the 100 TB-safe shape: no all-pairs stage anywhere)."""
    rows = n_hashes // bands
    # Materialize the shingle array ONCE and persist it: the signature,
    # the band explode, and BOTH sides of the verification join read it.
    # Without the persist, the plan scans the corpus and recomputes the
    # tokenize+shingle projection 6-8x (measured). MEMORY_AND_DISK so a
    # 100 TB corpus spills instead of OOMing; the shingle stage is the
    # natural cut point (smallest payload that every consumer needs).
    # Lifecycle: the cache lives as long as the returned DataFrame — once
    # the caller drops it, Spark's ContextCleaner reclaims the storage.
    # Callers that LOOP within one session should pass ``cache_handle``
    # (a list) and unpersist the appended DataFrame once the result is
    # consumed, instead of waiting on the GC-driven cleaner.
    from pyspark import StorageLevel

    from pyspark.sql import Window

    # Canonical SET form: distinct + sorted. MinHash signatures, band
    # buckets and exact Jaccard are all functions of the shingle SET, so
    # docs with identical sets are indistinguishable to every stage of
    # this pipeline. A dedup corpus is by construction full of identical
    # sets (that is what it exists to find), so the whole LSH + verify
    # pipeline runs on DISTINCT-set representatives — half the signature
    # work and a quarter of the candidate pairs on a corpus of pure
    # copies — and doc ids are re-attached at output cost (guide §8:
    # decide with small rows, expand once).
    shs = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_sort(
            F.array_distinct(shingles(F.col(text_col), shingle_n))
        ).alias("_sh"),
    )
    # ONE shuffle of the heavy arrays groups identical sets; the group
    # representative is the smallest doc id (no collected id lists — a
    # viral 10M-copy doc must not become one giant array row). The
    # partition key leads with a 64-bit hash of the array so the window
    # sort resolves comparisons on a long; the array stays in the key,
    # so grouping is exact even under hash collisions.
    # The explicit repartition satisfies the window's required
    # distribution with a USER-SPECIFIED partition count: left to
    # ENSURE_REQUIREMENTS, AQE coalesces the (byte-cheap, compute-heavy)
    # exchange to 1-2 partitions and the window sort, the cached
    # partitions, and every downstream cache read serialize onto one
    # core (measured: 3 consecutive single-task 1-5 s stages per query).
    par = docs.sparkSession.sparkContext.defaultParallelism
    m = (
        shs.withColumn("_h", F.xxhash64("_sh"))
        .repartition(par, "_h", "_sh")
        .select(
            "doc_id",
            "_sh",
            F.min("doc_id").over(Window.partitionBy("_h", "_sh")).alias("_rep"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if cache_handle is not None:
        cache_handle.append(m)
    mapping = m.select("doc_id", "_rep")
    reps = m.where(F.col("doc_id") == F.col("_rep")).select("doc_id", "_sh")
    sig = reps.select(
        "doc_id",
        minhash_from_shingles(F.col("_sh"), n_hashes).alias("_sig"),
        # set size rides the band explode (4 bytes) to power the exact
        # size-ratio prefilter below: inter <= min(|A|,|B|) and
        # union >= max(|A|,|B|), so j <= min/max — a pair failing
        # min/max >= threshold can never verify, and dropping it before
        # the array joins is exact (guide §2.3: shuffle keys and
        # metadata, not payloads; the array only moves for pairs that
        # can still win)
        F.size("_sh").alias("_n"),
    )
    # Band explode carries ONLY (doc_id, band, bucket) — never the shingle
    # arrays. At 10^9 docs the explode multiplies rows by `bands`; dragging
    # the shingle payload through it would multiply the shuffle volume by
    # bands x avg-shingle-bytes. Verification re-joins shingles by doc_id
    # for candidate pairs only.
    banded = sig.select(
        "doc_id",
        "_n",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.xxhash64(
                        F.concat_ws(",", *[
                            F.element_at("_sig", i * rows + r + 1).cast("string")
                            for r in range(rows)
                        ])
                    ).alias("bucket"),
                )
                for i in range(bands)
            ])
        ).alias("_b"),
    ).select(
        "doc_id", "_n", F.col("_b.band").alias("band"), F.col("_b.bucket").alias("bucket")
    ).repartition(
        # persist ALREADY HASH-PARTITIONED on the join key: both sides
        # of the candidate self-join require hashpartitioning(band,
        # bucket) and read the cached partitioning directly instead of
        # re-shuffling the banded table twice (AQE exchange reuse does
        # not collapse the two identical exchanges)
        docs.sparkSession.sparkContext.defaultParallelism, "band", "bucket"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # Materialize EAGERLY, which fills the set-group cache too (it is
    # the child): four independent subtrees otherwise race to compute
    # the still-empty caches within one action — measured, the shingle +
    # 32-lane signature stage ran FOUR times per query (both banded join
    # sides and both verification sides). One up-front job computes the
    # shingles and signatures exactly once.
    banded.count()
    if cache_handle is not None:
        cache_handle.append(banded)

    left = banded.select(
        "band", "bucket", F.col("doc_id").alias("id_a"), F.col("_n").alias("_na")
    )
    right = banded.select(
        "band", "bucket", F.col("doc_id").alias("id_b"), F.col("_n").alias("_nb")
    )
    cand = (
        left.join(right, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        # exact size-ratio prefilter: j = inter/union <= min/max, so any
        # pair with min/max < threshold can never pass the exact-Jaccard
        # gate — drop it BEFORE the pair dedup and the array joins. The
        # 1e-9 slack guards the double multiply from falsely excluding a
        # boundary pair; false inclusions are verified exactly below.
        # Measured at the sf1 tier: 94k candidate pairs -> ~1k surviving,
        # i.e. the shingle arrays now move only for near-winners.
        .where(
            F.least("_na", "_nb").cast("double")
            >= F.lit(jaccard_threshold - 1e-9) * F.greatest("_na", "_nb").cast("double")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sha = reps.select(F.col("doc_id").alias("id_a"), F.col("_sh").alias("_sha"))
    shb = reps.select(F.col("doc_id").alias("id_b"), F.col("_sh").alias("_shb"))
    inter = F.size(F.array_intersect("_sha", "_shb")).cast("double")
    # |A ∪ B| = |A| + |B| - |A ∩ B| for (distinct-element) sets — the
    # sizes already ride the candidate row, so the second O(n) array op
    # per pair (array_union) is free arithmetic instead
    union = (F.col("_na") + F.col("_nb")).cast("double") - inter
    rep_pairs = (
        cand.join(sha, "id_a")
        .join(shb, "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # identical-set pairs: jaccard of two identical (never-empty) shingle
    # sets is exactly 1.0, and identical signatures collide in every
    # band — clique expansion within each set group, no array work
    same = (
        mapping.join(mapping.select(F.col("doc_id").alias("id_b"), "_rep"), "_rep")
        .where(F.col("doc_id") < F.col("id_b"))
        .select(
            F.col("doc_id").alias("id_a"), "id_b", F.lit(1.0).alias("jaccard")
        )
    )
    # re-attach doc ids to cross-set rep pairs: every doc of set id_a
    # pairs with every doc of set id_b (output-sized expansion)
    ma = mapping.select(F.col("_rep").alias("id_a"), F.col("doc_id").alias("_ida"))
    mb = mapping.select(F.col("_rep").alias("id_b"), F.col("doc_id").alias("_idb"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            "jaccard",
        )
    )
    return same.unionByName(cross)
