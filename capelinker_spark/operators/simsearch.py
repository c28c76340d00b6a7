"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k as the exact baseline; two sub-quadratic scale
paths: random-hyperplane LSH bucketing and a driver-seeded IVF (inverted
file) with k-means-lite centroids. All vector math is native (``zip_with`` +
``aggregate`` run in codegen) — no Python on the scoring path; the only
driver work is sampling centroids/hyperplanes (seeded, deterministic).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


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


def _lit_vec(v) -> Column:
    return F.array(*[F.lit(float(x)) for x in v])


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the corpus,
    rank per query. Returns (query_id, neighbor_id, cos_sim, rank)."""
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", cosine(F.col("_qv"), F.col("_cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def make_planes(dim: int, n_planes: int = 8, seed: int = 42) -> np.ndarray:
    return np.random.default_rng(seed).normal(size=(n_planes, dim))


def multitable_buckets(vec: Column, planes: np.ndarray, n_tables: int) -> Column:
    """Array of per-table bucket keys: planes are sliced into ``n_tables``
    bands of ``len(planes)//n_tables`` hyperplanes each (classic L-table LSH —
    one table's collision probability is p^b; L tables lift recall to
    1-(1-p^b)^L)."""
    b = len(planes) // n_tables
    keys = []
    for t in range(n_tables):
        bits = [
            F.when(dot(vec, _lit_vec(p)) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for p in planes[t * b : (t + 1) * b]
        ]
        keys.append(F.concat(F.lit(f"{t}:"), *bits))
    return F.array(*keys)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    n_tables: int = 8,
    bits_per_table: int = 4,
    seed: int = 42,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: L-table hyperplane LSH — explode each row into its
    L bucket keys, equi-join, dedup pairs, rank by exact cosine within the
    candidate set. The scale path when the query set isn't broadcastable."""
    planes = make_planes(dim, n_tables * bits_per_table, seed)
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.explode(multitable_buckets(F.col(vec_col), planes, n_tables)).alias("_bucket"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        F.explode(multitable_buckets(F.col(vec_col), planes, n_tables)).alias("_bucket"),
    )
    cand = (
        q.join(c, "_bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "_qv", "neighbor_id", "_cv")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.withColumn("cos_sim", cosine(F.col("_qv"), F.col("_cv")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    sample_size: int = 10_000,
    iterations: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """k-means-lite on a driver-side sample (seeded numpy Lloyd iterations).
    The centroid table is tiny — classic IVF coarse quantizer."""
    sample = np.array(
        [
            r["v"]
            for r in corpus.select(F.col(vec_col).alias("v"))
            .limit(sample_size)
            .collect()
        ],
        dtype="float64",
    )
    rng = np.random.default_rng(seed)
    idx = rng.choice(len(sample), size=min(n_centroids, len(sample)), replace=False)
    return _lloyd(sample, sample[idx], iterations)


def _lloyd(points: np.ndarray, init_centroids: np.ndarray, iterations: int) -> np.ndarray:
    """``iterations`` Lloyd (k-means) rounds from ``init_centroids``
    (copied): assign each point to its nearest centroid by squared L2,
    then move each centroid that won points to their mean; a centroid
    that won none stays put."""
    cents = init_centroids.copy()
    for _ in range(iterations):
        d = ((points[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for c in range(len(cents)):
            members = points[assign == c]
            if len(members):
                cents[c] = members.mean(0)
    return cents


def assign_ivf_cell(vec: Column, centroids: np.ndarray) -> Column:
    """Nearest-centroid id, native: argmax of dot-with-centroid minus half
    squared norm (equivalent to min L2)."""
    scores = F.array(
        *[
            dot(vec, _lit_vec(c)) - F.lit(float((c**2).sum() / 2.0))
            for c in centroids
        ]
    )
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def _probe_cells(qv: Column, centroids: np.ndarray, nprobe: int) -> Column:
    """The query's ``nprobe`` nearest cell ids (array<int>), native:
    score every centroid with the dot−½‖c‖² trick, sort desc, slice."""
    cell_scores = F.array(
        *[
            F.struct(
                (
                    dot(qv, _lit_vec(cc)) - F.lit(float((cc**2).sum() / 2.0))
                ).alias("s"),
                F.lit(i).alias("cell"),
            )
            for i, cc in enumerate(centroids)
        ]
    )
    return F.transform(
        F.slice(F.reverse(F.array_sort(cell_scores)), 1, nprobe),
        lambda s: s["cell"],
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 2,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: corpus rows live in their nearest-centroid cell; each
    query probes its ``nprobe`` nearest cells (exploded) and ranks within.
    One equi-join on cell id — the partition-pruned ANN pattern."""
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        assign_ivf_cell(F.col(vec_col), centroids).alias("_cell"),
    )
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("_qv")
    ).withColumn(
        "_cell", F.explode(_probe_cells(F.col("_qv"), centroids, nprobe))
    )
    scored = (
        q.join(c, "_cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", cosine(F.col("_qv"), F.col("_cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    dim: int | None = None,
    n_tables: int = 6,
    bits_per_table: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs: L-table hyperplane-bucket self-join +
    exact cosine ≥ threshold. Returns (id_a, id_b, cos_sim). Near-identical
    vectors (cos ≥ 0.95) collide in ≥1 of the L tables with probability
    ≈ 1-(1-p^b)^L, p = 1-θ/π ≈ 0.94 at the threshold.

    ``dim`` is REQUIRED: inferring it from the data would run a hidden
    driver action (``.first()``) during plan construction — a surprise job,
    and a crash on an empty/streaming frame (round-2 advice). Callers know
    their embedding dimension; plan construction stays action-free
    (asserted by tests/test_simsearch.py with a job listener)."""
    if dim is None:
        raise ValueError(
            "dim is required: pass the embedding dimension explicitly "
            "(inferring it would run a hidden driver action during plan "
            "construction)"
        )
    planes = make_planes(dim, n_tables * bits_per_table, seed)
    t = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.explode(multitable_buckets(F.col(vec_col), planes, n_tables)).alias("_bucket"),
    )
    a = t.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"), "_bucket")
    b = t.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), "_bucket")
    return (
        a.join(b, "_bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", cosine(F.col("_va"), F.col("_vb")))
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
        .distinct()
    )


def embedding_dedup_canonical(
    df: DataFrame,
    threshold: float = 0.95,
    dim: int | None = None,
    quantize: int | None = None,
    n_tables: int = 6,
    bits_per_table: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs → transitive clusters → canonical vector per
    cluster (min id; singletons keep their own id) — the embedding-space
    analog of dedup.near_duplicate_clusters, same output contract
    (id, canonical_id; filter ``id == canonical_id`` keeps one
    representative per cluster).

    ``quantize``: round the cosine to this many decimals BEFORE the
    threshold (the module convention for engine-portable edge sets)."""
    from capelinker_spark.operators.cluster import connected_components

    pairs = embedding_near_duplicates(
        df, -1.0, dim, n_tables, bits_per_table, seed, id_col, vec_col
    )
    sim = F.col("cos_sim")
    if quantize is not None:
        sim = F.round(sim, quantize)
    edges = pairs.where(sim >= threshold).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(edges)
    return (
        df.select(id_col)
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("component"), F.col(id_col)).alias("canonical_id"),
        )
    )


def l2_normalize(vec: Column) -> Column:
    """Native L2 normalization — PQ's asymmetric distance approximates
    the DOT product, so for cosine ranking encode (and query with)
    normalized vectors.

    The norm is evaluated ONCE per row (as an argument to
    ``array_repeat``, outside the per-element lambda) — a
    ``norm(vec)`` inside the ``transform`` lambda would re-run the
    full-array aggregate per element, O(dim^2) per row."""
    return F.zip_with(
        vec,
        F.array_repeat(norm(vec), F.size(vec)),
        lambda x, n: x.cast("double") / n,
    )


def train_pq_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    sample_size: int = 10_000,
    iterations: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Product-quantization codebooks ``(m, k, dim//m)``: the vector is
    split into ``m`` subvectors and each subspace gets its own ``k``-
    centroid k-means (driver-side, seeded, over a bounded sample — the
    same discipline as ``train_ivf_centroids``). With float32 corpora a
    (m=8, k=16) code is 8 small ints per vector vs ``dim`` floats — the
    compression that lets a 100-TB embedding table's scan tier fit in
    memory for re-ranking."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sample = np.array(
        [
            r["v"]
            for r in corpus.select(F.col(vec_col).alias("v"))
            .limit(sample_size)
            .collect()
        ],
        dtype="float64",
    )
    if len(sample) == 0:
        raise ValueError(
            "no vectors to train PQ codebooks (empty corpus/sample)"
        )
    d = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, k, d))
    for j in range(m):
        sub = sample[:, j * d:(j + 1) * d]
        idx = rng.choice(len(sub), size=min(k, len(sub)), replace=False)
        cents = _lloyd(sub, sub[idx], iterations)
        books[j, : len(cents)] = cents
        if len(cents) < k:
            books[j, len(cents):] = cents[-1]
    return books


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out: str = "pq_code",
) -> DataFrame:
    """Encode vectors to ``array<int>`` PQ codes, NATIVE: per subvector,
    nearest centroid by the same dot−½‖c‖² argmax trick as
    ``assign_ivf_cell`` — no Python in the encode scan."""
    return df.select(
        F.col(id_col), _pq_code_column(vec_col, codebooks).alias(out)
    )


def _pq_code_column(vec_col: str, codebooks: np.ndarray) -> Column:
    """The PQ code as a Column (shared by ``pq_encode`` and
    ``ivfpq_index``)."""
    m, k, d = codebooks.shape
    codes = []
    for j in range(m):
        sub = F.slice(F.col(vec_col), j * d + 1, d)
        # ONE transform over the literal centroid matrix: generated code
        # is constant in k (a per-centroid expression list re-inlines the
        # subvector k times and trips the 64 KB codegen limit at real
        # codebook sizes); the centroid norms fold in as literals
        cents = F.array(*[_lit_vec(c) for c in codebooks[j]])
        norms = _lit_vec([float((c**2).sum() / 2.0) for c in codebooks[j]])
        scores = F.zip_with(
            cents, norms, lambda c, hn: dot(sub, c) - hn
        )
        codes.append(
            (F.array_position(scores, F.array_max(scores)) - 1).cast("int")
        )
    return F.array(*codes)


def pq_topk(
    queries: DataFrame,
    corpus_codes: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query builds
    its m×k lookup table of exact subvector dots ONCE (a per-row native
    expression), then every corpus code scores as m table lookups + adds
    — the compressed-scan tier (`brute_force_topk` reads dim floats per
    pair; this reads m small ints). Returns approximate-dot ranking
    ``(query_id, neighbor_id, approx_dot, rank)``; re-rank the survivors
    with exact vectors when precision matters (the standard
    IVF/PQ + rerank composition).

    Scale shape: broadcast the (small) query-side LUT rows against the
    code table — the corpus never shuffles; the only exchange is the
    per-query top-k window on the candidate set."""
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("_qv")
    ).withColumn("_lut", _query_lut(codebooks)).drop("_qv")
    scored = (
        corpus_codes.select(
            F.col(corpus_id).alias("neighbor_id"), F.col(code_col).alias("_c")
        )
        .crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("approx_dot", _adc_score(codebooks.shape[0]))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_dot"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_dot", "rank")
    )


def _query_lut(codebooks: np.ndarray) -> Column:
    """The per-query m×k ADC lookup table (array<array<double>>) of exact
    subvector dots against every centroid, computed from ``_qv``."""
    m, kk, d = codebooks.shape

    def _sub_lut(j: int) -> Column:
        # closure factory, NOT a default-arg lambda: a two-arg lambda is
        # read by PySpark as the (element, index) transform variant and
        # the second arg silently becomes the index column
        return F.transform(
            F.array(*[_lit_vec(codebooks[j][c]) for c in range(kk)]),
            lambda c: dot(F.slice(F.col("_qv"), j * d + 1, d), c),
        )

    return F.array(*[_sub_lut(j) for j in range(m)])


def _adc_score(m: int) -> Column:
    """Asymmetric-distance score: sum over the ``m`` subspaces of the
    ``_lut`` entry picked by each code in ``_c`` — m lookups + adds per
    (query, code) pair, no float-vector reads."""
    return F.aggregate(
        F.zip_with(
            F.col("_c"),
            F.sequence(F.lit(1), F.lit(m)),
            lambda c, j: F.element_at(F.element_at("_lut", j), c + 1),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ivfpq_index(
    corpus: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVFADC index table ``(id, ivf_cell, pq_code)``: every corpus
    vector is assigned its nearest coarse cell AND its PQ code in one
    native scan (no shuffle — both are per-row expressions). Persist
    this partitioned by ``ivf_cell`` at scale so probes prune files.

    Codes quantize the RAW vector (not the residual): the codebooks come
    from :func:`train_pq_codebooks` unchanged, queries reuse one LUT for
    all probed cells, and the exact-rerank tier absorbs the precision
    difference. Residual encoding would need per-cell query LUTs
    (nprobe× the LUT work) for a finer code — a documented trade, not an
    omission."""
    return corpus.select(
        F.col(id_col),
        assign_ivf_cell(F.col(vec_col), centroids).alias("ivf_cell"),
        _pq_code_column(vec_col, codebooks).alias("pq_code"),
    )


def ivfpq_topk(
    queries: DataFrame,
    index: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC: each query probes its ``nprobe`` nearest coarse cells and
    ADC-scans ONLY the codes in those cells — the composition the plain
    ``pq_topk`` full scan lacks. One equi-join on ``ivf_cell`` (the
    partition-pruned ANN pattern, same join shape as ``ivf_topk``)
    carries the per-query LUT to the probed cells; at 100 TB the code
    table is bucketed/partitioned by cell so the probe is a partition-
    pruned scan of ~nprobe/n_cells of the corpus, not a full pass.

    Returns ``(query_id, neighbor_id, approx_dot, rank)`` — re-rank the
    survivors against exact vectors when precision matters."""
    q = (
        queries.select(
            F.col(query_id).alias("query_id"), F.col(vec_col).alias("_qv")
        )
        .withColumn("_lut", _query_lut(codebooks))
        .withColumn(
            "ivf_cell", F.explode(_probe_cells(F.col("_qv"), centroids, nprobe))
        )
        .drop("_qv")
    )
    scored = (
        index.select(
            F.col(corpus_id).alias("neighbor_id"),
            "ivf_cell",
            F.col("pq_code").alias("_c"),
        )
        .join(F.broadcast(q), "ivf_cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("approx_dot", _adc_score(codebooks.shape[0]))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_dot"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_dot", "rank")
    )
