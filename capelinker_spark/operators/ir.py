"""Keyword retrieval over the document corpus: BM25 ranking expressed as
pure DataFrame algebra — the lexical complement of the embedding ANN
family (``operators/simsearch.py``) for training-data curation jobs that
select or audit documents by query (e.g. pulling eval-adjacent pages, or
building retrieval-labeled finetuning sets).

Scale shape (the inverted-index pattern without materializing an index):

* the postings table ``(doc, term, tf)`` is ONE shuffle of the exploded
  token stream (map-side-combinable hash-agg);
* document frequencies aggregate from the postings (second combinable
  agg, term-keyed);
* the query-term table is query-sized and BROADCASTS — the corpus never
  shuffles on the term key for scoring;
* per-(query, doc) score accumulation is bounded by matched postings,
  and the final top-k is a per-query window.

At 100 TB the postings + df tables are the thing you persist (partition
by term bucket); this module recomputes them inline because the engine's
checkpoint story lives in ``StageRunner``, not in each operator.

Exactness tiers (the j4 idf convention): the production path computes
idf with JVM ``F.log``; the oracle tier quantizes idf to LONGs with the
libm log of ``functions/libm.py`` (bit-identical to DuckDB's ``ln``) and
accumulates per-term contributions as DECIMAL(38,6) so the sum is
order-independent under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from capelinker_spark.functions import libm

TOKEN_PATTERN = "[a-z0-9]+"


def tokens(text: Column) -> Column:
    """Lowercased alphanumeric tokens — deliberately the simplest
    dialect-safe class (identical semantics in Spark and DuckDB
    ``regexp_extract_all``)."""
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_PATTERN), 0)


def postings(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The ``(id, term, tf)`` postings table plus per-doc length ``dl``:
    one explode + one hash-agg (term frequencies), with the doc length
    carried through the same agg (sum of tf) instead of a second scan."""
    t = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = t.groupBy(id_col, "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    return tf.join(dl, id_col)


def _idf_quantized(df_table: DataFrame, scale: int) -> DataFrame:
    """Robertson idf ``ln((N - df + 0.5)/(df + 0.5) + 1)`` quantized to
    ``floor(idf*scale + 0.5)`` LONGs, the log taken by
    :mod:`capelinker_spark.functions.libm` (a floor boundary would amplify
    a 1-ulp JVM log). ``_n`` (corpus size) must already ride the table."""
    n, d = F.col("_n"), F.col("_df")
    idf = libm.ln((n - d + 0.5) / (d + 0.5) + 1.0)
    return df_table.withColumn("_idfq", F.floor(idf * scale + 0.5).cast("long"))


def bm25_topk(
    docs: DataFrame,
    query_terms: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id: str = "query_id",
    term_col: str = "term",
    idf_quant: int | None = None,
) -> DataFrame:
    """BM25 top-k: rank documents per query by
    ``sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))`` over
    the query's terms. ``query_terms`` is a ``(query_id, term)`` table
    (terms should be pre-tokenized with :func:`tokens` semantics —
    lowercase alphanumeric).

    Returns ``(query_id, doc id, score, rank)``, ties broken by doc id.

    ``idf_quant=None`` is the production path (JVM log, plain double
    sum). An integer ``idf_quant`` (e.g. 1_000_000) selects the
    oracle-exact tier: libm-log idf quantized to longs, each term
    contribution rounded to 6 decimals and accumulated as DECIMAL(38,6)
    — bit-identical to the DuckDB mirror under any partitioning.

    ``N`` (corpus size) and ``avgdl`` are 1-row aggregates joined in
    LAZILY (crossJoin of a 1-row frame — no eager driver action, the
    ts9/j4 lazy-scalar convention)."""
    post = postings(docs, text_col, id_col)
    # corpus stats WITHOUT aggregating the postings table: N = docs with
    # >= 1 token == count_distinct(id) over postings, and avgdl =
    # total token instances / N == sum(tf)/count_distinct(id) — same
    # LONG sums, same single division, over a plain size() scan with no
    # explode and no (id, term) shuffle (guide §2.3: aggregate the
    # cheapest equivalent input)
    tl = docs.select(
        F.col(id_col), F.size(tokens(F.col(text_col))).alias("_dl")
    ).where(F.col("_dl") > 0)
    stats = tl.groupBy().agg(
        F.count_distinct(id_col).cast("long").alias("_n"),
        (F.sum("_dl").cast("double")
         / F.count_distinct(id_col).cast("double")).alias("_avgdl"),
    )
    q_terms = query_terms.select(F.col(term_col).alias("term")).distinct()
    # df from UNIQUE (doc, term) postings rows, restricted to the QUERY
    # terms — only those idf values are ever joined into `matched`, so
    # the per-term aggregation (and the libm idf quantizer below)
    # runs over the query vocabulary instead of the corpus vocabulary;
    # _n rides via the 1-row stats frame, no driver collect
    dfreq = (
        post.join(F.broadcast(q_terms), "term")
        .groupBy("term").agg(F.count("*").cast("long").alias("_df"))
        .crossJoin(F.broadcast(stats))
    )
    if idf_quant:
        idf = _idf_quantized(dfreq, idf_quant).select(
            "term", F.col("_idfq").cast("double").alias("_idf"), "_avgdl"
        )
        scale = float(idf_quant)
    else:
        idf = dfreq.select(
            "term",
            F.log(
                (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
                + 1.0
            ).alias("_idf"),
            "_avgdl",
        )
        scale = 1.0
    q = query_terms.select(
        F.col(query_id).alias("query_id"), F.col(term_col).alias("term")
    ).distinct()
    matched = post.join(F.broadcast(q), "term").join(idf, "term")
    tf_part = (
        F.col("tf").cast("double") * (1.0 + k1)
        / (
            F.col("tf").cast("double")
            + k1 * (1.0 - b + b * F.col("dl").cast("double") / F.col("_avgdl"))
        )
    )
    contrib = F.col("_idf") * tf_part
    if idf_quant:
        # round each contribution, sum exactly in DECIMAL, de-scale once:
        # order-independent, and the oracle does the identical arithmetic
        per_term = F.round(contrib, 6).cast("decimal(38,6)")
        score = (F.sum(per_term).cast("double") / F.lit(scale)).alias("score")
    else:
        score = F.sum(contrib).alias("score")
    scored = matched.groupBy("query_id", id_col).agg(score)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k0: int = 60,
    k: int = 10,
    id_col: str = "doc_id",
    query_col: str = "query_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher SIGIR'09) of
    N per-query rankings — the standard hybrid-retrieval combiner
    (lexical BM25 + dense ANN) because it needs NO score calibration:
    each system contributes 1/(k0 + rank), so only rank positions
    matter and differently-scaled scores fuse safely.

    Each input carries ``(query_col, id_col, rank)``; a document absent
    from a system's list simply contributes nothing (the union-then-
    aggregate form IS the N-way full-outer join, without join nodes).

    Exactness: the fused score is accumulated as the exact BIGINT
    ``Σ 10¹² div (k0 + rank)`` (``rrf_micro``) — integer division of
    integers, order-independent under any partitioning — and the
    convenience double is ONE final de-scaling division. Ties in the
    fused score break by ascending document id (a total order, so both
    engines rank identically).

    Returns ``(query_col, id_col, rrf_micro, n_systems, rank)`` with
    rank ≤ k per query.

    Plan shape: one union of the (already top-k-sized) ranking tables,
    ONE hash-aggregate on (query, doc), one per-query window over ≤
    N·k rows per query. The corpus is never touched — fusion cost is
    bounded by the candidate lists, which is what makes RRF the right
    shape at 100 TB (each retriever prunes independently; the fuser
    sees only winners)."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    tagged = [
        r.select(
            F.col(query_col).alias("query_id"),
            F.col(id_col).alias("_doc"),
            F.col("rank").cast("long").alias("rank"),
        )
        for r in rankings
    ]
    u = tagged[0]
    for t in tagged[1:]:
        u = u.unionAll(t)
    scored = u.groupBy("query_id", "_doc").agg(
        F.sum(F.expr(f"1000000000000L div (rank + {int(k0)}L)"))
        .cast("long")
        .alias("rrf_micro"),
        F.count("*").cast("int").alias("n_systems"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_micro"), F.asc("_doc")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("query_id").alias(query_col),
            F.col("_doc").alias(id_col),
            "rrf_micro",
            "n_systems",
            "rank",
        )
    )


def bm25f_topk(
    fields: list,
    query_terms: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id: str = "query_id",
    term_col: str = "term",
    idf_quant: int | None = None,
    tf_quant: int = 1_000_000,
) -> DataFrame:
    """Simple BM25F (Robertson & Zaragoza 2009 §6) — multi-field BM25,
    THE web-retrieval ranking shape: per field f the term frequency is
    length-normalized and field-weighted BEFORE saturation,

        tf~_f = w_f · tf_f / (1 − b_f + b_f · dl_f/avgdl_f)
        score = Σ_t idf(t) · T / (k1 + T),   T = Σ_f tf~_f

    so a strong anchor-text field lifts a document the way per-field
    BM25 summation cannot (saturation applies to the COMBINED evidence).
    ``fields`` is a list of ``(docs_df, weight, b_f)`` — canonically
    ``[(body, 1.0, 0.75), (anchors, 2.0, 0.0)]`` with the anchor field
    built from wt4's per-target anchor aggregation (anchors
    conventionally skip length normalization: b_f = 0).

    idf is Robertson idf over document frequency in ANY field; N is the
    distinct-document count across fields — both ride lazily (1-row
    broadcast frames, no driver action).

    Exactness: per-field ``tf~`` is ONE deterministic IEEE chain floor-
    quantized to ``tf_quant`` LONG units; the cross-field sum is a LONG
    sum (order-independent for any number of fields); ``T`` is ONE
    de-scaling division. ``idf_quant`` selects the oracle tier (libm
    log, round-6 DECIMAL(38,6) contribution sums — the ir1 recipe);
    None is the production tier (JVM log, plain double sum).

    Scale shape: one postings shuffle per field (map-side combinable),
    one (id, term) hash-agg for the combine, broadcast query terms —
    the corpus never shuffles on the term key; per-query top-k window.
    """
    if not fields:
        raise ValueError("bm25f_topk needs at least one field")
    parts = []
    for fdf, weight, b_f in fields:
        post = postings(fdf, text_col, id_col)
        # per-field avgdl from a plain size() scan (no explode, no
        # (id, term) shuffle) — value-identical to aggregating the
        # postings table, see bm25_topk
        ftl = fdf.select(
            F.col(id_col), F.size(tokens(F.col(text_col))).alias("_dl")
        ).where(F.col("_dl") > 0)
        stats = ftl.groupBy().agg(
            (
                F.sum("_dl").cast("double")
                / F.count_distinct(id_col).cast("double")
            ).alias("_avgdl")
        )
        tfn = (
            F.lit(float(weight))
            * F.col("tf").cast("double")
            / (
                F.lit(1.0 - b_f)
                + F.lit(float(b_f))
                * F.col("dl").cast("double")
                / F.col("_avgdl")
            )
        )
        parts.append(
            post.crossJoin(F.broadcast(stats)).select(
                id_col,
                "term",
                F.floor(tfn * F.lit(float(tf_quant)) + F.lit(0.5))
                .cast("long")
                .alias("_tq"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    combined = u.groupBy(id_col, "term").agg(
        F.sum("_tq").cast("long").alias("_tq")
    )
    stats_all = combined.groupBy().agg(
        F.count_distinct(id_col).cast("long").alias("_n")
    )
    # df restricted to the QUERY terms (only those idf values join into
    # `matched`) — the per-term aggregation and the libm quantizer
    # run over the query vocabulary, not the corpus vocabulary
    qt = query_terms.select(F.col(term_col).alias("term")).distinct()
    dfreq = (
        combined.join(F.broadcast(qt), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("_df"))
        .crossJoin(F.broadcast(stats_all))
    )
    if idf_quant:
        idf = _idf_quantized(dfreq, idf_quant).select(
            "term", F.col("_idfq").cast("double").alias("_idf")
        )
        scale = float(idf_quant)
    else:
        idf = dfreq.select(
            "term",
            F.log(
                (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
                + 1.0
            ).alias("_idf"),
        )
        scale = 1.0
    q = query_terms.select(
        F.col(query_id).alias("query_id"), F.col(term_col).alias("term")
    ).distinct()
    tt = F.col("_tq").cast("double") / F.lit(float(tf_quant))
    contrib = F.col("_idf") * (tt / (F.lit(float(k1)) + tt))
    matched = combined.join(F.broadcast(q), "term").join(idf, "term")
    if idf_quant:
        per_term = F.round(contrib, 6).cast("decimal(38,6)")
        score = (F.sum(per_term).cast("double") / F.lit(scale)).alias(
            "score"
        )
    else:
        score = F.sum(contrib).alias("score")
    scored = matched.groupBy("query_id", id_col).agg(score)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )
