"""Candidate-pair generation — the Spark re-expression of ``candidates()``
(R/candidates.R:32-135).

Semantics preserved (same five blocktypes, same thresholds, same
``_from``/``_to`` output convention, unmatched "from" rows survive as NA rows
per R/candidates.R:11,125-132); execution is a blocked equi-join + per-pair
similarity filter instead of a dense n×n matrix.

Reference quirks handled (SURVEY §2.11):
* blocktype="soundex" produces NO score in the reference (stale score_list →
  error at R/candidates.R:119); here score is an explicit NULL column.
* blocktype="numeric" in the reference keeps pairs where 1-gk > 1-maxdist,
  i.e. gk < maxdist — it selects DISSIMILAR values (an inversion bug). We
  implement the documented intent: keep pairs with Gaussian similarity
  gk > 1-maxdist, score = 1-gk (a distance, like the other blocktypes).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from capelinker_spark.functions import libm
from capelinker_spark.functions.strdist import gk, make_jw_udf
from capelinker_spark.operators import blocking as B

BLOCKTYPES = (
    "bigram distance",
    "string distance",
    "numeric",
    "idf bigram distance",
    "soundex",
)


def _suffix(df: DataFrame, suffix: str, shared: set[str]) -> DataFrame:
    return df.select(
        *[F.col(c).alias(c + suffix if c in shared else c) for c in df.columns]
    )


def _bigram_pairs(
    from_df: DataFrame,
    to_df: DataFrame,
    bv_from: str,
    bv_to: str,
    maxsim: float,
    idf: bool,
    idf_quant: int | None = None,
) -> DataFrame:
    """Exact (idf-weighted) bigram-cosine similarity join between the DISTINCT
    string sets: (s_from, s_to, sim). Long-form replacement for the sparse
    matrix product of R/candidates.R:82-112 — shuffle-hash join on bigram +
    hash aggregation on the pair.

    Numeric determinism: counts/norms² are carried as EXACT LONGS and the only
    float expression is ``sim = dot / (sqrt(n2f)·sqrt(n2t))`` — correctly
    rounded IEEE ops on integer inputs, so the result is bit-identical to any
    engine computing the same expression (the DuckDB oracle does). With
    ``idf=True``: ``idf_quant=None`` is the full-precision production path;
    an integer ``idf_quant`` quantizes idf to ``floor(log(N/df)·q + .5)`` longs
    so the weighted path is exact-integer too (used by the oracle query).
    """
    cf = B.bigram_counts(from_df, bv_from)
    ct = B.bigram_counts(to_df, bv_to)
    if idf:
        # idf over the union of both sides' distinct strings (jMatrix-aligned
        # axes analog, R/candidates.R:97-112); idf = ln(N / df_bigram)
        union = cf.select("_s", "_bg").union(ct.select("_s", "_bg")).distinct()
        # N enters LAZILY as a broadcast 1-row count_distinct frame (the
        # oracle's scalar-subquery analog) — an eager .count() here would
        # launch a full scan of both string sets at plan-CONSTRUCTION time,
        # once per candidates() call (same fix as the ts9 lazy vocab,
        # textstats.py:311-316).
        n_docs_df = union.agg(F.countDistinct("_s").alias("_ndocs"))
        ratio = F.col("_ndocs").cast("double") / F.col("_df")
        if idf_quant:
            # oracle tier: libm log, quantized to exact longs
            idf_col = F.floor(libm.ln(ratio) * idf_quant + 0.5).cast("long")
        else:
            idf_col = F.log(ratio)
        idf_w = (
            union.groupBy("_bg")
            .agg(F.count("*").alias("_df"))
            .crossJoin(F.broadcast(n_docs_df))
            .select("_bg", idf_col.alias("_idfq"))
        )
        weight = F.col("_idfq")
        cf = cf.join(F.broadcast(idf_w), "_bg").withColumn(
            "_cnt", F.col("_cnt") * weight
        )
        ct = ct.join(F.broadcast(idf_w), "_bg").withColumn(
            "_cnt", F.col("_cnt") * weight
        )
        # norms must be recomputed over the weighted counts (exact longs when
        # quantized, doubles otherwise — same downstream expression shape)
        cf = cf.drop("_norm2", "_idfq")
        ct = ct.drop("_norm2", "_idfq")
        nf = cf.groupBy("_s").agg(F.sum(F.col("_cnt") * F.col("_cnt")).alias("_norm2"))
        nt = ct.groupBy("_s").agg(F.sum(F.col("_cnt") * F.col("_cnt")).alias("_norm2"))
        cf = cf.join(nf, "_s")
        ct = ct.join(nt, "_s")
    lhs = cf.select(
        F.col("_s").alias("_sf"),
        "_bg",
        F.col("_cnt").alias("_cf"),
        F.col("_norm2").alias("_n2f"),
    )
    rhs = ct.select(
        F.col("_s").alias("_st"),
        "_bg",
        F.col("_cnt").alias("_ct"),
        F.col("_norm2").alias("_n2t"),
    )
    return (
        lhs.join(rhs, "_bg")
        .groupBy("_sf", "_st")
        .agg(
            (
                F.sum(F.col("_cf") * F.col("_ct")).cast("double")
                / (
                    F.sqrt(F.first("_n2f").cast("double"))
                    * F.sqrt(F.first("_n2t").cast("double"))
                )
            ).alias("_sim")
        )
        .where(F.col("_sim") > maxsim)
    )


def candidates(
    dat_from: DataFrame,
    dat_to: DataFrame,
    blockvariable_from: str = "mlast",
    blockvariable_to: str = "mlast",
    idvariable_from: str = "persid",
    idvariable_to: str = "persid",
    blocktype: str = "bigram distance",
    linktype: str = "one:one",
    maxdist: float = 0.15,
    sigma: float = 1.0,
    jw_p: float = 0.1,
    preblock: str | None = None,
    salt: int | str | None = None,
    keep_unmatched: str = "from",
    idf_quant: int | None = None,
) -> DataFrame:
    """Generate candidate pairs.

    Returns all columns of both inputs (shared names suffixed ``_from`` /
    ``_to``), a ``score`` column (blocking distance; NULL for soundex), and
    ``linked_from`` (the from-id merge key, as in R/candidates.R:122-123).

    ``preblock`` applies to blocktype="string distance" only. The DEFAULT is
    ``None`` — the reference's exact all-pairs semantics (cross join: correct
    on the tens-of-thousands-of-rows inputs the reference targets, quadratic
    beyond). At scale OPT IN to "first_letter", which bounds the JW join to
    first-letter blocks (the vignette's own A–L convention) at the cost of
    dropping pairs whose first letters differ, e.g. a first-character OCR
    error the exact mode would still catch. ``salt`` splits giant blocks
    across ``salt`` reducers for the soundex/first-letter equi-joins.
    ``keep_unmatched``: 'from' (left), 'both' (the reference's all=TRUE
    full-outer), or 'none' (inner). ``salt="auto"`` derives the count from
    the observed key histogram (blocking.auto_salt_count).
    """
    if blocktype not in BLOCKTYPES:
        raise ValueError(f"unknown blocktype {blocktype!r}")
    if linktype not in ("one:one", "many:one"):
        raise ValueError(f"unknown linktype {linktype!r}")
    if not 0 <= maxdist <= 1 and blocktype == "string distance":
        raise ValueError("maxdist should be between 0 and 1")
    maxsim = 1.0 - maxdist

    bvf, bvt = blockvariable_from, blockvariable_to
    idf_, idt = idvariable_from, idvariable_to

    f = dat_from.select(
        F.col(idf_).alias("_idf"), F.col(bvf).alias("_bvf")
    )
    t = dat_to.select(F.col(idt).alias("_idt"), F.col(bvt).alias("_bvt"))

    if blocktype == "soundex":
        lhs = f.withColumn("_k", F.soundex("_bvf"))
        rhs = t.withColumn("_k", F.soundex("_bvt"))
        pairs = _keyed_join(lhs, rhs, salt).select(
            "_idf", "_idt", F.lit(None).cast("double").alias("score")
        )
    elif blocktype == "string distance":
        jw = make_jw_udf(jw_p)
        if preblock == "first_letter":
            lhs = f.withColumn("_k", B.first_letter_key(F.col("_bvf")))
            rhs = t.withColumn("_k", B.first_letter_key(F.col("_bvt")))
            joined = _keyed_join(lhs, rhs, salt)
        elif preblock is None:
            joined = f.crossJoin(t)  # exact reference semantics; small inputs
        else:
            raise ValueError(f"unknown preblock {preblock!r}")
        # dedup-before-UDF: score unique string pairs, then map back
        str_pairs = joined.select("_bvf", "_bvt").distinct()
        scored = str_pairs.withColumn("_d", jw(F.col("_bvf"), F.col("_bvt")))
        scored = scored.where(F.col("_d") < maxdist)
        pairs = joined.join(scored, ["_bvf", "_bvt"]).select(
            "_idf", "_idt", F.col("_d").alias("score")
        )
    elif blocktype == "numeric":
        # gk > maxsim  ⟺  |x1-x2| < -sigma² · ln(maxsim)
        if maxsim <= 0:
            band = float("inf")
        else:
            band = -(sigma**2) * math.log(maxsim)
        width = max(band, 1e-12)
        lhs = B.explode_neighbor_bands(
            f.withColumn("_b", B.numeric_band_key(F.col("_bvf"), width)), "_b", "_band"
        )
        rhs = t.withColumn("_band", B.numeric_band_key(F.col("_bvt"), width))
        pairs = (
            lhs.join(rhs, "_band")
            .withColumn("_gk", gk(F.col("_bvf"), F.col("_bvt"), sigma))
            .where(F.col("_gk") > maxsim)
            .select("_idf", "_idt", (1 - F.col("_gk")).alias("score"))
        )
    else:  # (idf) bigram distance
        sim = _bigram_pairs(
            dat_from.select(F.col(bvf)),
            dat_to.select(F.col(bvt)),
            bvf,
            bvt,
            maxsim,
            idf=blocktype == "idf bigram distance",
            idf_quant=idf_quant,
        )
        pairs = (
            f.join(sim, f["_bvf"] == sim["_sf"])
            .join(t, sim["_st"] == t["_bvt"])
            .select("_idf", "_idt", (1 - F.col("_sim")).alias("score"))
        )

    return _assemble(dat_from, dat_to, pairs, idf_, idt, keep_unmatched)


def _keyed_join(lhs: DataFrame, rhs: DataFrame, salt) -> DataFrame:
    """Equi-join on ``_k``, salted when ``salt`` asks for it: the left
    side's rows spread over ``salt`` reducers by ``_idf``, the right side
    replicated to every salt. ``salt="auto"`` derives the count from the
    observed key histogram (1 collapses to unsalted)."""
    if salt == "auto":
        salt = B.auto_salt_count(lhs, rhs)
        salt = salt if salt > 1 else None
    if not salt:
        return lhs.join(rhs, "_k")
    lhs = B.add_salt(lhs, "_idf", salt)
    rhs = B.explode_salt(rhs, salt)
    return lhs.join(rhs, ["_k", "_salt"]).drop("_salt")


def candidates_multikey(
    dat_from: DataFrame,
    dat_to: DataFrame,
    key_exprs: list,
    idvariable_from: str = "persid",
    idvariable_to: str = "persid",
    salt: int | str | None = None,
    keep_unmatched: str = "from",
    assemble: bool = True,
) -> DataFrame:
    """Multi-key blocking: the union of equi-joins over several derived keys
    (e.g. soundex(mlast), soundex(mlast_woprefix), soundex(mfirst)) — a pair
    is a candidate if ANY key agrees. The reference documents exactly this
    composition ("using candidates() repeatedly and merging the results",
    R/candidates.R:5); here it is one distinct-union of shuffle joins, the
    standard recall fix for noisy blocking keys at scale.

    ``key_exprs``: list of callables DataFrame-column-builder (df → Column).

    ``assemble=False`` returns the NARROW pair table
    ``({idf}_from, {idt}_to, score)`` without joining the record payloads
    back — the scale-preferred shape for checkpointing: pair-generation
    shuffles then move ids+keys only, and the payload join happens exactly
    once, downstream, against the (already checkpointed) records table.
    """
    pair_sets = []
    for i, key_fn in enumerate(key_exprs):
        lhs = dat_from.select(
            F.col(idvariable_from).alias("_idf"), key_fn(dat_from).alias("_k")
        ).where(F.col("_k").isNotNull())
        rhs = dat_to.select(
            F.col(idvariable_to).alias("_idt"), key_fn(dat_to).alias("_k")
        ).where(F.col("_k").isNotNull())
        pair_sets.append(_keyed_join(lhs, rhs, salt).select("_idf", "_idt"))
    pairs = pair_sets[0]
    for p in pair_sets[1:]:
        pairs = pairs.union(p)
    pairs = pairs.distinct().withColumn("score", F.lit(None).cast("double"))
    if not assemble:
        return pairs.select(
            F.col("_idf").alias(f"{idvariable_from}_from"),
            F.col("_idt").alias(f"{idvariable_to}_to"),
            "score",
        )
    return _assemble(
        dat_from, dat_to, pairs, idvariable_from, idvariable_to, keep_unmatched
    )


def _assemble(
    dat_from: DataFrame,
    dat_to: DataFrame,
    pairs: DataFrame,
    idf_: str,
    idt: str,
    keep_unmatched: str,
) -> DataFrame:
    # assembly (R/candidates.R:118-134): suffix shared columns, attach score,
    # keep unmatched rows as NA rows
    shared = set(dat_from.columns) & set(dat_to.columns)
    from_s = _suffix(dat_from, "_from", shared).withColumn(
        "linked_from", F.col(idf_ + "_from" if idf_ in shared else idf_)
    )
    to_s = _suffix(dat_to, "_to", shared).withColumn(
        "_linked_to", F.col(idt + "_to" if idt in shared else idt)
    )
    pairs = pairs.select(
        F.col("_idf").alias("linked_from"),
        F.col("_idt").alias("_linked_to"),
        "score",
    )

    out = from_s.join(pairs, "linked_from", "left").join(
        to_s, "_linked_to", "left"
    )
    if keep_unmatched == "both":
        unmatched_to = to_s.join(
            pairs.select("_linked_to").distinct(), "_linked_to", "left_anti"
        )
        out = out.unionByName(unmatched_to, allowMissingColumns=True)
    elif keep_unmatched == "none":
        out = out.where(F.col("_linked_to").isNotNull())
    return out.drop("_linked_to")
