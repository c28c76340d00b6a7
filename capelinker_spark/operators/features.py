"""Pairwise feature computation — ``distcalc`` (R/distances.R:23-45) plus the
training-script feature family (SURVEY §2.4, F1-F15).

All features are native expressions except the JW/OSA string metrics, which
run in Arrow UDFs over the C kernels, batched into a single projection (one
Arrow round-trip for all UDF columns in the same select).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from capelinker_spark.functions.strdist import (
    gk,
    make_jw_udf,
    osa_norm_udf,
    soundex_dist,
)
from capelinker_spark.operators.blocking import bigrams

DEFAULT_CHARACTER_VARIABLES = (
    "mlast",
    "mfirst",
    "wfirst",
    "minitials",
    "winitials",
    "mprof",
)
DEFAULT_NUMERIC_VARIABLES = ("year",)


def distcalc(
    dat: DataFrame,
    character_variables=DEFAULT_CHARACTER_VARIABLES,
    numeric_variables=DEFAULT_NUMERIC_VARIABLES,
    jw_p: float = 0.1,
    osa_variables=(),
) -> DataFrame:
    """Add ``{v}dist`` (jw p=0.1) + ``{v}sdx`` (0/1 soundex) per character
    variable and ``{v}dist = from - to`` per numeric variable
    (R/distances.R:27-43); ``{v}dist_osa`` (normalized OSA) for
    ``osa_variables`` (data_raw/pretrained.R:381-385).

    Variables not present in the frame are skipped (the reference would
    error; skipping lets one call serve several model feature sets).
    """
    jw = make_jw_udf(jw_p)
    cols = list(dat.columns)
    exprs: list[Column] = []
    for v in character_variables:
        if f"{v}_from" not in cols or f"{v}_to" not in cols:
            continue
        a, b = F.col(f"{v}_from"), F.col(f"{v}_to")
        exprs.append(jw(a, b).alias(f"{v}dist"))
        exprs.append(soundex_dist(a, b).alias(f"{v}sdx"))
    for v in osa_variables:
        if f"{v}_from" not in cols or f"{v}_to" not in cols:
            continue
        exprs.append(
            osa_norm_udf(F.col(f"{v}_from"), F.col(f"{v}_to")).alias(f"{v}dist_osa")
        )
    for v in numeric_variables:
        if f"{v}_from" not in cols or f"{v}_to" not in cols:
            continue
        exprs.append((F.col(f"{v}_from") - F.col(f"{v}_to")).alias(f"{v}dist"))
    return dat.select("*", *exprs)


def add_cross_dist(
    dat: DataFrame, col_a: str, col_b: str, out: str, jw_p: float = 0.1
) -> DataFrame:
    """Cross-field JW distance — e.g. ``cross_surnamedist = jw(firstnames,
    wlast)`` and ``husb_wife_surnamedist`` (data_raw/pretrained.R:46,391):
    catches swapped-field records."""
    jw = make_jw_udf(jw_p)
    return dat.withColumn(out, jw(F.col(col_a), F.col(col_b)))


def add_matches(dat: DataFrame, id_from: str = "persid_from") -> DataFrame:
    """Block-size feature: candidates per from-record
    (vignettes/example.rmd:106, ``cnd[, matches := .N, by = persid_from]``).

    Computed as a narrow count aggregation joined back (null-safe, so a
    NULL id group behaves exactly like the window form) instead of
    ``count(*) over (partition by id)``: the window operator would SORT
    the full feature width by the partition key, while the aggregate
    runs on the key column alone and the join-back is a broadcast (or,
    at scale, reuses the existing hash partitioning on ``id_from``) —
    same values, one wide-row sort removed from the pipeline's widest
    table (guide §2.4).

    An existing ``matches`` column raises (the join-back would duplicate
    it); the join key gets a name no input column has."""
    taken = {c.lower() for c in dat.columns}  # Spark resolves names case-insensitively
    if "matches" in taken:
        raise ValueError("add_matches: the input already has a 'matches' column")
    key = "_mk"
    while key in taken:
        key = f"_{key}"
    cnt = (
        dat.groupBy(F.col(id_from).alias(key))
        .agg(F.count("*").alias("matches"))
    )
    return dat.join(
        cnt, F.col(id_from).eqNullSafe(F.col(key))
    ).drop(key)


def add_gauss(
    dat: DataFrame, variable: str = "settlerchildren", sigma: float = 1.0
) -> DataFrame:
    """``{v}gauss = gk(v_from, v_to)`` (feature at data_raw/pretrained.R:41)."""
    return dat.withColumn(
        f"{variable}gauss",
        gk(F.col(f"{variable}_from"), F.col(f"{variable}_to"), sigma),
    )


def add_wifeinboth(dat: DataFrame) -> DataFrame:
    """Conjunction of wifepresent across sides (data_raw/pretrained.R:38-40)."""
    return dat.withColumn(
        "wifeinboth",
        (
            F.col("wifepresent_from").cast("boolean")
            & F.col("wifepresent_to").cast("boolean")
        ).cast("double"),
    )


def add_namefreq(records: DataFrame, name_col: str = "mlast", out: str = "namefreq") -> DataFrame:
    """Name frequency: count per (canonicalized) surname
    (data_raw/traindata_graafreinet.R:121-123). The reference counts over
    ``uniformise_string`` output; pass a pre-canonicalized column for parity,
    or the raw surname for the linear-cost variant."""
    return records.withColumn(
        out, F.count(name_col).over(Window.partitionBy(name_col))
    )


def add_cos_uniqueness(
    records: DataFrame,
    name_col: str = "mfirst",
    by: str = "year",
    out: str = "mfirst_cos_uniqueness",
    id_col: str = "persid",
) -> DataFrame:
    """Per-group cosine name uniqueness, LINEAR form.

    Reference: ``1 - rowMeans(qlcMatrix::sim.strings(x)) by year``
    (data_raw/traindata_graafreinet.R:117-127) — an O(n²)-per-group matrix.
    Identity used here: mean_j cos(u_i, u_j) = dot(u_i, mean_j u_j) over the
    group's unit bigram vectors, so one groupBy(bigram) aggregation + a join
    back computes it exactly in linear time (SURVEY §2.4 F9).
    NULL names keep NULL uniqueness (reference filters !is.na).
    """
    base = records.select(id_col, by, F.col(name_col).alias("_s")).where(
        F.col("_s").isNotNull()
    )
    exploded = base.select(id_col, by, "_s", F.explode(bigrams(F.col("_s"))).alias("_bg"))
    cnt = exploded.groupBy(id_col, by, "_s", "_bg").agg(
        F.count("*").cast("double").alias("_cnt")
    )
    norm = cnt.groupBy(id_col, by).agg(F.sqrt(F.sum(F.col("_cnt") ** 2)).alias("_norm"))
    unit = cnt.join(norm, [id_col, by]).withColumn("_u", F.col("_cnt") / F.col("_norm"))
    group_n = base.groupBy(by).agg(F.count("*").alias("_gn"))
    mean_vec = (
        unit.groupBy(by, "_bg")
        .agg(F.sum("_u").alias("_su"))
        .join(group_n, by)
        .withColumn("_mu", F.col("_su") / F.col("_gn"))
    )
    dots = (
        unit.join(mean_vec.select(by, "_bg", "_mu"), [by, "_bg"])
        .groupBy(id_col)
        .agg(F.sum(F.col("_u") * F.col("_mu")).alias("_dot"))
        .select(id_col, (1 - F.col("_dot")).alias(out))
    )
    return records.join(dots, id_col, "left")


def cos_uniqueness_pairwise(
    records: DataFrame,
    name_col: str = "mfirst",
    by: str = "year",
    out: str = "mfirst_cos_uniqueness",
    id_col: str = "persid",
    quant: int = 1_000_000,
) -> DataFrame:
    """Per-group cosine name uniqueness, PAIRWISE form with integer-quantized
    accumulation — the numerically-exact sibling of ``add_cos_uniqueness``.

    Reference: ``1 - rowMeans(qlcMatrix::sim.strings(x)) by year``
    (data_raw/traindata_graafreinet.R:117-127). Per string pair the cosine is
    ``dot/(sqrt(n2a)·sqrt(n2b))`` over exact integer bigram counts (bit-
    identical on any IEEE engine), quantized ``floor(sim·quant + .5)`` to a
    LONG, and summed exactly (order-independent) — so the result hashes
    identically against a SQL oracle computing the same expression. Duplicate
    name values weight the sum by their multiplicity, matching the rowMeans-
    over-rows semantics. O(Σ n_group²) pairs: use ``add_cos_uniqueness``
    (linear form) in production; this form is the oracle/verification path
    and the one to use when exact reproducibility matters more than cost.
    """
    base = records.select(id_col, by, F.col(name_col).alias("_s")).where(
        F.col("_s").isNotNull()
    )
    group_n = base.groupBy(by).agg(F.count("*").alias("_gn"))
    mult = base.groupBy(by, "_s").agg(F.count("*").alias("_mult"))
    exploded = mult.select(by, "_s", F.explode(bigrams(F.col("_s"))).alias("_bg"))
    cnt = exploded.groupBy(by, "_s", "_bg").agg(F.count("*").alias("_cnt"))
    norm2 = cnt.groupBy(by, "_s").agg(
        F.sum(F.col("_cnt") * F.col("_cnt")).alias("_n2")
    )
    g = cnt.join(norm2, [by, "_s"])
    lhs = g.select(
        F.col(by), F.col("_s").alias("_sa"), "_bg",
        F.col("_cnt").alias("_ca"), F.col("_n2").alias("_n2a"),
    )
    rhs = g.select(
        F.col(by), F.col("_s").alias("_sb"), "_bg",
        F.col("_cnt").alias("_cb"), F.col("_n2").alias("_n2b"),
    )
    sims = (
        lhs.join(rhs, [by, "_bg"])
        .groupBy(by, "_sa", "_sb")
        .agg(
            F.floor(
                F.sum(F.col("_ca") * F.col("_cb")).cast("double")
                / (
                    F.sqrt(F.first("_n2a").cast("double"))
                    * F.sqrt(F.first("_n2b").cast("double"))
                )
                * F.lit(float(quant))
                + F.lit(0.5)
            ).alias("_q")
        )
    )
    totals = (
        sims.join(
            mult.select(F.col(by), F.col("_s").alias("_sb"), "_mult"), [by, "_sb"]
        )
        .groupBy(by, "_sa")
        .agg(F.sum(F.col("_q") * F.col("_mult")).alias("_tq"))
    )
    per_row = (
        base.join(totals.withColumnRenamed("_sa", "_s"), [by, "_s"], "left")
        .join(group_n, by)
        .withColumn(
            out,
            F.lit(1.0)
            - (F.coalesce(F.col("_tq"), F.lit(0)).cast("double") / F.lit(float(quant)))
            / F.col("_gn").cast("double"),
        )
    )
    return per_row.select(id_col, by, F.col("_s").alias(name_col), out)


def jw_uniqueness(
    records: DataFrame,
    name_col: str = "mfirst",
    by: str = "year",
    out: str = "mfirst_uniqueness",
    id_col: str = "persid",
    jw_p: float = 0.0,
    quant: int = 1_000_000,
    max_group_distinct: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Per-group mean Jaro(-Winkler) DISTANCE to every row of the group — the
    exact F8 feature ``rowMeans(stringdistmatrix(mfirst, mfirst, 'jw')) by
    year`` (data_raw/traindata_graafreinet.R:112-116; stringdist's default
    p=0 ⇒ pure Jaro distance). Self-pair (0) included, duplicates weighted by
    multiplicity, NULL names excluded — all matching the reference.

    Exactness: per DISTINCT string pair the JW distance is computed once
    (CPython kernel, verified bit-identical to DuckDB's jaro_similarity on
    100k random pairs), quantized ``floor(d·quant + .5)`` to a LONG, and
    accumulated exactly. Pair cost is O(Σ distinct_names_in_group²) with
    ``max_group_distinct=None`` (the exact path — fine while groups are
    years of a bounded corpus).

    ``max_group_distinct``: the mega-group guard. When a group holds more
    distinct names than this cap, the COMPARISON set (rhs) inside that group
    is deterministically hash-sampled down to ≈cap distinct names (keep a
    name iff ``xxhash64(name, seed) mod distinct_count < cap`` — a pure
    per-row filter, no sort, no driver collect, resumable) and the mean is
    taken over the sampled comparison weight instead of the full group size.
    Pair cost drops from O(n²) to O(n·cap) per group; the estimate is the
    exact mean over a fixed pseudo-random subsample. Groups at or under the
    cap keep the exact full-group semantics, including the denominator, so
    enabling the guard changes nothing unless it actually engages.
    """
    jw = make_jw_udf(jw_p)
    base = records.select(id_col, by, F.col(name_col).alias("_s")).where(
        F.col("_s").isNotNull()
    )
    mult = base.groupBy(by, "_s").agg(F.count("*").alias("_mult"))
    lhs = mult.select(F.col(by), F.col("_s").alias("_sa"))
    rhs = mult.select(F.col(by), F.col("_s").alias("_sb"), F.col("_mult"))
    if max_group_distinct is not None:
        dn = mult.groupBy(by).agg(F.count("*").alias("_dn"))
        keyed = rhs.join(F.broadcast(dn), by).withColumn(
            "_h", F.pmod(F.xxhash64("_sb", F.lit(seed)), F.col("_dn"))
        )
        # floor guarantee: the group's min-hash name is ALWAYS kept, so a
        # group can never sample down to an empty comparison set (P≈e^-cap
        # of zero survivors would otherwise drop the whole group's rows
        # through the inner group_n join — silent data loss)
        hmin = keyed.groupBy(by).agg(F.min("_h").alias("_hmin"))
        rhs = (
            keyed.join(F.broadcast(hmin), by)
            .where(
                (F.col("_dn") <= max_group_distinct)
                | (F.col("_h") < F.lit(max_group_distinct))
                | (F.col("_h") == F.col("_hmin"))
            )
            .drop("_dn", "_h", "_hmin")
        )
        # denominator = the weight actually compared against (rows whose
        # names survived the sample); equals the full group size wherever
        # the cap did not engage
        group_n = rhs.groupBy(by).agg(F.sum("_mult").alias("_gn"))
    else:
        group_n = base.groupBy(by).agg(F.count("*").alias("_gn"))
    pairs = lhs.join(rhs, by).withColumn(
        "_q", F.floor(jw(F.col("_sa"), F.col("_sb")) * F.lit(float(quant)) + F.lit(0.5))
    )
    totals = pairs.groupBy(by, "_sa").agg(
        F.sum(F.col("_q") * F.col("_mult")).alias("_tq")
    )
    per_row = (
        base.join(totals.withColumnRenamed("_sa", "_s"), [by, "_s"], "left")
        .join(group_n, by)
        .withColumn(
            out,
            (F.coalesce(F.col("_tq"), F.lit(0)).cast("double") / F.lit(float(quant)))
            / F.col("_gn").cast("double"),
        )
    )
    return per_row.select(id_col, by, F.col("_s").alias(name_col), out)


def stringdist_closest(
    records: DataFrame,
    name_col: str,
    block_col: str,
    id_col: str = "persid",
    out: str = "nextdist",
    jw_p: float = 0.0,
) -> DataFrame:
    """Distance to the nearest OTHER string (R/util.R:233-256), blocked.

    The reference computes the full n×n similarity matrix; here the self-join
    is bounded by ``block_col`` (e.g. soundex of the name, or year). Records
    whose block has no other member get 1.0 (the reference's length-1
    convention, R/util.R:236).
    """
    jw = make_jw_udf(jw_p)
    lhs = records.select(
        F.col(id_col).alias("_ida"),
        F.col(name_col).alias("_sa"),
        F.col(block_col).alias("_blk"),
    ).where(F.col("_sa").isNotNull() & F.col("_blk").isNotNull())
    rhs = records.select(
        F.col(id_col).alias("_idb"),
        F.col(name_col).alias("_sb"),
        F.col(block_col).alias("_blk"),
    ).where(F.col("_sb").isNotNull() & F.col("_blk").isNotNull())
    pairs = lhs.join(rhs, "_blk").where(F.col("_ida") != F.col("_idb"))
    uniq = pairs.select("_sa", "_sb").distinct().withColumn(
        "_d", jw(F.col("_sa"), F.col("_sb"))
    )
    nearest = (
        pairs.join(uniq, ["_sa", "_sb"])
        .groupBy("_ida")
        .agg(F.min("_d").alias(out))
        .withColumnRenamed("_ida", id_col)
    )
    return records.join(nearest, id_col, "left").fillna({out: 1.0})


def paste_similar(
    records: DataFrame,
    name_col: str,
    block_col: str,
    id_col: str = "persid",
    threshold: float = 0.85,
    sep: str = " | ",
    out: str = "similar_strings",
) -> DataFrame:
    """Concat of all other strings with JW similarity > threshold
    (R/util.R:357-368), blocked self-join + collect_list. Deterministic
    ordering by the paired string."""
    jw = make_jw_udf(0.0)
    lhs = records.select(F.col(id_col).alias("_ida"), F.col(name_col).alias("_sa"),
                         F.col(block_col).alias("_blk"))
    rhs = records.select(F.col(id_col).alias("_idb"), F.col(name_col).alias("_sb"),
                         F.col(block_col).alias("_blk"))
    pairs = (
        lhs.join(rhs, "_blk")
        .where(F.col("_ida") != F.col("_idb"))
        .withColumn("_sim", 1 - jw(F.col("_sa"), F.col("_sb")))
        .where(F.col("_sim") > threshold)
    )
    agg = (
        pairs.groupBy("_ida")
        .agg(F.array_join(F.array_sort(F.collect_list("_sb")), sep).alias(out))
        .withColumnRenamed("_ida", id_col)
    )
    return records.join(agg, id_col, "left").fillna({out: ""})


def uniformise_strings(
    records: DataFrame,
    name_col: str,
    id_col: str = "persid",
    maxdist: float = 0.2,
    out: str | None = None,
    quantize: int | None = None,
    method: str = "cc",
) -> DataFrame:
    """Canonicalize near-identical strings — ``uniformise_string``
    (R/util.R:145-166) re-expressed for scale.

    The reference greedily absorbs strings within JW ``maxdist`` of the
    most frequent remaining string. ``method="cc"`` (default): distinct
    strings + frequencies → soundex-blocked JW self-join at ``maxdist`` →
    connected components → representative = the component's most frequent
    string (ties broken alphabetically). Same intent (frequency-priority
    canonical form), linear plan; the greedy chain-absorption order is
    approximated by the component closure — a transitive chain A~B~C can
    merge where the reference's greedy pass keeps C separate (documented
    deviation).

    ``method="greedy"``: the reference's EXACT sequential absorb order,
    run independently inside each soundex block via ``applyInPandas`` —
    most frequent remaining string (ties alphabetical, matching the R
    ``sort(-table(x))`` order) absorbs everything within ``maxdist`` and
    the absorbed strings leave the pool (R/util.R:150-164). Distributed by
    block (each block is small — O(k²) per block), so it scales like the
    CC path; the only remaining deviation from the reference is that
    absorption cannot cross soundex blocks (shared with the CC path, and
    with any blocked re-expression).

    ``method="greedy_global"``: the reference's absorb order with NO
    blocking at all — the distinct-string vocabulary is collected to the
    driver (guarded: raises above 100k distinct) and absorbed in one
    global sequential pass, closing even the cross-block deviation. This
    is the full-parity escape hatch for realistic name vocabularies
    (every surname list fits); above the guard, use ``greedy`` (per-block
    parity) or ``cc`` (scale path).

    ``quantize``: round the JW distance to this many decimals BEFORE the
    threshold (the module's engine-portable convention — thresholds filter
    on the rounded value so the edge set is identical across engines).
    """
    if method == "greedy":
        return _uniformise_greedy(
            records, name_col, maxdist, out or f"{name_col}_unif", quantize
        )
    if method == "greedy_global":
        return _uniformise_greedy_global(
            records, name_col, maxdist, out or f"{name_col}_unif", quantize
        )
    if method != "cc":
        raise ValueError(
            f"unknown method {method!r} (use 'cc', 'greedy', or 'greedy_global')"
        )
    from capelinker_spark.operators.cluster import connected_components

    out = out or f"{name_col}_unif"
    jw = make_jw_udf(0.1)
    freq = (
        records.where(F.col(name_col).isNotNull())
        .groupBy(F.col(name_col).alias("_s"))
        .agg(F.count("*").alias("_n"))
    )
    # the strings themselves are the CC node ids: the component LABEL only
    # has to be deterministic (min string), never dense — the representative
    # below is label-invariant. Minting dense ids took a GLOBAL row_number
    # window (Exchange SinglePartition: every distinct string through one
    # task — the round-2 audit's last scale-killer); this plan has no
    # single-partition stage anywhere.
    lhs = freq.select(F.col("_s").alias("_sa"), F.soundex("_s").alias("_blk"))
    rhs = freq.select(F.col("_s").alias("_sb"), F.soundex("_s").alias("_blk"))
    # freq holds DISTINCT strings, so the blocked join already yields each
    # unordered pair exactly once — score it directly, no dedup pass needed
    cand = lhs.join(rhs, "_blk").where(F.col("_sa") < F.col("_sb"))
    d = jw(F.col("_sa"), F.col("_sb"))
    if quantize is not None:
        d = F.round(d, quantize)
    edges = (
        cand.withColumn("_d", d)
        .where(F.col("_d") < maxdist)
        .select(F.col("_sa").alias("src"), F.col("_sb").alias("dst"))
    )
    comp = connected_components(edges)
    labeled = freq.join(
        comp.withColumnRenamed("node", "_s"), "_s", "left"
    ).withColumn("_comp", F.coalesce(F.col("component"), F.col("_s")))
    rep_w = Window.partitionBy("_comp").orderBy(F.desc("_n"), F.asc("_s"))
    reps = (
        labeled.withColumn("_rep", F.first("_s").over(rep_w))
        .select(F.col("_s").alias(name_col), F.col("_rep").alias(out))
        .distinct()
    )
    return records.join(reps, name_col, "left")


def _greedy_absorb(
    names: list[str], maxdist: float, quantize: int | None
) -> dict[str, str]:
    """The reference's sequential absorb loop (R/util.R:150-164) over a
    priority-ordered vocabulary: the first remaining string absorbs every
    remaining string within JW(p=0.1) ``maxdist`` of it (itself included),
    absorbed strings leave the pool, repeat. Returns string → representative.

    Scores each head against the whole remaining pool in ONE C-kernel batch
    call when the native library is available (bit-identical to the Python
    oracle by the kernel's contract), falling back to the scalar Python
    loop — so cost is O(#reps · V) kernel comparisons, far below the V²
    worst case on heavy-absorption vocabularies.

    ``quantize`` rounds HALF_UP like Spark's F.round — Python ``round()``
    is banker's rounding and would give the greedy paths a different edge
    set than the CC path at ties (round(0.125,2)=0.12 vs F.round→0.13)."""
    import math

    from capelinker_spark.functions import _native
    from capelinker_spark.functions.strdist import jaro_winkler_dist

    q = 10 ** quantize if quantize is not None else None
    rep: dict[str, str] = {}
    remaining = list(names)
    while remaining:
        head = remaining[0]
        dists = None
        if _native.available():
            dists = _native.jw_batch([head] * len(remaining), remaining, 0.1)
        if dists is None:
            dists = [jaro_winkler_dist(head, s, p=0.1) for s in remaining]
        else:
            dists = dists.to_pylist()
        kept = []
        for s, d in zip(remaining, dists):
            if q is not None:
                d = math.floor(d * q + 0.5) / q
            if d < maxdist or s == head:
                rep[s] = head
            else:
                kept.append(s)
        remaining = kept
    return rep


def _uniformise_greedy(
    records: DataFrame,
    name_col: str,
    maxdist: float,
    out: str,
    quantize: int | None,
    max_block_distinct: int = 20_000,
) -> DataFrame:
    """Within-block exact greedy absorb (R/util.R:150-164): per soundex
    block, repeatedly take the most frequent unassigned string (ties
    alphabetical) and absorb every unassigned string within JW(p=0.1)
    ``maxdist`` of it. One ``applyInPandas`` over (block → distinct strings
    + counts); the mapping joins back to the full table.

    Greedy is the PARITY path: each block runs sequentially in one Python
    task at O(k²) worst case, so a block above ``max_block_distinct``
    distinct strings raises with guidance to use ``method='cc'`` (the
    scale path) rather than silently burning hours in one task."""
    import pandas as pd

    def absorb(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_block_distinct:
            raise ValueError(
                f"greedy uniformise block '{pdf['_blk'].iloc[0]}' has "
                f"{len(pdf)} distinct strings (> {max_block_distinct}); "
                "the sequential absorb is O(k^2) in one task — use "
                "method='cc' for blocks this size"
            )
        pool = pdf.sort_values(
            ["_n", "_s"], ascending=[False, True], ignore_index=True
        )
        names = pool["_s"].tolist()
        rep = _greedy_absorb(names, maxdist, quantize)
        return pd.DataFrame({"_s": names, "_rep": [rep[s] for s in names]})

    freq = (
        records.where(F.col(name_col).isNotNull())
        .groupBy(F.col(name_col).alias("_s"))
        .agg(F.count("*").alias("_n"))
        .withColumn("_blk", F.soundex("_s"))
    )
    mapping = freq.groupBy("_blk").applyInPandas(absorb, "_s string, _rep string")
    reps = mapping.select(F.col("_s").alias(name_col), F.col("_rep").alias(out))
    return records.join(reps, name_col, "left")


def _uniformise_greedy_global(
    records: DataFrame,
    name_col: str,
    maxdist: float,
    out: str,
    quantize: int | None,
    max_vocab: int = 100_000,
) -> DataFrame:
    """The reference's EXACT global absorb pass (R/util.R:145-166), no
    blocking: distinct strings + frequencies are aggregated distributed,
    counted first (one 1-row agg — raises above ``max_vocab`` BEFORE any
    driver collect), then the ≤``max_vocab``-row vocabulary is collected,
    absorbed sequentially on the driver in reference priority order (count
    desc, string asc — R's ``sort(-table(x))``), and the string →
    representative mapping is broadcast-joined back. Closes the last
    semantic deviation of the blocked paths: absorption chains that CROSS
    soundex blocks. Driver cost O(#reps · V) C-kernel comparisons; every
    realistic surname vocabulary fits, and anything bigger gets a loud
    error pointing at 'greedy' (per-block parity) / 'cc' (scale)."""
    freq = (
        records.where(F.col(name_col).isNotNull())
        .groupBy(F.col(name_col).alias("_s"))
        .agg(F.count("*").alias("_n"))
    )
    n_vocab = freq.count()
    if n_vocab > max_vocab:
        raise ValueError(
            f"greedy_global uniformise: {n_vocab} distinct strings "
            f"(> {max_vocab}) — the global sequential absorb is a driver-"
            "side pass; use method='greedy' (per-block parity) or "
            "method='cc' (scale path) for vocabularies this size"
        )
    vocab = freq.orderBy(F.desc("_n"), F.asc("_s")).collect()
    names = [r["_s"] for r in vocab]
    rep = _greedy_absorb(names, maxdist, quantize)
    spark = records.sparkSession
    reps = spark.createDataFrame(
        [(s, rep[s]) for s in names], f"`{name_col}` string, `{out}` string"
    )
    return records.join(F.broadcast(reps), name_col, "left")


def make_labeling_sheet(
    cnd: DataFrame,
    id_from: str = "persid_from",
    n_blocks: int = 50,
    seed: int = 42,
    order_cols: tuple = ("mlastdist", "mfirstdist"),
    id_to: str = "persid_to",
    block_ids: DataFrame | list | None = None,
) -> DataFrame:
    """The ``label()`` export flow (R/label.R:54-89): sample candidate
    blocks, order pairs inside each block by the product of the name
    distances so likely matches float to the top for the human labeler.
    Returns the sheet with a ``block_seq`` ordering column (the blank-line
    insertion of the R version is presentation-side).

    ``block_ids``: explicit from-ids to export (list or 1-column
    DataFrame) — reviewers often want a named batch; None keeps the
    seeded hash sample of ``n_blocks`` blocks. ``block_seq`` tiebreaks on
    ``id_to`` so tied distances order deterministically (a bare score
    order left row_number plan-dependent)."""
    if block_ids is None:
        ids = (
            cnd.select(id_from).distinct()
            .withColumn(
                "_h", F.pmod(F.xxhash64(F.col(id_from), F.lit(seed)), 1_000_000)
            )
            .orderBy("_h")
            .limit(n_blocks)
            .drop("_h")
        )
    elif isinstance(block_ids, list):
        spark = cnd.sparkSession
        ids = spark.createDataFrame([(b,) for b in block_ids], [id_from])
    else:
        ids = block_ids.toDF(id_from)
    sheet = cnd.join(F.broadcast(ids), id_from, "left_semi")
    score = None
    for c in order_cols:
        if c in sheet.columns:
            term = F.coalesce(F.col(c), F.lit(1.0))
            score = term if score is None else score * term
    if score is None:
        score = F.lit(0.0)
    w = Window.partitionBy(id_from).orderBy(score.asc(), F.col(id_to).asc())
    return sheet.withColumn("block_seq", F.row_number().over(w))


# the reference's labeling vocabulary (R/label.R:18-24): how a human marks a
# candidate pair on the labeling sheet
ANNOTATIONS = ("sure", "maybe", "doubtful", "no")
POSITIVE_ANNOTATIONS = ("sure", "maybe")


def apply_labels(
    cnd: DataFrame,
    labels: DataFrame,
    id_from: str = "persid_from",
    id_to: str = "persid_to",
    annotation_col: str = "annotation",
    positive: tuple = POSITIVE_ANNOTATIONS,
) -> DataFrame:
    """Merge human annotations back onto the candidate table and derive the
    boolean ``correct`` training label (the ``correct :=`` step of
    vignettes/example.rmd:119-124; annotation vocabulary R/label.R:18-24).
    Unannotated pairs keep NULL ``correct`` (excluded from training)."""
    lab = labels.select(
        id_from, id_to, F.col(annotation_col).alias("_ann")
    )
    out = cnd.join(F.broadcast(lab), [id_from, id_to], "left")
    return out.withColumn(
        "correct",
        F.when(F.col("_ann").isNull(), F.lit(None).cast("boolean")).otherwise(
            F.col("_ann").isin(*positive)
        ),
    ).drop("_ann")


def min_max_normalise(dat: DataFrame, cols: list[str]) -> DataFrame:
    """(x - min)/(max - min) per column (R/util.R:169-175), one agg pass +
    literal broadcast — no per-row Python."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
    mm = dat.agg(*aggs).collect()[0]
    out = dat
    for c in cols:
        lo, hi = mm[f"_min_{c}"], mm[f"_max_{c}"]
        span = (hi - lo) or 1.0
        out = out.withColumn(c, (F.col(c) - F.lit(lo)) / F.lit(span))
    return out


def monge_elkan(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    id_cols: list[str],
    out: str = "me_sim",
    jw_p: float = 0.1,
    quant: int = 1_000_000,
    symmetric: bool = False,
) -> DataFrame:
    """Monge-Elkan word-level similarity: mean over the words of ``a_col``
    of the best Jaro-Winkler similarity against any word of ``b_col`` —
    the hybrid token/edit measure that makes multi-word names robust to
    word reordering ("maria garcia lopez" vs "lopez, maria") where the
    whole-string JW of the reference's distcalc (R/distances.R:30-40)
    collapses. ``symmetric=True`` returns the mean of both directions
    (the common symmetrized variant).

    Exactness (the f8 convention): every word-pair JW distance is
    quantized ``floor(d·quant + .5)`` to a LONG once, per-word minima and
    per-row sums stay integral, and the similarity emerges in ONE final
    IEEE division — ``(n·quant − Σ min_q) / (n·quant)``, or for the
    symmetric form the common-denominator integer ratio
    ``((na·q − sa)·nb + (nb·q − sb)·na) / (2·na·nb·q)`` (NOT the mean of
    two separately-divided doubles, whose engine-dependent intermediate
    doubles can straddle a 6th-decimal rounding boundary) — bit-stable
    under any partitioning. Rows where either side has no words get NULL.

    Plan shape: words explode once per side (bounded by name length), the
    word-pair table is an equi-join on the pair id — cost
    O(Σ |words_a|·|words_b|) per pair, the classic ME cost — then two
    hash-aggregates stacked on prefixes of the same key (pair+pos →
    pair), so the word-pair shuffle is the only wide stage. The JW
    kernel (C tier, Arrow-batched) dedupes distinct word pairs per
    batch. Zero per-row Python."""
    from capelinker_spark.operators.textstats import WS_SPLIT

    jw = make_jw_udf(jw_p)

    def directed(df: DataFrame, src: str, dst: str, alias: str) -> DataFrame:
        wa = df.select(
            *id_cols,
            F.posexplode(F.split(F.trim(F.col(src)), WS_SPLIT)).alias(
                "_pos", "_wa"
            ),
        ).where(F.col("_wa") != "")
        wb = df.select(
            *id_cols,
            F.explode(F.split(F.trim(F.col(dst)), WS_SPLIT)).alias("_wb"),
        ).where(F.col("_wb") != "")
        word_pairs = wa.join(wb, id_cols).withColumn(
            "_q",
            F.floor(
                jw(F.col("_wa"), F.col("_wb")) * F.lit(float(quant))
                + F.lit(0.5)
            ),
        )
        best = word_pairs.groupBy(*id_cols, "_pos").agg(
            F.min("_q").alias("_minq")
        )
        # integral (n, Σ min_q) per pair; the division happens at combine
        # time so the symmetric form stays a single IEEE expression
        return best.groupBy(*id_cols).agg(
            F.count("*").alias(f"_n{alias}"),
            F.sum("_minq").alias(f"_s{alias}"),
        )

    fwd = directed(pairs, a_col, b_col, "a")
    if not symmetric:
        sim = (F.col("_na") * F.lit(quant) - F.col("_sa")).cast(
            "double"
        ) / (F.col("_na") * F.lit(quant)).cast("double")
        return (
            pairs.join(fwd, id_cols, "left")
            .withColumn(out, sim)
            .drop("_na", "_sa")
        )
    bwd = directed(pairs, b_col, a_col, "b")
    num = (F.col("_na") * F.lit(quant) - F.col("_sa")) * F.col("_nb") + (
        F.col("_nb") * F.lit(quant) - F.col("_sb")
    ) * F.col("_na")
    den = F.lit(2) * F.col("_na") * F.col("_nb") * F.lit(quant)
    return (
        pairs.join(fwd, id_cols, "left")
        .join(bwd, id_cols, "left")
        .withColumn(out, num.cast("double") / den.cast("double"))
        .drop("_na", "_sa", "_nb", "_sb")
    )


def soft_tfidf(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    id_cols: list[str],
    corpus: DataFrame | None = None,
    threshold: float = 0.9,
    jw_p: float = 0.1,
    quant: int = 1_000_000,
    out: str = "st_sim",
) -> DataFrame:
    """SoftTFIDF (Cohen, Ravikumar & Fienberg 2003) — the hybrid
    token/edit similarity that consistently tops name-matching
    benchmarks: TF-IDF cosine over words, but a word of ``a_col`` may
    match any word of ``b_col`` whose Jaro-Winkler similarity clears
    ``threshold`` (so "jonathon smith" vs "jonathan smith inc" scores
    high although no token is shared verbatim).  Complements F16
    Monge-Elkan (word-best-match mean, no corpus weighting): SoftTFIDF
    downweights ubiquitous tokens ("inc", "de") via corpus IDF, the
    property that makes it an ER measure rather than a string measure.

        sim(a,b) = Σ_{w ∈ CLOSE(a,b;θ)} V(w,a) · V(v*(w),b) · D(w,b)

    where V(w,s) = tf·idf / ||tf·idf||₂ over the words of s, v*(w) is
    the most similar word of b (ties → lexicographically smallest),
    D(w,b) its similarity, and CLOSE keeps words with quantized
    similarity ≥ the quantized threshold.  Words of ``a`` are DISTINCT
    (multiplicity lives in tf, the SecondString convention).

    Exactness design (every cross-engine rule in the book):
    * tf, df, N are integers; idf_q = floor((round(ln N,6) −
      round(ln df,6))·quant + 0.5) — the er12 probed-parity ln recipe
      (JVM vs DuckDB round-6 ln verified identical for every integer
      ≤ 3M);
    * per-word weights V'_q = tf·idf_q and the squared norms Σ V'_q²
      stay LONG (exact, order-independent);
    * word-pair JW similarity is quantized floor once, and the CLOSE
      gate compares QUANTIZED values (threshold-on-rounded rule);
    * each close-word term is the identical IEEE chain
      (V'_q/√normsq)·(V'_q/√normsq)·(sim_q/quant), floor-quantized to
      1e-12 units, summed as LONG; the result is ONE final division.
      Pairs with no close words score 0.0.

    ``corpus``: one string column of names defining df/N (document
    frequency = names CONTAINING the word).  Defaults to the distinct
    names on both sides of ``pairs``; every word of ``pairs`` must
    appear in it (true by construction for the default).

    Plan shape: the corpus side is two hash-aggs (word df, 1-row N
    lazily cross-broadcast — the j4 lazy-scalar rule); the pair side
    explodes words once per side, one equi-join on the pair id makes
    word pairs (the classic O(|a|·|b|) SoftTFIDF cost), an argmax
    window on (pair, word) picks v*, and weight lookups re-join on the
    SAME pair-id key.  JW runs in the Arrow-batched C-kernel UDF.
    Zero per-row Python."""
    from capelinker_spark.operators.textstats import WS_SPLIT

    jw = make_jw_udf(jw_p)
    thr_q = int(threshold * quant + 0.5)

    if corpus is None:
        corpus = (
            pairs.select(F.col(a_col).alias("_name"))
            .union(pairs.select(F.col(b_col).alias("_name")))
            .distinct()
        )
    else:
        corpus = corpus.select(F.col(corpus.columns[0]).alias("_name"))

    words_of = lambda c: F.filter(
        F.split(F.trim(c), WS_SPLIT), lambda x: x != ""
    )
    # df: names CONTAINING each word; N: lazy 1-row broadcast scalar
    dfreq = (
        corpus.select(
            F.explode(F.array_distinct(words_of(F.col("_name")))).alias("_w")
        )
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    n_tbl = corpus.agg(F.count(F.lit(1)).alias("_N"))
    # zero-idf words (df = N, e.g. "inc" in every corpus name) are DROPPED:
    # they contribute 0 to both the dot product and the norm, and keeping
    # them can zero a name's entire weight vector (divide-by-zero under
    # ANSI mode when every word is ubiquitous).
    idf = (
        dfreq.join(F.broadcast(n_tbl))
        .select(
            "_w",
            F.floor(
                (
                    F.round(F.log(F.col("_N").cast("double")), 6)
                    - F.round(F.log(F.col("_df").cast("double")), 6)
                )
                * F.lit(float(quant))
                + F.lit(0.5)
            ).alias("_idfq"),
        )
        .where(F.col("_idfq") > 0)
    )

    def side(src: str, tag: str):
        w = (
            pairs.select(
                *id_cols, F.explode(words_of(F.col(src))).alias("_w")
            )
            .groupBy(*id_cols, "_w")
            .agg(F.count(F.lit(1)).alias("_tf"))
            .join(idf, "_w")
            .select(
                *id_cols,
                F.col("_w").alias(f"_w{tag}"),
                (F.col("_tf") * F.col("_idfq")).alias(f"_vq{tag}"),
            )
        )
        norm = w.groupBy(*id_cols).agg(
            F.sum(F.col(f"_vq{tag}") * F.col(f"_vq{tag}")).alias(
                f"_nsq{tag}"
            )
        )
        return w, norm

    wa, na = side(a_col, "a")
    wb, nb = side(b_col, "b")

    sim_q = F.lit(quant) - F.floor(
        jw(F.col("_wa"), F.col("_wb")) * F.lit(float(quant)) + F.lit(0.5)
    )
    close = (
        wa.select(*id_cols, "_wa", "_vqa")
        .join(wb.select(*id_cols, "_wb", "_vqb"), id_cols)
        .withColumn("_simq", sim_q)
        .where(F.col("_simq") >= F.lit(thr_q))
    )
    pick = Window.partitionBy(*id_cols, "_wa").orderBy(
        F.col("_simq").desc(), F.col("_wb").asc()
    )
    best = close.withColumn("_rn", F.row_number().over(pick)).where(
        F.col("_rn") == 1
    )

    term = (
        (F.col("_vqa").cast("double") / F.sqrt(F.col("_nsqa").cast("double")))
        * (
            F.col("_vqb").cast("double")
            / F.sqrt(F.col("_nsqb").cast("double"))
        )
        * (F.col("_simq").cast("double") / F.lit(float(quant)))
    )
    terms = (
        best.join(na, id_cols)
        .join(nb, id_cols)
        .select(
            *id_cols,
            F.floor(term * F.lit(1e12) + F.lit(0.5)).alias("_tq"),
        )
    )
    sums = terms.groupBy(*id_cols).agg(F.sum("_tq").alias("_sq"))
    return (
        pairs.join(sums, id_cols, "left")
        .withColumn(
            out,
            F.coalesce(F.col("_sq"), F.lit(0)).cast("double")
            / F.lit(1e12),
        )
        .drop("_sq")
    )
