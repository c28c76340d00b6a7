"""Entity-resolution evaluation & consolidation operators.

The reference's pipeline (R/candidates.R → R/pred.R) produces candidate
pairs, scored links, and clusters, but leaves "how good was the blocking /
the clustering?" and "what is THE record for an entity?" to the user. These
are the standard ER closing steps (Christen, *Data Matching*, ch. 7-8):

* ``blocking_metrics`` — reduction ratio / pairs completeness / pairs
  quality of a candidate-pair set against gold matches;
* ``pairwise_cluster_metrics`` — pairwise precision/recall/F1 of a
  predicted clustering against gold entity labels, computed from group
  sizes with n·(n−1)/2 combinatorics — **no pair enumeration**, so a
  10⁹-row clustering is three hash-aggregates, not a 10¹⁸-pair join;
* ``golden_record`` — survivorship: collapse each cluster to one
  canonical record under per-field rules (mode / longest / min / max),
  deterministic under ties.

Exactness: all counts are BIGINT; every ratio is ONE IEEE expression over
those integers, rounded to 6 — the repo's oracle convention.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from capelinker_spark.operators.cluster import iterate

__all__ = [
    "blocking_metrics",
    "pairwise_cluster_metrics",
    "golden_record",
    "bcubed_metrics",
    "adjusted_rand_index",
    "nmi_metrics",
    "cluster_diff",
    "cluster_graph_metrics",
    "edge_triangle_support",
    "node_clustering_coefficient",
    "ktruss",
    "link_prediction_scores",
]


def _scalar(df_agg: DataFrame) -> DataFrame:
    """1-row aggregate used as a lazy scalar (crossJoin broadcast — the
    J4 lazy-N discipline; nothing collects on the driver)."""
    return F.broadcast(df_agg)


def blocking_metrics(
    candidates: DataFrame,
    gold: DataFrame,
    left: DataFrame,
    right: DataFrame,
    id_from: str = "id_from",
    id_to: str = "id_to",
) -> DataFrame:
    """Blocking-quality metrics of a candidate-pair set vs gold matches.

    Returns ONE row ``(n_candidates, n_gold, n_found, reduction_ratio,
    pairs_completeness, pairs_quality)`` where

    * ``reduction_ratio``    = 1 − |C| / (|L|·|R|)  — how much of the
      full cross product the blocking scheme avoided;
    * ``pairs_completeness`` = |C ∩ G| / |G|         — recall of blocking;
    * ``pairs_quality``      = |C ∩ G| / |C|         — precision of
      blocking (density of true matches among candidates).

    ``candidates`` and ``gold`` are pair tables carrying ``id_from`` /
    ``id_to``; ``left`` / ``right`` are the source tables (only counted).

    Plan shape: |C ∩ G| is ONE left-semi equi-join of the candidate table
    on the composite pair key (gold is typically the small side — Spark
    broadcasts it under AQE; no pair set is ever enumerated beyond what
    the caller already materialized); the four counts are 1-row partial
    aggregates crossJoined as lazy scalars. Every ratio is a single IEEE
    division of BIGINTs — bit-stable across engines and partitionings.
    """
    pk = [id_from, id_to]
    n_cand = _scalar(candidates.agg(F.count("*").alias("n_candidates")))
    n_gold = _scalar(gold.agg(F.count("*").alias("n_gold")))
    n_found = _scalar(
        candidates.join(gold, on=pk, how="left_semi").agg(
            F.count("*").alias("n_found")
        )
    )
    n_l = _scalar(left.agg(F.count("*").alias("_nl")))
    n_r = _scalar(right.agg(F.count("*").alias("_nr")))
    return (
        n_cand.crossJoin(n_gold)
        .crossJoin(n_found)
        .crossJoin(n_l)
        .crossJoin(n_r)
        .select(
            "n_candidates",
            "n_gold",
            "n_found",
            F.round(
                1.0
                - F.col("n_candidates")
                / (F.col("_nl") * F.col("_nr")).cast("double"),
                6,
            ).alias("reduction_ratio"),
            F.round(
                F.col("n_found") / F.col("n_gold").cast("double"), 6
            ).alias("pairs_completeness"),
            F.round(
                F.col("n_found") / F.col("n_candidates").cast("double"), 6
            ).alias("pairs_quality"),
        )
    )


def pairwise_cluster_metrics(
    assignments: DataFrame,
    pred_col: str = "canonical_id",
    gold_col: str = "entity_id",
) -> DataFrame:
    """Pairwise precision/recall/F1 of a predicted clustering against gold
    entity labels, from group sizes alone.

    A clustering of N records induces Σ n·(n−1)/2 within-cluster pairs.

    * predicted pairs  TP+FP = Σ over predicted clusters  C(n,2)
    * gold pairs       TP+FN = Σ over gold entities       C(n,2)
    * true positives   TP    = Σ over (pred, gold) cells  C(n,2)

    so precision = TP/(TP+FP), recall = TP/(TP+FN), and pairwise
    F1 = 2·TP / ((TP+FP) + (TP+FN)) — each ONE division of BIGINTs.

    Returns ONE row ``(pairs_pred, pairs_gold, pairs_true, precision,
    recall, f1)``.

    Plan shape: three hash-aggregates over the assignment table (none
    wider than the table itself), 1-row results crossJoined — pairwise
    metrics at 100-TB clustering scale without enumerating a single
    pair. Singleton clusters contribute 0 via n·(n−1)/2 naturally.
    """

    def pair_sum(cols: list, alias: str) -> DataFrame:
        sizes = assignments.groupBy(*cols).agg(
            F.count("*").cast("long").alias("_n")
        )
        # exact integral C(n,2): `/ 2` would be a DOUBLE divide (inexact
        # past 2^53 and partition-order-dependent in the sum), breaking
        # the module's BIGINT contract; `div` is exact and n·(n−1) is
        # always even
        return _scalar(
            sizes.agg(
                F.coalesce(
                    F.sum(F.expr("(_n * (_n - 1)) div 2")).cast("long"),
                    F.lit(0).cast("long"),
                ).alias(alias)
            )
        )

    pred = pair_sum([pred_col], "pairs_pred")
    gold = pair_sum([gold_col], "pairs_gold")
    both = pair_sum([pred_col, gold_col], "pairs_true")
    return (
        pred.crossJoin(gold)
        .crossJoin(both)
        .select(
            "pairs_pred",
            "pairs_gold",
            "pairs_true",
            # try_divide, not `/`: an all-singleton clustering (possible
            # at tiny scale or after aggressive blocking) has ZERO
            # within-cluster pairs, and ANSI-mode division then ABORTS
            # the whole job; NULL is also exactly what the DuckDB oracle
            # yields for 0/0 (round-7 inherited-state fix — values for
            # nonzero denominators are bit-identical to plain division)
            F.round(
                F.try_divide(
                    F.col("pairs_true"), F.col("pairs_pred").cast("double")
                ),
                6,
            ).alias("precision"),
            F.round(
                F.try_divide(
                    F.col("pairs_true"), F.col("pairs_gold").cast("double")
                ),
                6,
            ).alias("recall"),
            F.round(
                F.try_divide(
                    2.0 * F.col("pairs_true"),
                    (F.col("pairs_pred") + F.col("pairs_gold")).cast(
                        "double"
                    ),
                ),
                6,
            ).alias("f1"),
        )
    )


def golden_record(
    records: DataFrame,
    rules: dict,
    cluster_col: str = "canonical_id",
) -> DataFrame:
    """Survivorship: one canonical record per cluster under per-field
    rules — the consolidation step after ``dedup.near_dedup_canonical`` /
    ``cluster.connected_components`` assigns cluster ids.

    ``rules`` maps field name → rule:

    * ``'mode'``    — most frequent non-null value; ties break to the
      lexicographically smallest value (deterministic);
    * ``'longest'`` — longest non-null string; ties break to the
      lexicographically LARGEST among the longest (max over
      (length, value) structs — deterministic);
    * ``'min'`` / ``'max'`` — plain extrema (nulls ignored).

    Returns one row per cluster: ``(cluster_col, n_members, <field>...)``.

    Plan shape: all min/max/longest rules fuse into ONE hash-aggregate
    over the records table. ``mode`` fields go through a tall
    (cluster, field, value) counting table — one explode bounded by
    #mode-fields, one count aggregate, one argmax window whose
    partition key (cluster, field) is a PREFIX of the count's grouping
    key (AQE-coalesced exchange) — then fold back to columns with
    conditional aggregates. No per-cluster value lists are ever
    collected. Zero Python."""
    bad = {f: r for f, r in rules.items() if r not in ("mode", "longest", "min", "max")}
    if bad:
        raise ValueError(f"unknown survivorship rule(s): {bad}")

    simple_aggs = [F.count("*").cast("long").alias("n_members")]
    for field, rule in rules.items():
        c = F.col(field)
        if rule == "longest":
            simple_aggs.append(
                F.max(
                    F.when(
                        c.isNotNull(),
                        F.struct(F.length(c).alias("l"), c.alias("v")),
                    )
                )["v"].alias(field)
            )
        elif rule == "min":
            simple_aggs.append(F.min(c).alias(field))
        elif rule == "max":
            simple_aggs.append(F.max(c).alias(field))
    base = records.groupBy(cluster_col).agg(*simple_aggs)

    mode_fields = [f for f, r in rules.items() if r == "mode"]
    if not mode_fields:
        return base

    tall = records.select(
        F.col(cluster_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("_field"),
                        F.col(f).cast("string").alias("_value"),
                    )
                    for f in mode_fields
                ]
            )
        ).alias("_fv"),
    ).select(cluster_col, "_fv._field", "_fv._value")
    counts = (
        tall.where(F.col("_value").isNotNull())
        .groupBy(cluster_col, "_field", "_value")
        .agg(F.count("*").alias("_cnt"))
    )
    w = Window.partitionBy(cluster_col, "_field").orderBy(
        F.desc("_cnt"), F.asc("_value")
    )
    winners = (
        counts.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .groupBy(cluster_col)
        .agg(
            *[
                F.max(F.when(F.col("_field") == f, F.col("_value")))
                # the tall table stringifies values so heterogeneous
                # fields share one column; restore the declared dtype
                .cast(records.schema[f].dataType)
                .alias(f)
                for f in mode_fields
            ]
        )
    )
    return base.join(winners, cluster_col, "left")


def bcubed_metrics(
    assignments: DataFrame,
    pred_col: str = "canonical_id",
    gold_col: str = "entity_id",
    scale: int = 12,
) -> DataFrame:
    """B-cubed precision/recall/F1 (Bagga & Baldwin 1998) of a predicted
    clustering against gold entity labels — the record-averaged
    complement of ``pairwise_cluster_metrics`` (pairwise metrics weight
    big clusters quadratically; B-cubed weights every RECORD equally,
    so it is the standard second opinion in ER evaluation).

    Per record r: precision(r) = |C(r) ∩ L(r)| / |C(r)|,
    recall(r) = |C(r) ∩ L(r)| / |L(r)|; the metric is the mean over all
    N records. Grouping by (pred, gold) cell, a cell of size n inside a
    predicted cluster of size np and gold entity of size ng contributes
    n · (n/np) to Σprecision and n · (n/ng) to Σrecall, so

        B³-precision = (1/N) Σ_cells n² / np
        B³-recall    = (1/N) Σ_cells n² / ng

    Exactness/order-independence: each cell's contribution is quantized
    to an INTEGER — floor(n²·10^scale / np) via exact integer floor
    division — summed as DECIMAL(38,0) (overflow-free, order-free), and
    divided out in ONE final IEEE expression; round(...,6) absorbs the
    ≤ #cells·10^-scale quantization slack. The n²·10^scale product is
    computed in DECIMAL(38,0), so no BIGINT overflow for any real
    cluster size. A deterministic metric regardless of partitioning is
    itself a scale feature: reruns and resumes reproduce the exact
    evaluation number.

    Plan shape: three hash-aggregates (cell sizes, pred sizes, gold
    sizes), two equi-joins of the cell table to the size tables, one
    global 1-row aggregate. No pair enumeration — a 10⁹-row clustering
    costs the same shape as ``pairwise_cluster_metrics``.

    Returns ONE row ``(n_records, bcubed_precision, bcubed_recall,
    bcubed_f1)``."""
    cells = assignments.groupBy(pred_col, gold_col).agg(
        F.count("*").cast("long").alias("_n")
    )
    pred_sz = assignments.groupBy(pred_col).agg(
        F.count("*").cast("long").alias("_np")
    )
    gold_sz = assignments.groupBy(gold_col).agg(
        F.count("*").cast("long").alias("_ng")
    )
    # exact integral floor division (NOT decimal `/` + floor — decimal
    # division may round the quotient before flooring). Spark's `div`
    # returns LONG, and a direct (n²·10^scale) div d quotient is
    # n·10^scale — past LONG for cells over ~9.2·10⁶ rows — so the
    # quotient is built from the exact split identity
    #   floor(n²·B/d) = (n² div d)·B + ((n² mod d)·B) div d
    # whose pieces (≤ n and < 10^scale) always fit, with the ·B
    # products in DECIMAL(38,0)
    n2 = "cast(_n as decimal(38,0)) * _n"
    b = f"cast({10 ** scale} as decimal(20,0))"

    def fq(d: str) -> str:
        return (
            f"cast(({n2}) div {d} as decimal(38,0)) * {b}"
            f" + cast((cast(pmod({n2}, {d}) as decimal(38,0)) * {b})"
            f" div {d} as decimal(38,0))"
        )

    joined = cells.join(pred_sz, pred_col).join(gold_sz, gold_col)
    sums = joined.agg(
        F.sum(F.col("_n")).cast("long").alias("n_records"),
        F.sum(F.expr(fq("_np")).cast("decimal(38,0)")).alias("_sp"),
        F.sum(F.expr(fq("_ng")).cast("decimal(38,0)")).alias("_sr"),
    )
    denom = F.col("n_records").cast("double") * float(10**scale)
    p = F.col("_sp").cast("double") / denom
    r = F.col("_sr").cast("double") / denom
    return sums.select(
        "n_records",
        F.round(p, 6).alias("bcubed_precision"),
        F.round(r, 6).alias("bcubed_recall"),
        F.round(
            (2.0 * F.col("_sp").cast("double") * F.col("_sr"))
            / (
                (F.col("_sp") + F.col("_sr")).cast("double")
                * F.col("n_records")
                * float(10**scale)
            ),
            6,
        ).alias("bcubed_f1"),
    )


def adjusted_rand_index(
    assignments: DataFrame,
    pred_col: str = "canonical_id",
    gold_col: str = "entity_id",
) -> DataFrame:
    """Adjusted Rand Index (Hubert & Arabie 1985) of a predicted
    clustering against gold labels — the chance-corrected third opinion
    next to ``pairwise_cluster_metrics`` (quadratic weighting) and
    ``bcubed_metrics`` (record weighting): ARI is 0 in expectation for a
    random clustering and 1 only for a perfect one, so it is the metric
    to compare clusterings of DIFFERENT granularity fairly.

    With index = Σ_cells C(n_ij,2), ea = Σ_pred C(a_i,2),
    eb = Σ_gold C(b_j,2), p = C(n,2):

        ARI = 2·(index·p − ea·eb) / ((ea+eb)·p − 2·ea·eb)

    (the textbook form with numerator and denominator multiplied by p —
    every term an exact integer). Exactness: per-group C(n,2) is exact
    LONG (n·(n−1) fits to n ≈ 4·10⁹); the four sums and both products
    are DECIMAL(38,0) (magnitudes ≤ ~10³⁶ at 10⁹ records — overflow-free
    and order-independent), and the ONLY IEEE operation is the final
    division, rounded to 6. Degenerate clusterings (denominator 0: both
    sides all-singletons or both one cluster) return NULL rather than
    the conventional 1 — deterministic on both engines.

    Plan shape: three hash-aggregates over the assignment table + 1-row
    lazy scalars crossJoined; no pair enumeration. Returns ONE row
    ``(n_records, pairs_index, pairs_pred, pairs_gold, ari)``."""

    def comb_sum(cols: list, alias: str) -> DataFrame:
        sizes = assignments.groupBy(*cols).agg(
            F.count("*").cast("long").alias("_n")
        )
        return _scalar(
            sizes.agg(
                F.coalesce(
                    F.sum(
                        F.expr("(_n * (_n - 1)) div 2").cast("decimal(38,0)")
                    ),
                    F.lit(0).cast("decimal(38,0)"),
                ).alias(alias)
            )
        )

    n_rec = _scalar(assignments.agg(F.count("*").cast("long").alias("n_records")))
    idx = comb_sum([pred_col, gold_col], "pairs_index")
    ea = comb_sum([pred_col], "pairs_pred")
    eb = comb_sum([gold_col], "pairs_gold")
    p = (
        (F.col("n_records").cast("decimal(38,0)") * (F.col("n_records") - 1))
        / 2
    ).cast("decimal(38,0)")
    num = F.lit(2).cast("decimal(38,0)") * (
        F.col("pairs_index") * p - F.col("pairs_pred") * F.col("pairs_gold")
    )
    den = (F.col("pairs_pred") + F.col("pairs_gold")) * p - (
        F.lit(2).cast("decimal(38,0)")
        * F.col("pairs_pred")
        * F.col("pairs_gold")
    )
    return (
        n_rec.crossJoin(idx)
        .crossJoin(ea)
        .crossJoin(eb)
        .select(
            "n_records",
            F.col("pairs_index").cast("long").alias("pairs_index"),
            F.col("pairs_pred").cast("long").alias("pairs_pred"),
            F.col("pairs_gold").cast("long").alias("pairs_gold"),
            F.when(
                den != F.lit(0).cast("decimal(38,0)"),
                F.round(num.cast("double") / den.cast("double"), 6),
            ).alias("ari"),
        )
    )


def nmi_metrics(
    assignments: DataFrame,
    pred_col: str = "canonical_id",
    gold_col: str = "entity_id",
) -> DataFrame:
    """Normalized Mutual Information (sqrt normalization, Strehl & Ghosh
    2002) of a predicted clustering against gold labels — the
    information-theoretic fourth opinion completing the metric quartet
    (pairwise F1 = quadratic weighting, B-cubed = record weighting, ARI
    = chance correction, NMI = information overlap). NMI is the metric
    of choice when cluster-count granularity differs wildly between the
    two sides, since entropy normalization is insensitive to how pair
    counts explode with cluster size.

    Everything reduces to three size-histogram log-sums via

        N·MI   = Σ_cells n·ln n − Σ_pred a·ln a − Σ_gold b·ln b + N·ln N
        N·H(U) = N·ln N − Σ_pred a·ln a      (and H(V) analogously)
        NMI    = N·MI / sqrt(N·H(U) · N·H(V))

    Exactness (the ts9/bigram-LM recipe): each ``ln(size)`` — logs of
    INTEGERS only (JVM-vs-libm round6(ln n) parity probed exhaustively
    over n ∈ 1..3·10⁶: zero mismatches) — is rounded to 6 decimals
    FIRST, multiplied by the
    exact integer size in DECIMAL (scale-6 product is exact), and summed
    as DECIMAL(38,6) — order-independent across any partitioning. The
    final NMI is ONE IEEE expression over those identical decimal sums,
    rounded to 6; the ≤ 5·10⁻⁷·N per-sum quantization slack cancels in
    the ratio to far below the output quantum. Degenerate sides (a
    single cluster ⇒ zero entropy) return NULL rather than a 0/0
    convention — deterministic on both engines, like ``ari``.

    Plan shape: three hash-aggregates over the assignment table + 1-row
    lazy scalars crossJoined; no pair enumeration, no driver collect.
    Returns ONE row ``(n_records, mi, entropy_pred, entropy_gold,
    nmi)``."""

    def log_sum(cols: list, alias: str) -> DataFrame:
        sizes = assignments.groupBy(*cols).agg(
            F.count("*").cast("long").alias("_n")
        )
        # decimal(19,0) x decimal(18,6): precision 19+18+1 = 38 — exact
        # scale-6 product with no precision-loss rescaling on either engine
        term = F.col("_n").cast("decimal(19,0)") * F.round(
            F.log(F.col("_n").cast("double")), 6
        ).cast("decimal(18,6)")
        return _scalar(
            sizes.agg(
                F.coalesce(
                    F.sum(term), F.lit(0).cast("decimal(38,6)")
                ).alias(alias)
            )
        )

    n_rec = _scalar(
        assignments.agg(F.count("*").cast("long").alias("n_records"))
    )
    sc = log_sum([pred_col, gold_col], "_sc")
    sp = log_sum([pred_col], "_sp")
    sg = log_sum([gold_col], "_sg")
    t = F.col("n_records").cast("decimal(19,0)") * F.round(
        F.log(F.col("n_records").cast("double")), 6
    ).cast("decimal(18,6)")
    mi_num = (t + F.col("_sc") - F.col("_sp") - F.col("_sg")).cast(
        "decimal(38,6)"
    )
    hu = (t - F.col("_sp")).cast("decimal(38,6)")
    hv = (t - F.col("_sg")).cast("decimal(38,6)")
    zero = F.lit(0).cast("decimal(38,6)")
    n_dbl = F.col("n_records").cast("double")
    return (
        n_rec.crossJoin(sc)
        .crossJoin(sp)
        .crossJoin(sg)
        .select(
            "n_records",
            F.round(mi_num.cast("double") / n_dbl, 6).alias("mi"),
            F.round(hu.cast("double") / n_dbl, 6).alias("entropy_pred"),
            F.round(hv.cast("double") / n_dbl, 6).alias("entropy_gold"),
            F.when(
                (hu > zero) & (hv > zero),
                F.round(
                    mi_num.cast("double")
                    / F.sqrt(hu.cast("double") * hv.cast("double")),
                    6,
                ),
            ).alias("nmi"),
        )
    )


def cluster_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "id",
    old_col: str = "canonical_id",
    new_col: str = "canonical_id",
) -> DataFrame:
    """Split/merge diff between two clusterings of the same records —
    the incremental-ER ops question ("what did this rerun / this batch
    of new links DO to my entities?") that a bare metric number hides.
    Run it on consecutive ``connected_components`` snapshots to audit
    churn per rerun.

    Records present in both assignment tables (inner join on id) are
    classified per NEW cluster:

    * ``'stable'`` — its members are exactly one old cluster, entire;
    * ``'split'``  — its members are a strict subset of ONE old cluster
      (the old entity broke apart);
    * ``'merged'`` — its members span >1 old cluster.

    (A merged cluster may also contain split fragments — merge takes
    precedence; sizes are computed over the SHARED record set, so
    records added/removed between runs do not masquerade as splits.)

    Returns one row per new cluster: ``(new_col, n_members,
    n_source_clusters, status)``.

    Plan shape: one equi-join of the two assignment tables on id, two
    hash-aggregates (old sizes; per-new-cluster count + exact distinct
    + max source), one broadcast-able join of per-cluster stats to old
    sizes. No pair enumeration; scales as the assignment tables do."""
    j = old.select(
        F.col(id_col).alias("_id"), F.col(old_col).alias("_old")
    ).join(
        new.select(F.col(id_col).alias("_id"), F.col(new_col).alias("_new")),
        "_id",
    )
    old_sz = j.groupBy("_old").agg(F.count("*").cast("long").alias("_osz"))
    stats = j.groupBy("_new").agg(
        F.count("*").cast("long").alias("n_members"),
        F.count_distinct(F.col("_old")).cast("long").alias("n_source_clusters"),
        F.max("_old").alias("_src"),
    )
    return (
        stats.join(old_sz, stats["_src"] == old_sz["_old"], "left")
        .select(
            F.col("_new").alias(new_col),
            "n_members",
            "n_source_clusters",
            F.when(F.col("n_source_clusters") > 1, F.lit("merged"))
            .when(F.col("n_members") == F.col("_osz"), F.lit("stable"))
            .otherwise(F.lit("split"))
            .alias("status"),
        )
    )


def cluster_graph_metrics(
    edges: DataFrame,
    assignments: DataFrame,
    id_col: str = "id",
    cluster_col: str = "canonical_id",
    src: str = "id_from",
    dst: str = "id_to",
) -> DataFrame:
    """Per-cluster graph diagnostics (the Splink cluster-metrics recipe):
    node count, INTRA-cluster edge count, and edge density
    2m / (n·(n−1)) — the standard "is this component over-merged?"
    signal (a big low-density cluster is usually a transitive-closure
    chain through one bad link; density 1.0 is a clique of all-pairs
    evidence).

    Cross-cluster edges are dropped (they are, by construction of the
    clustering, the pruned evidence); singleton clusters report density
    NULL (undefined denominator). Dangling edge endpoints — ids absent
    from ``assignments`` — never count.

    Exactness: n and m are exact longs; density is quantized
    floor(x·1e6+0.5)/1e6, NOT round(x,6) — n·(n−1) denominators are
    frequently 2^a·5^b (n=5 → 20), so the quotient can terminate at a
    decimal half-boundary where Spark's and DuckDB's round() diverge on
    the same double (the f16/pid-190 finding).

    Plan shape: two equi-joins label the edge endpoints (broadcast-able
    when the assignment table is small; at scale both shuffle on id —
    the same key layout connected components already produced), then two
    hash-aggregates and one left join of clusters to intra-edge counts.
    No pair enumeration beyond the given edge list."""
    lab = assignments.select(
        F.col(id_col).alias("_id"), F.col(cluster_col).alias("_c")
    )
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .join(lab.withColumnRenamed("_id", "_s").withColumnRenamed("_c", "_cs"), "_s")
        .join(lab.withColumnRenamed("_id", "_d").withColumnRenamed("_c", "_cd"), "_d")
        .where(F.col("_cs") == F.col("_cd"))
    )
    m = e.groupBy(F.col("_cs").alias(cluster_col)).agg(
        F.count("*").cast("long").alias("n_edges")
    )
    n = assignments.groupBy(cluster_col).agg(
        F.count("*").cast("long").alias("n_nodes")
    )
    dens_raw = (F.lit(2) * F.col("n_edges")).cast("double") / (
        F.col("n_nodes") * (F.col("n_nodes") - 1)
    ).cast("double")
    return (
        n.join(m, cluster_col, "left")
        .withColumn("n_edges", F.coalesce(F.col("n_edges"), F.lit(0)))
        .withColumn(
            "density",
            F.when(
                F.col("n_nodes") > 1,
                F.floor(dens_raw * F.lit(1000000.0) + F.lit(0.5))
                / F.lit(1000000.0),
            ),
        )
    )


def _normalized_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge list normalized to (_a < _b), self-loops and
    duplicate/reversed rows removed, NULL endpoints dropped."""
    a, b = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    return (
        edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(a.alias("_a"), b.alias("_b"))
        .where(F.col("_a") != F.col("_b"))
        .distinct()
    )


def _triangles(e: DataFrame) -> DataFrame:
    """Enumerate each triangle of the normalized edge list EXACTLY once
    as (_u, _x, _y) via degree-ordered wedge counting (Suri &
    Vassilvitskii WWW'11): edges orient from the lower-(degree, id)
    endpoint, wedges enumerate only from a triangle's smallest vertex
    under that total order, and one equi-join closes them — per-vertex
    fan-out stays bounded on power-law graphs because a hub's edges all
    point INTO it."""
    deg = (
        e.select(F.col("_a").alias("_n"))
        .unionAll(e.select(F.col("_b").alias("_n")))
        .groupBy("_n")
        .agg(F.count("*").cast("long").alias("_d"))
    )
    ed = (
        e.join(deg.withColumnRenamed("_n", "_a").withColumnRenamed("_d", "_da"), "_a")
        .join(deg.withColumnRenamed("_n", "_b").withColumnRenamed("_d", "_db"), "_b")
    )
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("_a") < F.col("_b"))
    )
    oe = ed.select(
        F.when(a_first, F.col("_a")).otherwise(F.col("_b")).alias("_u"),
        F.when(a_first, F.col("_b")).otherwise(F.col("_a")).alias("_v"),
        F.when(
            a_first,
            F.struct(F.col("_db").alias("_d"), F.col("_b").alias("_i")),
        )
        .otherwise(
            F.struct(F.col("_da").alias("_d"), F.col("_a").alias("_i"))
        )
        .alias("_vo"),  # (degree, id) order key of the head vertex
    )
    x = oe.select("_u", F.col("_v").alias("_x"), F.col("_vo").alias("_xo"))
    y = oe.select("_u", F.col("_v").alias("_y"), F.col("_vo").alias("_yo"))
    wedges = x.join(y, "_u").where(F.col("_xo") < F.col("_yo"))
    return wedges.join(
        oe.select(F.col("_u").alias("_x"), F.col("_v").alias("_y")),
        ["_x", "_y"],
    ).select("_u", "_x", "_y")


def edge_triangle_support(
    edges: DataFrame,
    src: str = "id_from",
    dst: str = "id_to",
) -> DataFrame:
    """Per-edge triangle support — for every undirected edge (a, b),
    the number of common neighbours |N(a) ∩ N(b)| — the classic
    over-merge audit next to ``cluster_graph_metrics``: a link with
    support 0 sits in no triangle, so it is a BRIDGE CANDIDATE (the
    single piece of evidence holding two subgroups together); ER
    practice reviews low-support links first when a component looks
    over-merged (Splink's cluster-studio workflow, edge 'is_bridge').

    Distributed triangle counting (the degree-ordered wedge algorithm —
    Suri & Vassilvitskii WWW'11 / Cohen 2009): every edge is oriented
    from its lower-(degree, id) endpoint to the higher one, wedges are
    enumerated only from each triangle's SMALLEST vertex under that
    total order, and a wedge closes into a triangle via one equi-join
    against the oriented edge list. Orientation bounds per-vertex wedge
    fan-out by O(sqrt(|E|)) on skewed (power-law) graphs — the hub that
    would generate deg² wedges enumerates none, because its edges all
    point INTO it. Each triangle is found exactly once, then credits
    its three edges through one hash-aggregate.

    Self-loops are dropped, duplicate/reversed edges dedupe, and edges
    outside any triangle report support 0. Exact integer counts — no
    approximation. Returns ``(src, dst, support)`` with src < dst.

    Plan shape: one distinct over normalized edges, one degree
    hash-aggregate + two broadcast-able degree joins, one wedge
    self-equi-join on the source vertex, one closing equi-join, one
    count aggregate, one left join back. No cartesian product, zero
    Python."""
    e = _normalized_edges(edges, src, dst)
    tri = _triangles(e)

    def norm(p: Column, q: Column) -> Column:
        return F.struct(
            F.least(p, q).alias("_a"), F.greatest(p, q).alias("_b")
        )

    tedges = tri.select(
        F.explode(
            F.array(
                norm(F.col("_u"), F.col("_x")),
                norm(F.col("_u"), F.col("_y")),
                norm(F.col("_x"), F.col("_y")),
            )
        ).alias("_e")
    ).select("_e._a", "_e._b")
    counts = tedges.groupBy("_a", "_b").agg(
        F.count("*").cast("long").alias("support")
    )
    return (
        e.join(counts, ["_a", "_b"], "left")
        .select(
            F.col("_a").alias(src),
            F.col("_b").alias(dst),
            F.coalesce(F.col("support"), F.lit(0).cast("long")).alias(
                "support"
            ),
        )
    )


def node_clustering_coefficient(
    edges: DataFrame,
    src: str = "id_from",
    dst: str = "id_to",
) -> DataFrame:
    """Per-node local clustering coefficient — 2·t(v) / (d(v)·(d(v)−1))
    with t(v) the number of triangles through v — the node-level
    companion to ``edge_triangle_support``: inside an ER component, a
    low-coefficient, high-degree node is the classic OVER-MERGE HUB (a
    record glued to many subgroups whose neighbours share no evidence
    with each other), the first record to review when a cluster looks
    wrong.

    Triangles come from the same degree-ordered enumeration as
    ``edge_triangle_support`` (each found once, then exploded to its
    three corners and counted per node — one hash-aggregate). Degree-1
    nodes report coefficient NULL (undefined denominator). The
    coefficient is quantized floor(x·1e6 + 0.5)/1e6, NOT round(x, 6):
    d·(d−1) denominators are frequently 2^a·5^b (d=5 → 20), so the
    quotient can terminate at a decimal half-boundary where Spark's and
    DuckDB's round() diverge on the same double (the f16 rule).

    Returns ``(node, degree, triangles, coefficient)``.

    Plan shape: the triangle pipeline's joins + one corner explode, one
    per-node count, one left join onto the degree table. Zero Python,
    no cartesian product."""
    e = _normalized_edges(edges, src, dst)
    deg = (
        e.select(F.col("_a").alias("node"))
        .unionAll(e.select(F.col("_b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    corners = (
        _triangles(e)
        .select(
            F.explode(
                F.array(F.col("_u"), F.col("_x"), F.col("_y"))
            ).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    coef_raw = (F.lit(2) * F.col("triangles")).cast("double") / (
        F.col("degree") * (F.col("degree") - 1)
    ).cast("double")
    return (
        deg.join(corners, "node", "left")
        .withColumn(
            "triangles", F.coalesce(F.col("triangles"), F.lit(0).cast("long"))
        )
        .withColumn(
            "coefficient",
            F.when(
                F.col("degree") > 1,
                F.floor(coef_raw * F.lit(1000000.0) + F.lit(0.5))
                / F.lit(1000000.0),
            ),
        )
    )


def ktruss(
    edges: DataFrame,
    k: int,
    src: str = "id_from",
    dst: str = "id_to",
    max_iter: int = 100,
) -> DataFrame:
    """k-truss of an undirected graph — the maximal subgraph in which
    EVERY edge closes ≥ k−2 triangles (Cohen 2008): the
    community-core extractor one level up from ``edge_triangle_support``.
    For an over-merged ER component the 3-truss (or 4-truss) strips
    bridge/chain evidence and leaves the densely-supported cores, which
    is exactly the "split this entity along its weak seams" operation;
    truss peeling is the standard scalable stand-in for the
    betweenness-based splitting that driver-side graph tools do.

    Iterative peel to a FIXPOINT: recompute per-edge support inside the
    surviving subgraph, drop edges with support < k−2, repeat until no
    edge falls (dropping an edge can demote its neighbours, so one pass
    is NOT enough — the cascade is the algorithm). Each wave is the
    bounded triangle pipeline (degree-ordered, no cartesian) and one
    ``cluster.iterate`` round: the edges left below k−2 support are
    counted on the wave's checkpoint, and a wave that leaves none is the
    fixpoint.

    Returns the surviving normalized edges ``(src, dst, support)`` with
    the FINAL in-truss support values. k < 3 returns the (normalized)
    input with its supports (every edge trivially qualifies).
    Terminates in ≤ |E| waves; ``max_iter`` is a guard rail."""
    if k < 2:
        raise ValueError("k must be >= 2")
    e = edge_triangle_support(edges, src, dst)
    if k < 3:
        return e
    keep = F.col("support") >= k - 2
    return iterate(
        e, lambda e, _: edge_triangle_support(e.where(keep), src, dst), max_iter,
        changed=~keep, name="ktruss",
    )


def link_prediction_scores(
    edges: DataFrame,
    src: str = "id_from",
    dst: str = "id_to",
    max_center_degree: int | None = None,
) -> DataFrame:
    """Missed-match suggestion by neighbourhood evidence — for every
    NON-adjacent pair (a, b) at distance 2, the common-neighbour count
    and the Adamic-Adar score Σ_{w ∈ N(a)∩N(b)} 1/ln(deg(w))
    (Adamic & Adar 2003; the LP baseline of Liben-Nowell & Kleinberg
    2003). This is the forward-looking companion to
    ``edge_triangle_support``: er13 audits links you HAVE (support 0 =
    bridge, review for over-merge); this one proposes links you DON'T
    (two records sharing well-connected evidence nodes but never paired
    by blocking — the classic under-merge recovery pass, e.g. two
    profile records both linked to the same rare household/address
    nodes).

    Semantics: wedges enumerate from each CENTER node w (one row per
    unordered neighbour pair of w), aggregate per pair, and pairs that
    are already edges are anti-joined away. Centers of degree < 2 form
    no wedge; every surviving center has deg ≥ 2, so ln(deg) ≥ ln 2 > 0
    and the reciprocal is well-defined — no division guard needed by
    construction.

    Exactness (the er12 ln recipe + the er7 integer-division identity):
    per-center weight is the INTEGER ``10¹² div q`` with
    ``q = floor(ln(deg)·10⁶ + 0.5)`` — i.e. ≈ 10⁶/ln(deg), the
    Adamic-Adar term in 10⁻⁶ units — logs of integers only, the
    JVM-vs-libm round6(ln n) parity probed exhaustively over
    n ∈ 1..3·10⁶ with zero mismatches (er_eval.nmi_metrics docstring) —
    summed as exact BIGINTs; ``aa_score`` is ONE final cast/division of
    that integer. No float crosses an engine boundary unrounded.

    Scale: distance-2 pair enumeration is inherently Σ_w C(deg(w), 2)
    output rows — a power-law hub generates deg² wedges, and unlike the
    triangle path (er13) there is no closing-edge orientation to prune
    it, because the OUTPUT is the open wedge itself. The standard
    mitigation is ``max_center_degree``: centers above the cap are
    excluded entirely (their wedges AND their weight terms — a
    consistent "ignore super-hub evidence" semantics, documented
    APPROXIMATE, the LSH ``max_bucket_size`` convention from
    dedup.py). Hubs contribute the least per-wedge weight anyway
    (1/ln d → 0), so the cap discards the flattest scores first.
    Default ``None`` is exact.

    Returns ``(src, dst, common_neighbors, aa_micro, aa_score)`` with
    src < dst; ``aa_micro`` is the exact BIGINT score in 10⁻⁶ units
    and ``aa_score`` its ONE-division literature-scale double.

    Plan shape: one distinct over normalized edges, one degree
    hash-aggregate, one wedge self-equi-join on the center, one pair
    hash-aggregate, one left-anti join against the edge list. No
    cartesian product, zero Python.

    Reference seam: the reference stops at scored candidate pairs
    (R/pred.R:43-45); neighbourhood-evidence recovery of pairs its
    blocking never generated (R/candidates.R:30-60) has no counterpart
    there."""
    e = _normalized_edges(edges, src, dst)
    adj = e.select(F.col("_a").alias("_w"), F.col("_b").alias("_n")).unionAll(
        e.select(F.col("_b").alias("_w"), F.col("_a").alias("_n"))
    )
    deg = adj.groupBy("_w").agg(F.count("*").cast("long").alias("_d"))
    centers = deg.where(F.col("_d") >= 2)
    if max_center_degree is not None:
        centers = centers.where(F.col("_d") <= int(max_center_degree))
    # integer per-center weight: q = floor(ln(d)*1e6 + 0.5); t = 1e12 div q
    centers = centers.withColumn(
        "_t",
        F.expr(
            "1000000000000L div "
            "cast(floor(ln(cast(_d as double)) * 1000000.0 + 0.5) as long)"
        ),
    )
    fan = adj.join(centers, "_w")
    x = fan.select("_w", F.col("_n").alias("_x"), "_t")
    y = fan.select("_w", F.col("_n").alias("_y"))
    wedges = x.join(y, "_w").where(F.col("_x") < F.col("_y"))
    scored = wedges.groupBy("_x", "_y").agg(
        F.count("*").cast("long").alias("common_neighbors"),
        F.sum("_t").cast("long").alias("aa_micro"),
    )
    return (
        scored.join(
            e,
            (scored["_x"] == e["_a"]) & (scored["_y"] == e["_b"]),
            "left_anti",
        )
        .select(
            F.col("_x").alias(src),
            F.col("_y").alias(dst),
            "common_neighbors",
            "aa_micro",
            (F.col("aa_micro").cast("double") / F.lit(1000000.0)).alias(
                "aa_score"
            ),
        )
    )
