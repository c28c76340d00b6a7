"""Link prediction & selection — ``predict_links`` (R/pred.R:27-57).

Scoring is pluggable (a score column, a native logistic expression from
``capelinker_spark.ml.logistic``, or a Spark ML model's transform); selection
is the reference's dual-rank top-1 rule.

Rank semantics: R's ``rank(-predicted)`` uses average ranks for ties
(ties at the top → rank 1.5 → NO link selected). Reproduced exactly as
``rank + (tie_count - 1)/2`` so one:one selection never picks an arbitrary
member of a tie — the determinism the north rule requires.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from capelinker_spark.operators.cluster import iterate


def _avg_rank(score: Column, by: Column) -> Column:
    w = Window.partitionBy(by).orderBy(F.desc_nulls_last(score))
    # tie count as the PEER count of the same sorted window (range frame
    # bounded at the current row ⇒ rows with an equal ORDER value). A
    # partitionBy(by, score) count would be semantically identical but
    # hash-shuffles on a different key — one extra exchange per side on
    # the pipeline's widest table.
    ties = w.rangeBetween(Window.currentRow, Window.currentRow)
    return F.rank().over(w) + (F.count("*").over(ties) - 1) / 2.0


def rank_links(
    dat: DataFrame,
    id_from: str,
    id_to: str,
    score_col: str = "predicted",
) -> DataFrame:
    """Add ``rank_from`` / ``rank_to`` (R/pred.R:47-48)."""
    s = F.col(score_col)
    return dat.withColumn(
        "rank_from", _avg_rank(s, F.col(id_from))
    ).withColumn("rank_to", _avg_rank(s, F.col(id_to)))


def select_links(
    dat: DataFrame,
    minimum_confidence: float = 0.5,
    linktype: str = "one:one",
    score_col: str = "predicted",
) -> DataFrame:
    """R/pred.R:50-54: many:one → rank_from==1 & p>τ;
    one:one → both ranks 1 & p>τ."""
    cond = (F.col("rank_from") == 1) & (F.col(score_col) > minimum_confidence)
    if linktype == "one:one":
        cond = cond & (F.col("rank_to") == 1)
    elif linktype != "many:one":
        raise ValueError(f"unknown linktype {linktype!r}")
    return dat.where(cond)


def predict_links(
    dat_candidates: DataFrame,
    id_from: str,
    id_to: str,
    scorer,
    minimum_confidence: float = 0.5,
    linktype: str = "one:one",
) -> DataFrame:
    """Score + dual-rank + select. ``scorer`` is either a Column expression
    (native logistic), or a callable DataFrame → DataFrame that adds a
    ``predicted`` column (Spark ML transform)."""
    if callable(scorer) and not isinstance(scorer, Column):
        scored = scorer(dat_candidates)
    else:
        scored = dat_candidates.withColumn("predicted", scorer)
    ranked = rank_links(scored, id_from, id_to)
    return select_links(ranked, minimum_confidence, linktype)


def group_split(
    dat: DataFrame,
    group_col: str,
    train_frac: float = 0.7,
    seed: int = 210421,
) -> tuple[DataFrame, DataFrame]:
    """Group-consistent train/test split: sample GROUPS, not rows
    (vignettes/example.rmd:129-137 samples 70% of unique persid_from).
    Deterministic: a group is train iff pmod(xxhash64(group, seed), 10^6) <
    frac·10^6 — stable under repartitioning, unlike ``sample``."""
    bucket = F.pmod(F.xxhash64(F.col(group_col), F.lit(seed)), F.lit(1_000_000))
    train = dat.where(bucket < int(train_frac * 1_000_000))
    test = dat.where(bucket >= int(train_frac * 1_000_000))
    return train, test


def confusion(
    dat: DataFrame, label_col: str = "correct", score_col: str = "predicted",
    threshold: float = 0.5,
) -> dict[str, int]:
    """Confusion cells + P/R/F1 at τ (vignettes/example.rmd:184-197)."""
    agg = dat.agg(
        F.sum(((F.col(score_col) > threshold) & F.col(label_col)).cast("long")).alias("tp"),
        F.sum(((F.col(score_col) > threshold) & ~F.col(label_col)).cast("long")).alias("fp"),
        F.sum(((F.col(score_col) <= threshold) & F.col(label_col)).cast("long")).alias("fn"),
        F.sum(((F.col(score_col) <= threshold) & ~F.col(label_col)).cast("long")).alias("tn"),
    ).collect()[0]
    tp, fp, fn, tn = agg["tp"] or 0, agg["fp"] or 0, agg["fn"] or 0, agg["tn"] or 0
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "tp": tp, "fp": fp, "fn": fn, "tn": tn,
        "precision": precision, "recall": recall, "f1": f1,
    }


def pr_curve(
    dat: DataFrame,
    thresholds=None,
    label_col: str = "correct",
    score_col: str = "predicted",
) -> list[dict]:
    """Threshold sweep for the precision-recall curve
    (data_raw/pretrained.R:300-316) — ONE aggregation pass: per-bucket
    TP/FP counts cumulated driver-side, not one scan per threshold."""
    import numpy as np

    thresholds = list(thresholds if thresholds is not None else np.arange(0.05, 1.0, 0.05))
    bucket = F.least(F.floor(F.col(score_col) * 1000).cast("int"), F.lit(999))
    counts = (
        dat.groupBy(bucket.alias("b"), F.col(label_col).alias("y"))
        .count()
        .collect()
    )
    pos = [0] * 1000
    neg = [0] * 1000
    for r in counts:
        (pos if r["y"] else neg)[r["b"]] += r["count"]
    total_pos = sum(pos)
    out = []
    for t in thresholds:
        # thresholds quantized to the 1e-3 bucket grid (documented):
        # "score > t" counts buckets strictly above t's bucket
        b = min(int(round(t * 1000)), 999)
        tp = sum(pos[b + 1 :])
        fp = sum(neg[b + 1 :])
        fn = total_pos - tp
        precision = tp / (tp + fp) if tp + fp else 0.0
        recall = tp / (tp + fn) if tp + fn else 0.0
        f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
        out.append(
            {"threshold": float(t), "precision": precision, "recall": recall, "f1": f1}
        )
    return out


def format_confusion(m: dict) -> str:
    """Confusion matrix as a text table (conf2tex analog, R/util.R:329-341)."""
    return (
        "            predicted-     predicted+\n"
        f"actual-     {m['tn']:>10}     {m['fp']:>10}\n"
        f"actual+     {m['fn']:>10}     {m['tp']:>10}\n"
        f"precision={m['precision']:.4f} recall={m['recall']:.4f} f1={m['f1']:.4f}"
    )


def mutual_best_match(
    pairs: DataFrame,
    id_from: str = "id_from",
    id_to: str = "id_to",
    score_col: str = "predicted",
) -> DataFrame:
    """Reciprocal-best (symmetric best match) selection: keep a scored
    pair only when it is the TOP-ranked candidate for BOTH of its
    endpoints. The standard high-precision one:one selection strategy
    (Christen, *Data Matching* §6.10 "mutual nearest neighbours");
    exactly the FIRST round of ``greedy_match`` — records whose best
    candidates disagree stay unmatched instead of cascading to weaker
    edges, which is what distinguishes it from the full greedy matching
    and from ``select_links('one:one')``'s drop-ties rule.

    Priority is a TOTAL order (score DESC, then id_from ASC, id_to ASC),
    so the result is deterministic under any partitioning.

    Plan shape: two keyed windows over the pair table (one shuffle per
    endpoint role) + one filter — no iteration, no joins, no driver-side
    data. Returns the matched ``(id_from, id_to, score_col)`` edges."""
    prio = [F.desc(score_col), F.asc(id_from), F.asc(id_to)]
    wf = Window.partitionBy(id_from).orderBy(*prio)
    wt = Window.partitionBy(id_to).orderBy(*prio)
    return (
        pairs.select(id_from, id_to, score_col)
        .withColumn("_rf", F.row_number().over(wf))
        .withColumn("_rt", F.row_number().over(wt))
        .where((F.col("_rf") == 1) & (F.col("_rt") == 1))
        .select(id_from, id_to, score_col)
    )


def greedy_match(
    pairs: DataFrame,
    id_from: str = "id_from",
    id_to: str = "id_to",
    score_col: str = "predicted",
    max_iter: int = 50,
) -> DataFrame:
    """Globally-greedy one-to-one matching by locally-dominant edge
    selection — the conflict-resolution step after scoring, when
    ``select_links('one:one')``'s rank rule (R/pred.R:50-54, tied tops
    select NOTHING) is too conservative and the user wants the classic
    "repeatedly take the best remaining pair" assignment.

    Algorithm (Preis 1999 / Manne–Bisseling): each round keeps every
    edge that is the top-priority edge for BOTH its endpoints
    (priority = score DESC, then id_from ASC, id_to ASC — a TOTAL order,
    so the result is deterministic and equals the sequential greedy
    matching), then drops all edges incident to newly matched nodes.
    Rounds needed ~ O(log E) in practice; each round is four windows
    (rank and matched-endpoint flag per endpoint role) over the edges
    still in play — fully distributed, no driver-side pair data.

    Rounds run through ``cluster.iterate`` until no edge is open; edges
    still open after ``max_iter`` rounds raise rather than return a
    silently PARTIAL matching (the sequential-greedy contract).

    Returns the matched ``(id_from, id_to, score_col)`` edges."""
    cols = [id_from, id_to, score_col]
    prio = [F.desc(score_col), F.asc(id_from), F.asc(id_to)]
    by_from, by_to = Window.partitionBy(id_from), Window.partitionBy(id_to)

    def step(state: DataFrame, _: int) -> DataFrame:
        rem = state.where(~F.col("_m")).withColumn(
            "_d",
            (F.row_number().over(by_from.orderBy(*prio)) == 1)
            & (F.row_number().over(by_to.orderBy(*prio)) == 1),
        )
        # bipartite removal: the two id columns are DIFFERENT record
        # namespaces (left file / right file), so a matched left id only
        # blocks further edges on the left side, and vice versa
        hit = F.max("_d").over(by_from) | F.max("_d").over(by_to)
        return state.where(F.col("_m")).unionByName(
            rem.withColumn("_hit", hit)
            .where(F.col("_d") | ~F.col("_hit"))
            .select(*cols, F.col("_d").alias("_m"))
        )

    state = iterate(
        pairs.select(*cols, F.lit(False).alias("_m")), step, max_iter,
        changed=~F.col("_m"), name="greedy_match",
    )
    return state.where(F.col("_m")).select(*cols)


def pr_sweep(
    dat: DataFrame,
    n_thresholds: int = 20,
    label_col: str = "correct",
    score_col: str = "predicted",
) -> DataFrame:
    """Fully distributed precision-recall threshold sweep — the
    DataFrame promotion of :func:`pr_curve` (which collects the bucket
    histogram and sweeps driver-side): one row per threshold
    ``t_i = i / n_thresholds`` with exact integer confusion counts and
    quantized P/R/F1, suitable as a pipeline stage instead of a
    driver-side report.

    Threshold semantics match ``pr_curve``: scores bucket to
    ``least(floor(score·1000), 999)`` and "score > t" counts buckets
    strictly above t's bucket ``(i·1000) div n`` — the documented
    1e-3-grid quantization, all-integer on both engines.

    Exactness: TP/FP/FN are BIGINT sums of BIGINT bucket counts;
    precision = tp/(tp+fp), recall = tp/total_pos, and
    f1 = 2·tp/(2·tp+fp+fn) (the single-division identity — NOT
    2PR/(P+R), which would chain three divisions) are each ONE IEEE
    division, quantized ``floor(x·10⁶ + 0.5)/10⁶`` per the f16
    half-boundary rule (integer-ratio quotients can terminate at ≤ 7
    decimals, where ``round`` diverges between engines). Empty
    denominators report 0.0 (the :func:`confusion` convention).

    Plan shape: ONE corpus-wide hash-aggregate (≤ 1000 bucket rows,
    map-side combinable), a broadcast join against the
    ``n_thresholds``-row grid (≤ 20k intermediate rows), one tiny
    hash-aggregate on the threshold, one 1-row lazy total. The corpus
    is scanned once regardless of how many thresholds are swept."""
    if n_thresholds < 1:
        raise ValueError("n_thresholds must be >= 1")
    n = int(n_thresholds)
    b = F.least(
        F.floor(F.col(score_col) * 1000).cast("int"), F.lit(999)
    )
    y = F.col(label_col).cast("boolean")
    hist = dat.groupBy(b.alias("_b")).agg(
        F.sum(y.cast("long")).alias("_pos"),
        F.sum((~y).cast("long")).alias("_neg"),
    )
    total = F.broadcast(
        hist.agg(F.sum("_pos").cast("long").alias("_tot"))
    )
    spark = dat.sparkSession
    grid = spark.range(n).select(
        (F.col("id").cast("double") / F.lit(float(n))).alias("threshold"),
        F.expr(f"cast((id * 1000) div {n} as int)").alias("_tb"),
    )
    c = (
        hist.crossJoin(F.broadcast(grid))
        .groupBy("threshold")
        .agg(
            F.sum(
                F.when(F.col("_b") > F.col("_tb"), F.col("_pos")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("tp"),
            F.sum(
                F.when(F.col("_b") > F.col("_tb"), F.col("_neg")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("fp"),
        )
        .crossJoin(total)
    )

    def q6(x: Column) -> Column:
        return F.floor(x * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)

    tp, fp = F.col("tp"), F.col("fp")
    fn = (F.col("_tot") - tp).alias("fn")
    prec = F.when(
        tp + fp > 0, q6(tp.cast("double") / (tp + fp).cast("double"))
    ).otherwise(F.lit(0.0))
    rec = F.when(
        F.col("_tot") > 0, q6(tp.cast("double") / F.col("_tot").cast("double"))
    ).otherwise(F.lit(0.0))
    f1d = F.lit(2) * tp + fp + (F.col("_tot") - tp)
    f1 = F.when(
        f1d > 0, q6((F.lit(2) * tp).cast("double") / f1d.cast("double"))
    ).otherwise(F.lit(0.0))
    return c.select(
        "threshold",
        "tp",
        "fp",
        fn,
        prec.alias("precision"),
        rec.alias("recall"),
        f1.alias("f1"),
    )


def isotonic_calibration_table(
    dat: DataFrame,
    label_col: str = "correct",
    score_col: str = "predicted",
    n_bins: int = 1000,
) -> "list[dict]":
    """Isotonic score calibration by pool-adjacent-violators (PAV,
    Zadrozny & Elkan KDD'02) — turn a classifier's raw scores into
    calibrated match PROBABILITIES, the step between m1-style scoring
    and any pipeline that thresholds on "P(match) ≥ 0.9" or feeds
    posterior-weighted review queues. Isotonic (vs Platt) assumes only
    monotonicity, which is the right fit for rank-style linkage scores.

    Scale split (the FS-EM / BPE-trainer discipline): the ONE
    distributed stage is a score-bucket histogram — a single map-side-
    combinable hash-aggregate collapsing any corpus into ≤ ``n_bins``
    (positives, total) rows; PAV then runs driver-side over that
    bounded histogram in O(n_bins). Calibrated probabilities are exact
    block rationals pos/total quantized floor(p·10⁶ + 0.5)/10⁶ (the
    f16 rule — integer ratios CAN terminate at decimal
    half-boundaries).

    Returns the calibration table as a list of dicts
    ``{bucket_lo, bucket_hi, prob}`` (stepwise-constant blocks, POOLED
    until monotone non-decreasing, block probability = pooled
    positives / pooled total). Apply with :func:`apply_calibration`.

    Buckets follow the module convention ``least(floor(score·1000),
    999)`` when ``n_bins=1000`` — generally ``least(floor(score·n),
    n−1)`` for scores in [0, 1]."""
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    b = F.least(
        F.floor(F.col(score_col) * n_bins).cast("int"), F.lit(n_bins - 1)
    )
    y = F.col(label_col).cast("boolean")
    rows = (
        dat.groupBy(b.alias("_b"))
        .agg(
            F.sum(y.cast("long")).alias("_pos"),
            F.count("*").cast("long").alias("_n"),
        )
        .orderBy("_b")
        .collect()
    )
    if not rows:
        raise ValueError("empty input — nothing to calibrate")
    # PAV: merge adjacent blocks while a block's rate drops below its
    # predecessor's; exact integer pooling (no float averaging drift)
    blocks: list[list[int]] = []  # [lo, hi, pos, n]
    for r in rows:
        blocks.append([r["_b"], r["_b"], r["_pos"], r["_n"]])
        while (
            len(blocks) > 1
            and blocks[-2][2] * blocks[-1][3]
            >= blocks[-1][2] * blocks[-2][3]  # rate[-2] >= rate[-1]
        ):
            lo, _, p1, n1 = blocks.pop(-2)
            blocks[-1][0] = lo
            blocks[-1][2] += p1
            blocks[-1][3] += n1
    import math

    return [
        {
            "bucket_lo": lo,
            "bucket_hi": hi,
            "prob": math.floor(pos / n * 1e6 + 0.5) / 1e6,
        }
        for lo, hi, pos, n in blocks
    ]


def apply_calibration(
    dat: DataFrame,
    table: "list[dict]",
    score_col: str = "predicted",
    out_col: str = "calibrated",
    n_bins: int = 1000,
) -> DataFrame:
    """Attach calibrated probabilities from an
    :func:`isotonic_calibration_table` — the block bounds and
    probabilities become ONE literal CASE chain over the score bucket
    (blocks after PAV are few — typically 10-100 — so this stays far
    below the janino 64 KB codegen cliff that killed the cu5 CASE
    form; a 1000-arm chain would not, and would need the broadcast-
    table join instead). Scores outside every block (possible when
    applying to NEW data whose buckets were empty in training): below
    the first block and in gaps BETWEEN blocks the score takes the
    next-HIGHER block's probability (the first matching
    ``b <= bucket_hi`` arm); above the last block it takes the last
    block's probability. Monotonicity is preserved either way (round-6
    advice item: the old wording claimed nearest-block clamping, which
    the gap case does not do)."""
    if not table:
        raise ValueError("empty calibration table")
    b = F.least(
        F.floor(F.col(score_col) * n_bins).cast("int"), F.lit(n_bins - 1)
    )
    expr = F.lit(float(table[-1]["prob"]))  # above all blocks -> last
    for blk in reversed(table):
        expr = F.when(
            b <= F.lit(int(blk["bucket_hi"])), F.lit(float(blk["prob"]))
        ).otherwise(expr)
    # below the first block the first WHEN already catches (b <= hi_0)
    return dat.withColumn(out_col, expr)
