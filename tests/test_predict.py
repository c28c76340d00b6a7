"""Dual-rank selection semantics (R/pred.R:47-54) incl. R's average-rank ties."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from capelinker_spark.ml.logistic import train_logistic
from capelinker_spark.operators.predict import (
    confusion,
    group_split,
    predict_links,
    rank_links,
    select_links,
)


def test_rank_and_select_many_one(spark):
    df = spark.createDataFrame(
        [
            (1, 10, 0.9), (1, 11, 0.4),      # from 1: top is 10
            (2, 10, 0.95),                   # from 2: top is 10 (beats from 1 on to-side)
            (3, 12, 0.3),                    # below threshold
        ],
        "pf long, pt long, predicted double",
    )
    ranked = rank_links(df, "pf", "pt")
    many = select_links(ranked, 0.5, "many:one")
    got = {(r["pf"], r["pt"]) for r in many.collect()}
    assert got == {(1, 10), (2, 10)}
    one = select_links(ranked, 0.5, "one:one")
    got = {(r["pf"], r["pt"]) for r in one.collect()}
    assert got == {(2, 10)}  # rank_to==1 required → from 1 loses to-contest


def test_tied_top_scores_select_nothing(spark):
    # R's rank(-p) gives 1.5/1.5 on a tie → rank_from==1 never true
    df = spark.createDataFrame(
        [(1, 10, 0.9), (1, 11, 0.9)], "pf long, pt long, predicted double"
    )
    ranked = rank_links(df, "pf", "pt")
    rows = ranked.collect()
    assert all(r["rank_from"] == 1.5 for r in rows)
    assert select_links(ranked, 0.5, "many:one").count() == 0


def test_group_split_consistency(spark):
    df = spark.createDataFrame([(i % 20, i) for i in range(200)], "g int, row int")
    train, test = group_split(df, "g", 0.7, seed=1)
    tg = {r["g"] for r in train.select("g").distinct().collect()}
    sg = {r["g"] for r in test.select("g").distinct().collect()}
    assert tg.isdisjoint(sg)
    assert len(tg) + len(sg) == 20
    # deterministic under repartition
    train2, _ = group_split(df.repartition(7), "g", 0.7, seed=1)
    assert {r["g"] for r in train2.select("g").distinct().collect()} == tg


def test_confusion_and_logistic(spark):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(0)
    n = 400
    y = rng.random(n) < 0.3
    x1 = np.where(y, rng.normal(0.05, 0.03, n), rng.normal(0.5, 0.15, n))
    x2 = np.where(y, rng.normal(0.1, 0.05, n), rng.normal(0.6, 0.2, n))
    x1[rng.random(n) < 0.05] = np.nan  # missing features
    pdf = pd.DataFrame({"d1": x1, "d2": x2, "correct": y})
    model = train_logistic(pdf, ["d1", "d2"])
    # native-expression scoring ≡ driver-side prediction
    sdf = spark.createDataFrame(pdf)
    scored = model.transform(sdf)
    got = np.array([r["predicted"] for r in scored.select("predicted").collect()])
    exp = model.predict_pdf(pdf)
    assert np.allclose(np.sort(got), np.sort(exp), atol=1e-9)
    m = confusion(scored.withColumn("correct", F.col("correct").cast("boolean")))
    assert m["f1"] > 0.95


def test_predict_links_with_expr_scorer(spark):
    df = spark.createDataFrame(
        [(1, 10, 0.1), (1, 11, 0.9), (2, 11, 0.2)],
        "pf long, pt long, s double",
    )
    out = predict_links(df, "pf", "pt", scorer=F.col("s"), minimum_confidence=0.5)
    assert {(r["pf"], r["pt"]) for r in out.collect()} == {(1, 11)}


def test_greedy_match_equals_sequential_greedy(spark):
    """Locally-dominant rounds reproduce the SEQUENTIAL greedy matching
    exactly (total priority order: score desc, id_from asc, id_to asc),
    on a deterministic 120-edge bipartite graph with score ties and
    overlapping id values across the two sides."""
    from capelinker_spark.operators.predict import greedy_match

    edges = [
        (f, t, float((f * 7 + t * 13) % 10))
        for f in range(15)
        for t in range(12)
        if (f * 31 + t * 17) % 3 == 0
    ]

    used_f, used_t, want = set(), set(), set()
    for f, t, s in sorted(edges, key=lambda e: (-e[2], e[0], e[1])):
        if f not in used_f and t not in used_t:
            used_f.add(f)
            used_t.add(t)
            want.add((f, t, s))

    df = spark.createDataFrame(
        edges, "id_from long, id_to long, predicted double"
    )
    got = {
        (r["id_from"], r["id_to"], r["predicted"])
        for r in greedy_match(df).collect()
    }
    assert got == want
    # maximal: every unmatched edge conflicts with a matched one
    for f, t, _ in edges:
        assert f in used_f or t in used_t


def test_greedy_match_empty_and_conflict(spark):
    from capelinker_spark.operators.predict import greedy_match

    empty = spark.createDataFrame(
        [], "id_from long, id_to long, predicted double"
    )
    assert greedy_match(empty).count() == 0

    # classic chain conflict: (1,1,.9) beats (1,2,.8); then (2,2,.7)
    chain = spark.createDataFrame(
        [(1, 1, 0.9), (1, 2, 0.8), (2, 2, 0.7)],
        "id_from long, id_to long, predicted double",
    )
    got = {(r["id_from"], r["id_to"]) for r in greedy_match(chain).collect()}
    assert got == {(1, 1), (2, 2)}


def test_greedy_match_raises_on_iteration_exhaustion(spark):
    """max_iter exhausted with edges remaining must RAISE through the
    shared iterate() cap guard, not return a silently partial matching."""
    import pytest

    from capelinker_spark.operators.predict import greedy_match

    # needs two passes: (1,1,.9) wins round 1, (2,2,.7) only in round 2
    chain = spark.createDataFrame(
        [(1, 1, 0.9), (2, 1, 0.8), (2, 2, 0.7)],
        "id_from long, id_to long, predicted double",
    )
    with pytest.raises(
        RuntimeError, match="greedy_match did not converge in 1 rounds"
    ):
        greedy_match(chain, max_iter=1).collect()
    # a cap of exactly the two rounds needed drains the pool like a
    # generous one
    for cap in (2, 50):
        got = {
            (r["id_from"], r["id_to"])
            for r in greedy_match(chain, max_iter=cap).collect()
        }
        assert got == {(1, 1), (2, 2)}


def test_mutual_best_match_hand_computed(spark):
    """(1,a,.9) is reciprocal-best and kept; 2's best is a but a prefers
    1, so 2 stays unmatched (no cascade to weaker edges — the contrast
    with greedy_match, which would then give 2 its next candidate)."""
    from capelinker_spark.operators.predict import mutual_best_match

    pairs = spark.createDataFrame(
        [(1, "a", 0.9), (1, "b", 0.8), (2, "a", 0.85), (2, "b", 0.7)],
        "id_from long, id_to string, predicted double",
    )
    got = [tuple(r) for r in mutual_best_match(pairs).collect()]
    assert got == [(1, "a", 0.9)]

    from capelinker_spark.operators.predict import greedy_match

    greedy = {
        (r["id_from"], r["id_to"])
        for r in greedy_match(pairs).collect()
    }
    assert greedy == {(1, "a"), (2, "b")}


def test_mutual_best_match_tie_determinism(spark):
    """Equal scores resolve by (id_from, id_to) ascending — a total
    order, so the result is stable under repartitioning."""
    from capelinker_spark.operators.predict import mutual_best_match

    pairs = spark.createDataFrame(
        [(1, "a", 0.9), (2, "a", 0.9), (2, "b", 0.9)],
        "id_from long, id_to string, predicted double",
    )
    # 2's own best at equal scores is (2,a) (id_to asc), which loses a
    # to 1 — so (2,b), though reciprocal-feasible, is not 2's rank-1
    # and 2 stays unmatched: only (1,a) survives.
    expect = {(1, "a", 0.9)}
    got = {tuple(r) for r in mutual_best_match(pairs).collect()}
    assert got == expect
    got_rp = {
        tuple(r)
        for r in mutual_best_match(pairs.repartition(7, "id_to")).collect()
    }
    assert got_rp == expect


def test_pr_sweep_matches_pr_curve(spark):
    """Distributed pr_sweep equals the driver-side pr_curve on the
    same 1e-3 bucket grid; confusion integers are exact; empty
    denominators report 0.0; validation rejects n<1."""
    import pytest

    from capelinker_spark.operators.predict import pr_curve, pr_sweep

    rows = [
        (k, ((k * 7) % 700 + (300 if k % 3 == 0 else 0)) / 1000.0,
         k % 3 == 0)
        for k in range(400)
    ]
    df = spark.createDataFrame(
        rows, "k long, predicted double, correct boolean"
    )
    n = 20
    got = {
        r["threshold"]: (r["tp"], r["fp"], r["fn"],
                         r["precision"], r["recall"], r["f1"])
        for r in pr_sweep(df, n).collect()
    }
    want = pr_curve(df, thresholds=[i / n for i in range(n)])
    assert len(got) == n
    for w in want:
        g = got[w["threshold"]]
        # integer cells define the floats; compare on the quantized grid
        import math

        def q6(x):
            return math.floor(x * 1e6 + 0.5) / 1e6

        assert g[3] == q6(w["precision"]) and g[4] == q6(w["recall"])
        assert g[5] == q6(
            2 * g[0] / (2 * g[0] + g[1] + g[2]) if (g[0] or g[1] or g[2])
            else 0.0
        )
    # threshold 0.95: only scores > 0.95 counted (all positives there)
    assert got[0.95][1] == 0 or got[0.95][3] > 0.9
    with pytest.raises(ValueError):
        pr_sweep(df, 0)
    plan = pr_sweep(df, n)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_isotonic_calibration_pav(spark):
    """PAV pools the violating middle buckets (0, .75, .25, 1 ->
    0, .5, .5, 1), probabilities are monotone, the weighted mean
    equals the global positive rate, and apply_calibration clamps
    unseen buckets to the nearest block."""
    import pytest

    from capelinker_spark.operators.predict import (
        apply_calibration,
        isotonic_calibration_table,
    )

    rows = []
    for b, pos in [(0, 0), (1, 3), (2, 1), (3, 4)]:
        for i in range(4):
            rows.append((b / 10 + 0.05, i < pos))
    df = spark.createDataFrame(rows, "predicted double, correct boolean")
    table = isotonic_calibration_table(df, n_bins=10)
    assert [
        (t["bucket_lo"], t["bucket_hi"], t["prob"]) for t in table
    ] == [(0, 0, 0.0), (1, 2, 0.5), (3, 3, 1.0)]
    probs = [t["prob"] for t in table]
    assert probs == sorted(probs)                      # isotonic
    # weighted mean preserved: (0*4 + .5*8 + 1*4)/16 = 8/16
    assert sum(
        p * w for p, w in zip(probs, [4, 8, 4])
    ) / 16 == pytest.approx(8 / 16)

    applied = apply_calibration(
        spark.createDataFrame(
            [(0.05,), (0.15,), (0.25,), (0.35,), (0.95,)], "predicted double"
        ),
        table,
        n_bins=10,
    ).collect()
    got = {round(r["predicted"], 2): r["calibrated"] for r in applied}
    assert got == {0.05: 0.0, 0.15: 0.5, 0.25: 0.5, 0.35: 1.0,
                   0.95: 1.0}  # 0.95: unseen bucket clamps to last block

    with pytest.raises(ValueError):
        isotonic_calibration_table(df.limit(0))
    with pytest.raises(ValueError):
        apply_calibration(df, [])
