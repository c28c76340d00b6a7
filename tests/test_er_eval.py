"""ER evaluation & consolidation operators (er_eval.py): hand-computed
metric values, determinism under ties, and plan-shape assertions (no pair
enumeration, zero Python)."""

import pytest
from pyspark.sql import functions as F

from capelinker_spark.operators.er_eval import (
    blocking_metrics,
    golden_record,
    pairwise_cluster_metrics,
)


def test_blocking_metrics_hand_computed(spark):
    """4×5 universe, 6 candidates, 4 gold, 3 found: RR = 1 − 6/20 = 0.7,
    PC = 3/4, PQ = 3/6."""
    left = spark.range(4).toDF("lid")
    right = spark.range(5).toDF("rid")
    cand = spark.createDataFrame(
        [(0, 0), (0, 1), (1, 1), (2, 2), (3, 3), (3, 4)],
        "id_from long, id_to long",
    )
    gold = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 2), (1, 4)], "id_from long, id_to long"
    )
    row = blocking_metrics(cand, gold, left, right).collect()[0]
    assert (row["n_candidates"], row["n_gold"], row["n_found"]) == (6, 4, 3)
    assert row["reduction_ratio"] == pytest.approx(0.7)
    assert row["pairs_completeness"] == pytest.approx(0.75)
    assert row["pairs_quality"] == pytest.approx(0.5)


def test_pairwise_cluster_metrics_hand_computed(spark):
    """pred {a:1,2,3}{b:4,5}{c:6}, gold {x:1,2}{y:3,4,5}{z:6}:
    pairs_pred = 3+1 = 4, pairs_gold = 1+3 = 4,
    TP = C(|a∩x|,2)+C(|b∩y|,2) = 1+1 = 2 → P = R = 0.5, F1 = 0.5.
    Singletons contribute nothing."""
    assign = spark.createDataFrame(
        [
            (1, "a", "x"),
            (2, "a", "x"),
            (3, "a", "y"),
            (4, "b", "y"),
            (5, "b", "y"),
            (6, "c", "z"),
        ],
        "id long, canonical_id string, entity_id string",
    )
    row = pairwise_cluster_metrics(assign).collect()[0]
    assert (row["pairs_pred"], row["pairs_gold"], row["pairs_true"]) == (4, 4, 2)
    assert row["precision"] == pytest.approx(0.5)
    assert row["recall"] == pytest.approx(0.5)
    assert row["f1"] == pytest.approx(0.5)

    # all-singleton clusterings: zero pairs on every side, so each ratio
    # is 0/0 -> NULL (as DuckDB gives), not an ANSI divide-by-zero abort
    singletons = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")],
        "id long, canonical_id string, entity_id string",
    )
    row = pairwise_cluster_metrics(singletons).collect()[0]
    assert (row["pairs_pred"], row["pairs_gold"], row["pairs_true"]) == (0, 0, 0)
    assert (row["precision"], row["recall"], row["f1"]) == (None, None, None)

    plan = pairwise_cluster_metrics(assign)._jdf.queryExecution() \
        .executedPlan().toString()
    # combinatoric counting only: no join of the assignment table with
    # itself (the three 1-row scalars meet in broadcast loop joins)
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_golden_record_rules_and_ties(spark):
    records = spark.createDataFrame(
        [
            # cluster 1: mode of seg is "B" (2 vs 1); name tie on length 5
            # → lexicographically largest of {"alpha","aleph"} = "alpha";
            # balance min = 10
            (1, "B", "alpha", 30),
            (1, "B", "aleph", 10),
            (1, "A", "al", 20),
            # cluster 2: seg mode tie A=1, B=1 → lexicographically
            # smallest "A"; name has NULLs only → NULL; balance min = 7
            (2, "A", None, 7),
            (2, "B", None, 9),
        ],
        "canonical_id long, seg string, name string, balance long",
    )
    got = {
        r["canonical_id"]: r.asDict()
        for r in golden_record(
            records,
            {"seg": "mode", "name": "longest", "balance": "min"},
        ).collect()
    }
    assert got[1]["n_members"] == 3
    assert got[1]["seg"] == "B"
    assert got[1]["name"] == "alpha"
    assert got[1]["balance"] == 10
    assert got[2]["seg"] == "A"
    assert got[2]["name"] is None
    assert got[2]["balance"] == 7

    # mode on a NUMERIC field restores the declared dtype
    num = golden_record(records, {"balance": "mode"})
    assert dict(num.dtypes)["balance"] == "bigint"

    with pytest.raises(ValueError, match="unknown survivorship rule"):
        golden_record(records, {"seg": "plurality"})


def test_golden_record_simple_rules_single_aggregate(spark):
    """With no mode fields the whole golden record is ONE hash-aggregate
    (no join, no window), zero Python."""
    records = spark.createDataFrame(
        [(1, "x", 5), (1, "longer", 3)], "canonical_id long, name string, v long"
    )
    df = golden_record(records, {"name": "longest", "v": "max"})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Window" not in plan
    assert "EvalPython" not in plan
    row = df.collect()[0]
    assert row["name"] == "longer" and row["v"] == 5


def test_bcubed_hand_computed(spark):
    """Same clustering as the pairwise test — pred {a:1,2,3}{b:4,5}{c:6}
    vs gold {x:1,2}{y:3,4,5}{z:6}. Cells (a,x)=2 (a,y)=1 (b,y)=2 (c,z)=1:
    B3-P = (1/6)(4/3 + 1/3 + 4/2 + 1/1) = 0.777778 = B3-R = B3-F1."""
    from capelinker_spark.operators.er_eval import bcubed_metrics

    assign = spark.createDataFrame(
        [
            (1, "a", "x"),
            (2, "a", "x"),
            (3, "a", "y"),
            (4, "b", "y"),
            (5, "b", "y"),
            (6, "c", "z"),
        ],
        "id long, canonical_id string, entity_id string",
    )
    row = bcubed_metrics(assign).collect()[0]
    assert row["n_records"] == 6
    assert row["bcubed_precision"] == pytest.approx(0.777778, abs=1e-6)
    assert row["bcubed_recall"] == pytest.approx(0.777778, abs=1e-6)
    assert row["bcubed_f1"] == pytest.approx(0.777778, abs=1e-6)


def test_bcubed_perfect_and_degenerate(spark):
    from capelinker_spark.operators.er_eval import bcubed_metrics

    perfect = spark.createDataFrame(
        [(1, "a", "a"), (2, "a", "a"), (3, "b", "b")],
        "id long, canonical_id string, entity_id string",
    )
    row = bcubed_metrics(perfect).collect()[0]
    assert (row["bcubed_precision"], row["bcubed_recall"], row["bcubed_f1"]) \
        == (1.0, 1.0, 1.0)

    # everything in one predicted cluster, gold all singletons:
    # precision per record = 1/N, recall = 1
    allone = spark.createDataFrame(
        [(i, "a", f"g{i}") for i in range(4)],
        "id long, canonical_id string, entity_id string",
    )
    row = bcubed_metrics(allone).collect()[0]
    assert row["bcubed_precision"] == pytest.approx(0.25, abs=1e-6)
    assert row["bcubed_recall"] == 1.0


def test_bcubed_deterministic_and_no_pair_join(spark):
    """Integer-quantized contributions: identical to the last ulp under
    repartitioning; plan has no self-join of the assignment table."""
    from capelinker_spark.operators.er_eval import bcubed_metrics

    assign = spark.range(2000).select(
        "id",
        (F.col("id") % 37).cast("string").alias("canonical_id"),
        (F.col("id") % 41).cast("string").alias("entity_id"),
    )
    a = bcubed_metrics(assign).collect()[0]
    b = bcubed_metrics(assign.repartition(17)).collect()[0]
    assert tuple(a) == tuple(b)

    plan = bcubed_metrics(assign)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "EvalPython" not in plan


def test_cluster_graph_metrics_hand_computed(spark):
    """Clusters A{1,2,3} B{4,5} C{6}; edges (1,2)(2,3) intra-A, (4,5)
    intra-B, (1,4) cross (dropped), (8,9) dangling (dropped):
    density A = 4/6 = 0.666667, B = 1.0, C = NULL."""
    from capelinker_spark.operators.er_eval import cluster_graph_metrics

    assign = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "A"), (4, "B"), (5, "B"), (6, "C")],
        "id long, canonical_id string",
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (1, 4), (8, 9)],
        "id_from long, id_to long",
    )
    got = {
        r["canonical_id"]: (r["n_nodes"], r["n_edges"], r["density"])
        for r in cluster_graph_metrics(edges, assign).collect()
    }
    assert got["A"] == (3, 2, 0.666667)
    assert got["B"] == (2, 1, 1.0)
    assert got["C"] == (1, 0, None)


def test_cluster_graph_metrics_no_python_no_single_partition(spark):
    from capelinker_spark.operators.er_eval import cluster_graph_metrics

    assign = spark.range(100).select(
        "id", (F.col("id") % 7).cast("string").alias("canonical_id")
    )
    edges = spark.range(200).select(
        (F.col("id") % 90).alias("id_from"),
        ((F.col("id") * 3) % 90 + 1).alias("id_to"),
    )
    plan = cluster_graph_metrics(edges, assign)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "EvalPython" not in plan
    assert "Exchange SinglePartition" not in plan


def test_adjusted_rand_index_hand_computed(spark):
    """pred {a:1,2,3}{b:4,5}{c:6} vs gold {x:1,2}{y:3,4,5}{z:6}:
    index=2, ea=eb=4, p=15 → ARI = 2·(2·15−16)/(8·15−32) = 28/88
    = 0.318182 (6dp)."""
    from capelinker_spark.operators.er_eval import adjusted_rand_index

    assign = spark.createDataFrame(
        [
            (1, "a", "x"),
            (2, "a", "x"),
            (3, "a", "y"),
            (4, "b", "y"),
            (5, "b", "y"),
            (6, "c", "z"),
        ],
        "id long, canonical_id string, entity_id string",
    )
    row = adjusted_rand_index(assign).collect()[0]
    assert (row["n_records"], row["pairs_index"]) == (6, 2)
    assert (row["pairs_pred"], row["pairs_gold"]) == (4, 4)
    assert row["ari"] == pytest.approx(round(28 / 88, 6))


def test_adjusted_rand_index_perfect_and_degenerate(spark):
    """Identical clusterings → ARI 1.0; all-singletons on both sides →
    denominator 0 → NULL (not the conventional 1)."""
    from capelinker_spark.operators.er_eval import adjusted_rand_index

    same = spark.createDataFrame(
        [(1, "a", "a"), (2, "a", "a"), (3, "b", "b")],
        "id long, canonical_id string, entity_id string",
    )
    assert adjusted_rand_index(same).collect()[0]["ari"] == 1.0

    singles = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")],
        "id long, canonical_id string, entity_id string",
    )
    assert adjusted_rand_index(singles).collect()[0]["ari"] is None


def test_cluster_diff_statuses(spark):
    """old {A:1,2,3}{B:4,5}{C:6} → new {X:1,2}{Y:3}{Z:4,5,6}: X and Y
    are splits of A, Z merges B+C; a new-side-only record (7) is
    excluded by the shared-record inner join; a cluster identical over
    the shared set is stable."""
    from capelinker_spark.operators.er_eval import cluster_diff

    old = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "A"), (4, "B"), (5, "B"), (6, "C"),
         (8, "D"), (9, "D")],
        "id long, canonical_id string",
    )
    new = spark.createDataFrame(
        [(1, "X"), (2, "X"), (3, "Y"), (4, "Z"), (5, "Z"), (6, "Z"),
         (7, "W"), (8, "D2"), (9, "D2")],
        "id long, canonical_id string",
    )
    rows = {
        r["canonical_id"]: (
            r["n_members"], r["n_source_clusters"], r["status"]
        )
        for r in cluster_diff(old, new).collect()
    }
    assert rows == {
        "X": (2, 1, "split"),
        "Y": (1, 1, "split"),
        "Z": (3, 2, "merged"),
        "D2": (2, 1, "stable"),
    }


def _ref_nmi(pairs):
    """CPython reference: sqrt-normalized NMI from scratch (Strehl &
    Ghosh 2002), full-precision — the operator's 6-decimal quantized
    sums must land within 2e-6 of this."""
    import math
    from collections import Counter

    n = len(pairs)
    cu = Counter(p for p, _ in pairs)
    cv = Counter(g for _, g in pairs)
    cc = Counter(pairs)
    mi = sum(
        (c / n) * math.log(n * c / (cu[p] * cv[g]))
        for (p, g), c in cc.items()
    )
    hu = -sum((c / n) * math.log(c / n) for c in cu.values())
    hv = -sum((c / n) * math.log(c / n) for c in cv.values())
    return mi, hu, hv, mi / math.sqrt(hu * hv)


def test_nmi_vs_cpython_reference(spark):
    from capelinker_spark.operators.er_eval import nmi_metrics

    pairs = [(i % 7, i % 5) for i in range(200)] + [
        (i % 3 + 10, i % 4 + 10) for i in range(61)
    ]
    assign = spark.createDataFrame(
        [(i, p, g) for i, (p, g) in enumerate(pairs)],
        "id long, canonical_id long, entity_id long",
    )
    row = nmi_metrics(assign).collect()[0]
    mi, hu, hv, nmi = _ref_nmi(pairs)
    assert row["n_records"] == 261
    assert row["mi"] == pytest.approx(mi, abs=2e-6)
    assert row["entropy_pred"] == pytest.approx(hu, abs=2e-6)
    assert row["entropy_gold"] == pytest.approx(hv, abs=2e-6)
    assert row["nmi"] == pytest.approx(nmi, abs=2e-6)


def test_nmi_perfect_and_degenerate(spark):
    from capelinker_spark.operators.er_eval import nmi_metrics

    perfect = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "x"), (3, "b", "y")],
        "id long, canonical_id string, entity_id string",
    )
    assert nmi_metrics(perfect).collect()[0]["nmi"] == 1.0

    # one predicted cluster: zero predicted entropy -> NMI undefined
    allone = spark.createDataFrame(
        [(i, "a", f"g{i}") for i in range(4)],
        "id long, canonical_id string, entity_id string",
    )
    row = nmi_metrics(allone).collect()[0]
    assert row["entropy_pred"] == 0.0
    assert row["nmi"] is None


def test_nmi_deterministic_under_repartitioning(spark):
    """The decimal-quantized log sums make the metric bit-stable across
    partitionings; plan never self-joins the assignment table."""
    from capelinker_spark.operators.er_eval import nmi_metrics

    assign = spark.createDataFrame(
        [(i, i % 13, (i * 7) % 11) for i in range(500)],
        "id long, canonical_id long, entity_id long",
    )
    r1 = nmi_metrics(assign).collect()[0]
    r2 = nmi_metrics(assign.repartition(17, "id")).collect()[0]
    assert r1 == r2
    plan = (
        nmi_metrics(assign)._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan


def test_bcubed_large_cell_no_long_overflow(spark):
    """A 10^7-record cell at scale=12 overflowed the LONG quotient of
    the direct (n^2*10^12) div np form (review r6); the split-identity
    form must return exactly 1.0 for a perfect giant clustering."""
    from capelinker_spark.operators.er_eval import bcubed_metrics

    big = spark.range(10_000_000).select(
        F.lit("a").alias("canonical_id"), F.lit("x").alias("entity_id")
    )
    row = bcubed_metrics(big).collect()[0]
    assert row["n_records"] == 10_000_000
    assert row["bcubed_precision"] == 1.0
    assert row["bcubed_recall"] == 1.0
    assert row["bcubed_f1"] == 1.0


def test_edge_triangle_support_brute_force(spark):
    """Exact per-edge common-neighbour counts vs an itertools reference
    on a graph with a clique, a chain (bridges), a hub, and noisy
    duplicate/reversed/self-loop input rows."""
    import itertools

    from capelinker_spark.operators.er_eval import edge_triangle_support

    und = (
        list(itertools.combinations([1, 2, 3, 4], 2))  # K4
        + [(4, 5), (5, 6), (6, 7)]                     # chain: bridges
        + [(10, i) for i in range(11, 16)]             # star hub
        + [(11, 12), (13, 14)]                         # two hub triangles
    )
    rows = und + [(b, a) for a, b in und[:5]] + [(3, 3), (1, 2)]
    df = spark.createDataFrame(rows, "id_from long, id_to long")

    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {
        (a, b): len(adj[a] & adj[b]) for a, b in und
    }
    got = {
        (r["id_from"], r["id_to"]): r["support"]
        for r in edge_triangle_support(df).collect()
    }
    assert got == want
    assert got[(4, 5)] == 0 and got[(5, 6)] == 0        # bridges
    assert got[(1, 2)] == 2                              # K4 edge
    assert got[(11, 12)] == 1 and got[(10, 11)] == 1     # hub triangle
    plan = (
        edge_triangle_support(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "EvalPython" not in plan


def test_node_clustering_coefficient(spark):
    """K4 corners have coefficient 1.0; a chain node 0; the star hub's
    coefficient counts only closed neighbour pairs; degree-1 nodes are
    NULL."""
    import itertools

    from capelinker_spark.operators.er_eval import (
        node_clustering_coefficient,
    )

    und = (
        list(itertools.combinations([1, 2, 3, 4], 2))  # K4
        + [(4, 5), (5, 6)]                             # tail
        + [(10, 11), (10, 12), (10, 13), (11, 12)]     # star + 1 closure
    )
    df = spark.createDataFrame(und, "id_from long, id_to long")
    got = {
        r["node"]: (r["degree"], r["triangles"], r["coefficient"])
        for r in node_clustering_coefficient(df).collect()
    }
    assert got[1] == (3, 3, 1.0)
    assert got[4] == (4, 3, 0.5)       # 3 of C(4,2)=6 pairs closed
    assert got[5] == (2, 0, 0.0)
    assert got[6] == (2 - 1, 0, None)  # degree 1 -> NULL
    assert got[10] == (3, 1, 0.333333)
    assert got[13] == (1, 0, None)


def test_ktruss_peel_and_cascade(spark):
    import itertools

    from capelinker_spark.operators.er_eval import ktruss

    k4 = list(itertools.combinations([1, 2, 3, 4], 2))
    pendant = [(4, 7), (4, 8), (7, 8)]        # triangle hanging off K4
    chain = [(8, 9), (9, 10)]
    df = spark.createDataFrame(
        k4 + pendant + chain, "id_from long, id_to long"
    )
    # 4-truss: only K4 survives (pendant-triangle edges have support 1,
    # dropping them cannot demote K4); final supports are in-truss
    got = {
        (r["id_from"], r["id_to"]): r["support"]
        for r in ktruss(df, 4).collect()
    }
    assert set(got) == set(k4) and set(got.values()) == {2}
    # 3-truss keeps both triangles, drops the chain
    t3 = {(r["id_from"], r["id_to"]) for r in ktruss(df, 3).collect()}
    assert t3 == set(k4) | set(pendant)
    # k=2: trivially everything, with supports attached
    assert ktruss(df, 2).count() == len(k4 + pendant + chain)

    # cascade: a chain of triangles has no 4-truss — peeling must
    # propagate wave by wave to empty, not stop after one pass
    tri_chain = [(i, i + 1) for i in range(6)] + [(i, i + 2) for i in range(5)]
    tc = spark.createDataFrame(tri_chain, "id_from long, id_to long")
    assert ktruss(tc, 4).count() == 0
    # it takes two waves (wave 1 leaves edges below support 2, wave 2
    # none): a cap of exactly 2 gives the same truss, a cap of 1 raises
    assert ktruss(tc, 4, max_iter=2).count() == 0
    with pytest.raises(RuntimeError, match="ktruss did not converge in 1 rounds"):
        ktruss(tc, 4, max_iter=1)
    with pytest.raises(ValueError):
        ktruss(df, 1)


def test_link_prediction_scores_brute_force(spark):
    """Distance-2 pairs (non-edges only) with exact common-neighbour
    counts and integer-quantized Adamic-Adar vs an itertools reference;
    the center cap drops hub-centered wedges consistently."""
    import itertools
    import math

    from capelinker_spark.operators.er_eval import link_prediction_scores

    und = (
        list(itertools.combinations([1, 2, 3, 4], 2))  # K4
        + [(4, 5), (5, 6)]                             # tail
        + [(10, i) for i in range(11, 16)]             # star hub deg 5
        + [(11, 12)]                                   # one closure
    )
    rows = und + [(b, a) for a, b in und[:4]] + [(2, 2)]  # noise
    df = spark.createDataFrame(rows, "id_from long, id_to long")

    adj: dict = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def weight(w):
        q = int(math.floor(math.log(len(adj[w])) * 1e6 + 0.5))
        return 10**12 // q

    eset = {tuple(sorted(p)) for p in und}
    want = {}
    for a, b in itertools.combinations(sorted(adj), 2):
        if (a, b) in eset:
            continue
        common = adj[a] & adj[b]
        if common:
            want[(a, b)] = (
                len(common),
                sum(weight(w) for w in common),
            )
    out = link_prediction_scores(df).collect()
    got = {
        (r["id_from"], r["id_to"]): (r["common_neighbors"], r["aa_micro"])
        for r in out
    }
    assert got == want
    # K4: (1,2) is an edge -> absent even though they share {3,4}
    assert (1, 2) not in got
    # tail: 4 and 6 share center 5 (deg 2) -> weight 1e12 // round6(ln 2)
    assert got[(4, 6)] == (1, 10**12 // 693147)
    # star leaves share only the hub (deg 5)
    assert got[(13, 14)] == (1, 10**12 // 1609438)
    # 11 and 13 share hub 10 AND nothing else (12 adj 11 but not 13)
    assert got[(11, 13)][0] == 1
    # aa_score is the single de-scaling division
    s = {
        (r["id_from"], r["id_to"]): r["aa_score"] for r in out
    }
    # literature scale: one shared deg-2 neighbor -> ~1/ln 2 = 1.4427
    assert s[(4, 6)] == (10**12 // 693147) / 1e6

    # cap: hub (deg 5) excluded -> star-leaf pairs vanish, tail pair stays
    capped = {
        (r["id_from"], r["id_to"]): r["common_neighbors"]
        for r in link_prediction_scores(df, max_center_degree=4).collect()
    }
    assert (13, 14) not in capped and (4, 6) in capped

    plan = (
        link_prediction_scores(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "EvalPython" not in plan
