"""expand_index truth table (R/util.R:8-12) + connected-components properties."""

from __future__ import annotations

from pyspark.sql import functions as F

from capelinker_spark.operators.cluster import (
    cluster_links,
    connected_components,
    expand_index,
)


def test_expand_index_truth_table(spark):
    index = [1, 1, 1, 2, 2, None, 2, None, None, None, 4, 4, None]
    cand = [5, 5, None, 6, 6, 6, 6, 7, 7, None, 8, 8, 8]
    df = spark.createDataFrame(
        [(i, ix, c) for i, (ix, c) in enumerate(zip(index, cand))],
        "row int, index int, index_candidate int",
    )
    out = expand_index(df).orderBy("row").collect()
    got = [r["index"] for r in out]
    # group 5: fully indexed → no-op; group 6: bridge → fill 2;
    # group 7: all-NA → adopt 7; group 8: bridge → fill 4; NULL cand untouched
    assert got == [1, 1, 1, 2, 2, 2, 2, 7, 7, None, 4, 4, 4]


def test_expand_index_no_bridge_on_conflict(spark):
    # two distinct existing indexes + NA in one candidate group → NA stays
    df = spark.createDataFrame(
        [(1, 9), (2, 9), (None, 9)], "index int, index_candidate int"
    )
    got = sorted(
        [r["index"] for r in expand_index(df).collect()], key=lambda x: (x is None, x)
    )
    assert got == [1, 2, None]


def test_connected_components_chain(spark):
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (10, 11), (20, 20)], "src long, dst long"
    )
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == comp[4] == 1  # min-id
    assert comp[10] == comp[11] == 10
    assert comp[20] == 20


def test_connected_components_deterministic_under_repartition(spark):
    import random

    rnd = random.Random(7)
    edges = [(rnd.randint(0, 200), rnd.randint(0, 200)) for _ in range(300)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = {r["node"]: r["component"] for r in connected_components(df).collect()}
    b = {
        r["node"]: r["component"]
        for r in connected_components(df.repartition(13)).collect()
    }
    assert a == b


def test_cluster_links(spark):
    links = spark.createDataFrame(
        [(1, 101, 0.9), (2, 101, 0.8)], "persid_from long, persid_to long, predicted double"
    )
    records = spark.createDataFrame(
        [(1,), (2,), (101,), (555,)], "persid long"
    )
    out = {r["persid"]: r for r in cluster_links(links, records).collect()}
    assert out[1]["entity_id"] == out[2]["entity_id"] == out[101]["entity_id"] == 1
    assert out[555]["entity_id"] == 555 and out[555]["confidence"] is None
    assert out[101]["confidence"] == 0.9


def test_connected_components_long_chain_pointer_jumping(spark):
    """A 300-hop chain converges well inside the 50-iteration cap — evidence
    the pointer-jump step gives O(log diameter) rounds (ADVICE round 1)."""
    from capelinker_spark.operators.cluster import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "src long, dst long"
    )
    comp = connected_components(edges, max_iterations=15)
    got = {r["node"]: r["component"] for r in comp.collect()}
    assert set(got.values()) == {0} and len(got) == 301


def test_connected_components_raises_on_cap(spark):
    """Hitting the iteration cap with labels still moving must raise, not
    silently return split entities (ADVICE round 1)."""
    import pytest

    from capelinker_spark.operators.cluster import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(80)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        connected_components(edges, max_iterations=2)

    # a 5-node path needs 4 rounds (3 that move labels, 1 that moves none):
    # a cap of exactly 4 returns the generous cap's labels, 3 raises
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "src long, dst long"
    )
    want = sorted(connected_components(path, max_iterations=50).collect())
    assert sorted(connected_components(path, max_iterations=4).collect()) == want
    with pytest.raises(
        RuntimeError, match="connected_components did not converge in 3 rounds"
    ):
        connected_components(path, max_iterations=3)


def test_iterative_operators_run_no_probe_action(spark, monkeypatch):
    """Fixpoint loops read convergence off each round's checkpoint (an
    Observation), so building CC, greedy_match and ktruss runs no count,
    isEmpty or collect; the results are then collected outside."""
    from capelinker_spark.operators.cluster import connected_components
    from capelinker_spark.operators.er_eval import ktruss
    from capelinker_spark.operators.predict import greedy_match

    tri_chain = [(i, i + 1) for i in range(6)] + [(i, i + 2) for i in range(5)]
    edges = spark.createDataFrame(tri_chain, "src long, dst long")
    und = edges.toDF("id_from", "id_to")
    pairs = spark.createDataFrame(
        [(1, 10, 0.9), (1, 11, 0.8), (2, 11, 0.7), (2, 12, 0.6), (3, 12, 0.5)],
        "id_from long, id_to long, predicted double",
    )

    def probe(*a, **kw):
        raise AssertionError("probe action while building an iterative result")

    with monkeypatch.context() as m:
        for name in ("count", "isEmpty", "collect"):
            m.setattr(type(edges), name, probe)
        cc = connected_components(edges)
        gm = greedy_match(pairs)
        t4 = ktruss(und, 4)
    assert {(r["node"], r["component"]) for r in cc.collect()} == {
        (n, 0) for n in range(7)
    }
    # three rounds: (1,10), then (2,11), then (3,12)
    assert {(r["id_from"], r["id_to"]) for r in gm.collect()} == {
        (1, 10), (2, 11), (3, 12)
    }
    assert t4.collect() == []  # a chain of triangles has no 4-truss


def test_expand_index_null_candidates_untouched_and_split(spark):
    """NULL-candidate rows pass through unchanged (and are processed outside
    the window partition — the skew fix)."""
    from capelinker_spark.operators.cluster import expand_index

    df = spark.createDataFrame(
        [(1, None, 10), (2, None, None), (3, "c1", None), (4, "c1", 7)],
        "rid int, index_candidate string, index int",
    )
    got = {r["rid"]: r["index"] for r in expand_index(df).collect()}
    assert got[1] == 10 and got[2] is None  # NULL candidate: untouched
    assert got[3] == 7 and got[4] == 7  # one existing index: NAs filled


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """Cluster-mode lineage truncation: with reliable_checkpoint=True each
    round checkpoints to the configured checkpoint dir (survives executor
    loss, unlike localCheckpoint) and the labels match the default path."""
    from pyspark.sql import functions as F

    from capelinker_spark.operators.cluster import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (21, 22)],
        "src long, dst long",
    )
    want = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    got = {
        (r["node"], r["component"])
        for r in connected_components(edges, reliable_checkpoint=True).collect()
    }
    assert got == want
    import os

    assert any(os.scandir(tmp_path / "ckpt"))  # checkpoints actually landed


def test_connected_components_giant_component_stress(spark):
    """Round-2 verdict item 8: a ≥10^5-node chain/star mix must converge in
    ≤ ~2·log₂(diameter) rounds (the pointer-jump doubling argument, now
    demonstrated at scale, not just on 300 hops) with exact min-id labels.
    The chain (diameter 10^5) is the worst case for plain propagation —
    O(diameter) rounds; pointer jumping closes it in ~log₂ rounds.
    max_iterations is set AT the 2·log₂(10^5)+slack bound, so exceeding the
    bound raises instead of passing slowly."""
    import math

    from capelinker_spark.operators.cluster import connected_components

    n_chain = 100_000
    chain = spark.range(n_chain - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    hub = 200_000
    star = spark.range(1_000).select(
        F.lit(hub).cast("long").alias("src"),
        (F.col("id") + hub + 1).alias("dst"),
    )
    edges = chain.unionByName(star)
    bound = 2 * math.ceil(math.log2(n_chain)) + 3  # jump_after warmup + slack
    comp = connected_components(edges, max_iterations=bound)
    bad = comp.where(
        (
            (F.col("node") < n_chain) & (F.col("component") != 0)
        )
        | ((F.col("node") >= hub) & (F.col("component") != hub))
    ).count()
    assert bad == 0
    assert comp.count() == n_chain + 1_001


def test_checkpoint_truncated_resets_cost_stats(spark):
    """Round-5 scale find: Dataset.localCheckpoint carries the child plan's
    computed sizeInBytes into the LogicalRDD leaf, and iterative operators
    then MULTIPLY those at every join — chained label folds grew the stat
    to 1,662 digits after ONE fold and hung the driver inside
    BigInteger.multiply by the third. checkpoint_truncated must pin the
    leaf back to the small default estimate while reusing the checkpointed
    data (no recompute).

    Each wave folds one CC result into the running label table through a
    join, checkpointed between waves: with the bare localCheckpoint the
    digit count grows every wave (38, 57, 76), with checkpoint_truncated
    it stays flat (19)."""
    from capelinker_spark.operators.cluster import checkpoint_truncated

    def digits(df):
        return len(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )

    labels = spark.createDataFrame([], "node long, component long")
    for w in range(3):
        e = spark.createDataFrame(
            [(w * 10 + i, w * 10 + i + 1) for i in range(5)],
            "src long, dst long",
        )
        comp = connected_components(e)
        labels = checkpoint_truncated(
            labels.unionByName(comp)
            .join(
                comp.select(F.col("node").alias("n2")),
                F.col("node") == F.col("n2"),
                "left",
            )
            .drop("n2")
        )
        assert digits(labels) < 25, (
            f"stats grew to {digits(labels)} digits after fold {w} — "
            "originStats carried through the checkpoint again"
        )
    # and the data survived the stats reset
    assert labels.count() == 18


# -- pagerank -----------------------------------------------------------------


def _ref_pagerank(edges, k, scale=10**12):
    """Independent integer reference of the pagerank recurrence."""
    E = sorted(set(edges))
    nodes = sorted({a for a, _ in E} | {b for _, b in E})
    outd: dict = {}
    for a, _ in E:
        outd[a] = outd.get(a, 0) + 1
    r = {n: scale for n in nodes}
    jump = (scale * 3) // 20
    for _ in range(k):
        m = {n: 0 for n in nodes}
        for a, b in E:
            m[b] += r[a] // outd[a]
        r = {
            n: jump + (m[n] // 20) * 17 + ((m[n] % 20) * 17) // 20
            for n in nodes
        }
    return r


def test_pagerank_matches_integer_reference(spark):
    from capelinker_spark.operators.cluster import pagerank

    # dup edge, self-loop, dangling sink (3 has high in-degree), cycle
    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (5, 5), (6, 1), (1, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {
        r["node"]: (r["rank_scaled"], r["rank"])
        for r in pagerank(df, iterations=3).collect()
    }
    ref = _ref_pagerank(edges, 3)
    assert out == {n: (v, v / 1e12) for n, v in ref.items()}
    # rank mass only leaks through damping + dangling, never grows
    assert sum(v for v, _ in out.values()) <= len(ref) * 10**12


def test_pagerank_deterministic_under_repartition(spark):
    from capelinker_spark.operators.cluster import pagerank

    edges = [(i, (i * 7) % 23) for i in range(200)] + [
        (i, (i * 3) % 23) for i in range(0, 200, 2)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(
        pagerank(df.repartition(13), iterations=4).collect(),
        key=lambda r: r["node"],
    )
    b = sorted(
        pagerank(df.repartition(2), iterations=4).collect(),
        key=lambda r: r["node"],
    )
    # bit-identical across partitionings: LONG integer accumulation
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_pagerank_zero_iterations_and_validation(spark):
    import pytest as _pytest

    from capelinker_spark.operators.cluster import pagerank

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    out = {r["node"]: r["rank_scaled"] for r in pagerank(df, iterations=0).collect()}
    assert out == {1: 10**12, 2: 10**12}
    with _pytest.raises(ValueError):
        pagerank(df, iterations=-1)
    with _pytest.raises(ValueError):
        pagerank(df, damping_num=21, damping_den=20)


def _ref_hits(edges, k, scale=10**6):
    """Independent integer reference of the hits recurrence."""
    E = sorted(set(edges))
    nodes = sorted({a for a, _ in E} | {b for _, b in E})

    def norm(raw):
        mx = max(raw.values()) if raw else 0
        if mx == 0:
            return {n: 0 for n in nodes}
        return {
            n: (raw.get(n, 0) // mx) * scale
            + ((raw.get(n, 0) % mx) * scale) // mx
            for n in nodes
        }

    h = {n: scale for n in nodes}
    a = {n: 0 for n in nodes}
    for _ in range(k):
        a_raw: dict = {}
        for u, v in E:
            a_raw[v] = a_raw.get(v, 0) + h[u]
        a = norm(a_raw)
        h_raw: dict = {}
        for u, v in E:
            h_raw[u] = h_raw.get(u, 0) + a[v]
        h = norm(h_raw)
    return h, a


def test_hits_matches_integer_reference(spark):
    from capelinker_spark.operators.cluster import hits

    # dup edge, self-loop, isolated pair, pure-sink 3, pure-source 4/6
    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (5, 5), (6, 1), (1, 2), (7, 8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {
        r["node"]: (r["hub_scaled"], r["auth_scaled"], r["hub"], r["authority"])
        for r in hits(df, iterations=2).collect()
    }
    h, a = _ref_hits(edges, 2)
    assert out == {
        n: (h[n], a[n], h[n] / 1e6, a[n] / 1e6) for n in h
    }
    # max-normalization: the top hub and top authority are exactly scale
    assert max(v[0] for v in out.values()) == 10**6
    assert max(v[1] for v in out.values()) == 10**6


def test_hits_deterministic_under_repartition(spark):
    from capelinker_spark.operators.cluster import hits

    edges = [(i, (i * 7) % 23) for i in range(200)] + [
        (i, (i * 3) % 23) for i in range(0, 200, 2)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(
        hits(df.repartition(13), iterations=3).collect(),
        key=lambda r: r["node"],
    )
    b = sorted(
        hits(df.repartition(2), iterations=3).collect(),
        key=lambda r: r["node"],
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_hits_validation(spark):
    import pytest as _pytest

    from capelinker_spark.operators.cluster import hits

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with _pytest.raises(ValueError):
        hits(df, iterations=0)


def test_personalized_pagerank_seeds(spark):
    import pytest as _pytest

    from capelinker_spark.operators.cluster import pagerank

    edges = [(1, 2), (2, 3), (3, 1), (4, 1), (5, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(df, iterations=3, seeds=[1]).collect()
    }

    # independent reference: init scale at seeds only, jump at seeds only
    S = 10**12
    E = sorted(set(edges))
    nodes = sorted({a for a, _ in E} | {b for _, b in E})
    outd: dict = {}
    for a, _ in E:
        outd[a] = outd.get(a, 0) + 1
    r = {n: (S if n == 1 else 0) for n in nodes}
    jump = (S * 3) // 20
    for _ in range(3):
        m = {n: 0 for n in nodes}
        for a, b in E:
            m[b] += r[a] // outd[a]
        r = {
            n: (jump if n == 1 else 0)
            + (m[n] // 20) * 17
            + ((m[n] % 20) * 17) // 20
            for n in nodes
        }
    assert out == r
    # proximity semantics: nodes upstream-only of the seed (5 → 4 → 1)
    # receive nothing; the seed's cycle carries mass
    assert out[5] == 0 and out[2] > 0 and out[3] > 0
    with _pytest.raises(ValueError):
        pagerank(df, seeds=[])


def test_global_pagerank_unchanged_by_seeds_default(spark):
    from capelinker_spark.operators.cluster import pagerank

    df = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    out = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(df, iterations=2).collect()
    }
    # symmetric 2-cycle: both nodes identical, mass preserved exactly
    # (no dangling nodes): jump + 0.85·scale each iteration
    S = 10**12
    v = (S * 3) // 20 + (S // 20) * 17
    v = (S * 3) // 20 + (v // 20) * 17 + ((v % 20) * 17) // 20
    assert out == {1: v, 2: v}


def test_label_propagation_matches_reference(spark):
    from capelinker_spark.operators.cluster import label_propagation

    # two triangles joined by one bridge + a self-loop + a dup edge
    edges = [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4), (7, 7), (1, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {
        r["node"]: r["label"]
        for r in label_propagation(df, rounds=3).collect()
    }

    E = sorted({(a, b) for a, b in edges if a != b})
    sym = sorted({(a, b) for a, b in E} | {(b, a) for a, b in E})
    nodes = sorted({a for a, _ in sym})
    lab = {n: n for n in nodes}
    for _ in range(3):
        new = {}
        for n in nodes:
            cnt: dict = {}
            for a, b in sym:
                if a == n:
                    cnt[lab[b]] = cnt.get(lab[b], 0) + 1
            new[n] = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        lab = new
    assert out == lab
    # the self-loop-only node has no neighbours and is not a graph node
    assert 7 not in out
    # the two triangles resolve to separate communities
    assert out[1] == out[2] == out[3]
    assert out[4] == out[5] == out[6]


def test_label_propagation_deterministic_under_repartition(spark):
    from capelinker_spark.operators.cluster import label_propagation

    edges = [(i, (i * 7) % 23) for i in range(120)] + [
        (i, (i * 3) % 23) for i in range(0, 120, 2)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(
        label_propagation(df.repartition(13), rounds=3).collect(),
        key=lambda r: r["node"],
    )
    b = sorted(
        label_propagation(df.repartition(2), rounds=3).collect(),
        key=lambda r: r["node"],
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
