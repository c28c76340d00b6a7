"""Meta-blocking (blocking.metablock_candidates): hand-computed purge /
filter / weight / prune pipeline, both weighting schemes, config guards."""

import pytest
from pyspark.sql import functions as F

from capelinker_spark.operators.blocking import metablock_candidates


def test_metablock_candidates(spark):
    """Papadakis meta-blocking: mega-block purged, singleton dropped,
    per-record top-2 smallest blocks kept, CBS weighting, WEP prune at
    the global mean; JS weighting hand-checked; zero Python."""
    records = spark.createDataFrame(
        [
            (1, ["k1", "k2", "mega"]),
            (2, ["k1", "k2", "mega"]),
            (3, ["k2", "k3", "mega"]),
            (4, ["k3", "mega"]),
            (5, ["solo"]),
        ],
        "id long, keys array<string>",
    )
    kw = dict(keys=F.col("keys"), max_block_size=3, top_r_blocks=2)

    # CBS no prune: (1,2)=2 via k1+k2, (1,3)=(2,3)=1 via k2, (3,4)=1 via k3
    allp = {
        (r["id_from"], r["id_to"]): r["weight"]
        for r in metablock_candidates(records, prune="none", **kw).collect()
    }
    assert allp == {(1, 2): 2.0, (1, 3): 1.0, (2, 3): 1.0, (3, 4): 1.0}

    # WEP: mean = 5/4 -> only (1,2) survives
    wep = metablock_candidates(records, **kw)
    assert [(r["id_from"], r["id_to"]) for r in wep.collect()] == [(1, 2)]
    plan = wep._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan

    # JS: |blocks| after filtering = {1:2, 2:2, 3:2, 4:1}
    js = {
        (r["id_from"], r["id_to"]): r["weight"]
        for r in metablock_candidates(
            records, weight="js", prune="none", **kw
        ).collect()
    }
    assert js[(1, 2)] == 1.0
    assert js[(1, 3)] == pytest.approx(1 / 3, abs=1e-6)
    assert js[(3, 4)] == 0.5

    with pytest.raises(ValueError, match="unknown weight"):
        metablock_candidates(records, weight="ecbs", **kw)
    with pytest.raises(ValueError, match="unknown prune"):
        metablock_candidates(records, prune="cep", **kw)


def test_blocking_rule_coverage_hand_computed(spark):
    """Rules (k1,k2) then (k1): 4 tight pairs; the loose rule adds only
    the 2 cross-(k2) pairs inside k1 blocks."""
    import pytest as _pytest

    from capelinker_spark.operators.blocking import blocking_rule_coverage

    rec = spark.createDataFrame(
        [
            (1, "a", "x"),
            (2, "a", "x"),
            (3, "a", "y"),
            (4, "b", "x"),
            (5, "b", "x"),
            (6, "b", "x"),
            (7, None, "x"),
        ],
        "id long, k1 string, k2 string",
    )
    rows = {
        r["rule"]: (r["n_pairs"], r["n_new_pairs"], r["cum_pairs"])
        for r in blocking_rule_coverage(
            rec, [("tight", ["k1", "k2"]), ("loose", ["k1"])]
        ).collect()
    }
    assert rows["tight"] == (4, 4, 4)
    assert rows["loose"] == (6, 2, 6)

    with _pytest.raises(ValueError, match="'tight' generates 4 pairs"):
        blocking_rule_coverage(
            rec,
            [("tight", ["k1", "k2"])],
            max_pairs_enumerated=3,
        )
    with _pytest.raises(ValueError, match="duplicate rule names"):
        blocking_rule_coverage(rec, [("r", ["k1"]), ("r", ["k2"])])


def test_deletion_variants_hand_computed(spark):
    """'abc' → itself + 3 single-deletion variants; repeated chars
    dedup ('aab' yields 'ab' once); '' → ['']; NULL → NULL."""
    from capelinker_spark.operators.blocking import deletion_variants

    df = spark.createDataFrame(
        [("abc",), ("aab",), ("",), (None,)], "s string"
    )
    rows = {
        r["s"]: r["v"]
        for r in df.select(
            "s", deletion_variants(F.col("s")).alias("v")
        ).collect()
    }
    assert rows["abc"] == ["abc", "bc", "ac", "ab"]
    assert rows["aab"] == ["aab", "ab", "aa"]
    assert rows[""] == [""]
    assert rows[None] is None


def test_edit_distance_pairs_matches_brute_force(spark):
    """Deletion-neighborhood blocking finds EVERY lev≤1 pair: compare
    against the exact crossJoin truth on a corpus with equality,
    substitution, insertion, and deletion pairs."""
    from capelinker_spark.operators.blocking import edit_distance_pairs

    words = [
        "smith", "smyth", "smit", "smiths", "jones", "jomes", "jone",
        "brown", "braun", "brwn", "taylor", "tailor", "taylr", "smith",
    ]
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "id long, s string"
    )
    got = {
        (r["id_from"], r["id_to"], r["dist"])
        for r in edit_distance_pairs(df, "s").collect()
    }
    l = df.select(F.col("id").alias("id_from"), F.col("s").alias("_a"))
    r = df.select(F.col("id").alias("id_to"), F.col("s").alias("_b"))
    truth = {
        (x["id_from"], x["id_to"], x["dist"])
        for x in l.crossJoin(r)
        .where(F.col("id_from") < F.col("id_to"))
        .withColumn("dist", F.levenshtein("_a", "_b"))
        .where(F.col("dist") <= 1)
        .collect()
    }
    assert got == truth and len(truth) >= 8


def test_edit_distance_pairs_plan_and_guards(spark):
    """max_dist≠1 rejected; plan has no cartesian product and no Python;
    max_bucket_size drops a hot key's pairs."""
    from capelinker_spark.operators.blocking import edit_distance_pairs

    df = spark.createDataFrame(
        [(i, f"w{i:03d}") for i in range(40)], "id long, s string"
    )
    with pytest.raises(ValueError):
        edit_distance_pairs(df, "s", max_dist=2)
    plan = (
        edit_distance_pairs(df, "s")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Cartesian" not in plan and "BatchEvalPython" not in plan

    hot = spark.createDataFrame(
        [(i, "same") for i in range(10)] + [(10, "ab"), (11, "ac")],
        "id long, s string",
    )
    capped = edit_distance_pairs(hot, "s", max_bucket_size=5).collect()
    # the 10-row 'same' bucket (and its variant buckets) are over cap;
    # the distance-1 pair (ab, ac) survives via the shared 'a' variant
    assert {(r["id_from"], r["id_to"]) for r in capped} == {(10, 11)}


def test_qgram_edit_pairs_matches_brute_force(spark):
    """Randomized dense corpus (small alphabet, lengths 0-9 → empty,
    sub-q, short-tier, and gram-tier strings all present): candidates
    from the positional-gram count filter + depth-2 deletion tier,
    verified exact, equal the O(n²) truth at max_dist=2."""
    import random

    from capelinker_spark.operators.blocking import qgram_edit_pairs

    rng = random.Random(11)
    words = set()
    while len(words) < 70:
        words.add(
            "".join(
                rng.choice("abcde") for _ in range(rng.randint(0, 9))
            )
        )
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(sorted(words))], "id long, s string"
    )
    got = {
        (r["id_from"], r["id_to"], r["dist"])
        for r in qgram_edit_pairs(df, "s").collect()
    }
    l = df.select(F.col("id").alias("id_from"), F.col("s").alias("_a"))
    r = df.select(F.col("id").alias("id_to"), F.col("s").alias("_b"))
    truth = {
        (x["id_from"], x["id_to"], x["dist"])
        for x in l.crossJoin(r)
        .where(F.col("id_from") < F.col("id_to"))
        .withColumn("dist", F.levenshtein("_a", "_b"))
        .where(F.col("dist") <= 2)
        .collect()
    }
    assert got == truth and len(truth) >= 40


def test_qgram_edit_pairs_k1_and_guards(spark):
    """max_dist=1 agrees with edit_distance_pairs; max_dist<1 rejected;
    plan has no cartesian product and no Python."""
    from capelinker_spark.operators.blocking import (
        edit_distance_pairs,
        qgram_edit_pairs,
    )

    words = ["smith", "smyth", "smit", "jones", "jomes", "taylor"]
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "id long, s string"
    )
    via_qgram = {
        tuple(r) for r in qgram_edit_pairs(df, "s", max_dist=1).collect()
    }
    via_del = {
        tuple(r) for r in edit_distance_pairs(df, "s").collect()
    }
    assert via_qgram == via_del

    with pytest.raises(ValueError):
        qgram_edit_pairs(df, "s", max_dist=0)
    plan = (
        qgram_edit_pairs(df, "s")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Cartesian" not in plan and "BatchEvalPython" not in plan


def test_qgram_edit_pairs_stop_gram_cap(spark):
    """max_gram_freq drops hot grams (approximate mode): a pair held
    together only by a stop-gram disappears; a pair sharing rare grams
    survives."""
    from capelinker_spark.operators.blocking import qgram_edit_pairs

    # 'ththth'-family: every row shares hot 'th'/'ht' grams
    rows = [(i, "ththth") for i in range(9)] + [
        (9, "ththtx"),
        (10, "walker"),
        (11, "walter"),
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    full = {
        (r["id_from"], r["id_to"])
        for r in qgram_edit_pairs(df, "s").collect()
    }
    capped = {
        (r["id_from"], r["id_to"])
        for r in qgram_edit_pairs(df, "s", max_gram_freq=5).collect()
    }
    assert (10, 11) in full and (10, 11) in capped
    assert (0, 1) in full and (0, 9) in full
    assert not any(a <= 9 and b <= 9 for a, b in capped)


def _brute_jaccard(rows, t):
    import re

    out = {}
    toks = {
        i: set(w for w in re.split(r"[ \t\n\r\f\x0b]+", s.strip()) if w)
        for i, s in rows
    }
    q = round(t * 1_000_000)
    ids = sorted(toks)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = toks[ids[i]], toks[ids[j]]
            if not a or not b:
                continue
            inter = len(a & b)
            union = len(a | b)
            if inter * 1_000_000 >= q * union:
                out[(ids[i], ids[j])] = (inter, inter / union)
    return out


def test_prefix_jaccard_matches_brute_force(spark):
    """EXACT completeness vs the O(n^2) reference on an adversarial mix:
    duplicate sets, subset/superset, near-misses at the threshold,
    frequency ties, empty and single-token records."""
    from capelinker_spark.operators.blocking import prefix_jaccard_pairs

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),          # identical -> 1.0
        (3, "alpha beta gamma"),                # subset 3/4 = 0.75
        (4, "alpha beta zeta eta"),             # 2/6 = 0.333
        (5, "  alpha   beta\tgamma  delta "),   # whitespace noise
        (6, "omega"),
        (7, "omega"),                           # single-token dup
        (8, ""),                                # no tokens
        (9, "beta gamma delta epsilon"),        # 3/5 = 0.6 boundary
        (10, "kappa lambda mu nu xi"),
        (11, "kappa lambda mu nu omicron"),     # 4/6 = 0.667
        (12, "alpha alpha beta beta gamma"),    # dup words collapse
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {
        (r["id_from"], r["id_to"]): (r["n_common"], r["jaccard"])
        for r in prefix_jaccard_pairs(df, "s", threshold=0.6).collect()
    }
    want = _brute_jaccard(rows, 0.6)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == pytest.approx(want[k][1], abs=1e-12)
    assert (1, 2) in got and got[(1, 2)] == (4, 1.0)
    assert (9, 1) not in got  # ordered id_from < id_to
    assert (1, 9) in got      # 0.6 boundary kept (>=)


def test_prefix_jaccard_plan_and_cap(spark):
    from capelinker_spark.operators.blocking import prefix_jaccard_pairs

    rows = [(i, f"w{i % 4} stop common x{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "id long, s string")
    out = prefix_jaccard_pairs(df, "s", threshold=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    full = {(r["id_from"], r["id_to"]) for r in out.collect()}
    # stop-word cap prunes prefixes -> subset of the exact result
    capped = {
        (r["id_from"], r["id_to"])
        for r in prefix_jaccard_pairs(
            df, "s", threshold=0.5, max_token_freq=10
        ).collect()
    }
    assert capped <= full
    with pytest.raises(ValueError):
        prefix_jaccard_pairs(df, "s", threshold=0.0)

    # the cap's exact loss, by brute force: pairs of DIFFERENT token sets
    # whose shared prefix tokens all exceed the cap. Rows 1-2 are the
    # counterexample shape: each prefix keeps an uncapped token of its
    # own (p, r), only the shared q is capped. Rows 40-41 are identical
    # all-capped sets, which still pair.
    import random
    from collections import Counter

    rng = random.Random(7)
    vocab = [f"v{k}" for k in range(20)]
    rows = (
        [(1, "p q"), (2, "q r")]
        + [(i, f"q x{i}") for i in range(3, 15)]
        + [(40, "q"), (41, "q")]
        + [
            (i, " ".join(rng.sample(vocab[: rng.randint(5, 20)], rng.randint(3, 5))))
            for i in range(50, 100)
        ]
    )
    t, cap = 0.3, 12
    df = spark.createDataFrame(rows, "id long, s string")
    exact = set(_brute_jaccard(rows, t))
    capped = {
        (r["id_from"], r["id_to"])
        for r in prefix_jaccard_pairs(
            df, "s", threshold=t, max_token_freq=cap
        ).collect()
    }
    toks = {i: set(s.split()) for i, s in rows}
    dfreq = Counter(w for ts in toks.values() for w in ts)
    q = round(t * 1_000_000)

    def prefix(ts):
        n = len(ts)
        return set(sorted(ts, key=lambda w: (dfreq[w], w))[
            : n - (n * q + 999_999) // 1_000_000 + 1
        ])

    lost = {
        (a, b) for a, b in exact
        if toks[a] != toks[b]
        and all(dfreq[w] > cap for w in prefix(toks[a]) & prefix(toks[b]))
    }
    assert (1, 2) in lost and dfreq["p"] <= cap and dfreq["r"] <= cap
    assert (40, 41) in capped
    assert capped == exact - lost


def test_blocking_rule_coverage_null_keys_consistent(spark):
    """Rows with a NULL key are dropped from BOTH count tiers: the
    combinatorial n_pairs must agree with the enumerated pairs (a giant
    NULL group previously inflated n_pairs past cum_pairs and could
    falsely trip the enumeration guard — review r6)."""
    from capelinker_spark.operators.blocking import blocking_rule_coverage

    rows = [(i, None if i < 40 else "k", "z") for i in range(50)]
    df = spark.createDataFrame(rows, "id long, a string, b string")
    out = {
        r["rule"]: (r["n_pairs"], r["n_new_pairs"], r["cum_pairs"])
        for r in blocking_rule_coverage(
            df, [("a", ["a"]), ("b", ["b"])], max_pairs_enumerated=2000
        ).collect()
    }
    # rule a: only the 10 non-null rows pair -> C(10,2)=45, and the
    # NULL group's C(40,2)=780 appears nowhere
    assert out["a"] == (45, 45, 45)
    assert out["b"] == (1225, 1180, 1225)
    # and the guard keys on the NULL-free count: 45 <= 100 passes even
    # though the NULL group alone would be 780 > 100
    blocking_rule_coverage(df, [("a", ["a"])], max_pairs_enumerated=100)
