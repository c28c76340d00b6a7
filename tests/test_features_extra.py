"""uniformise_string, namefreq, cosine uniqueness, stringdist_closest,
paste_similar, labeling sheet, preflight."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from capelinker_spark.operators import features as FE
from capelinker_spark.qa.preflight import model_base_variables, preflight


def test_uniformise_strings(spark):
    rows = (
        [("BOTHA", i) for i in range(10)]
        + [("BOTHAH", 10), ("BOTA", 11)]
        + [("COETZEE", 12), ("COETZE", 13)]
        + [("NAUDE", 14)]
    )
    df = spark.createDataFrame(rows, "mlast string, persid long")
    out = FE.uniformise_strings(df, "mlast")
    got = {r["mlast"]: r["mlast_unif"] for r in out.collect()}
    # BOTHA is the most frequent → absorbs its JW-near variants
    assert got["BOTHA"] == "BOTHA"
    assert got["BOTHAH"] == "BOTHA"
    assert got["BOTA"] == "BOTHA"
    # COETZEE/COETZE tie at freq 1 → representative by (freq desc, name asc)
    assert got["COETZE"] == got["COETZEE"] == "COETZE"
    assert got["NAUDE"] == "NAUDE"


def test_uniformise_namefreq_composition(spark):
    rows = [("BOTHA", 1), ("BOTHAH", 2), ("BOTHA", 3), ("NAUDE", 4)]
    df = spark.createDataFrame(rows, "mlast string, persid long")
    unif = FE.uniformise_strings(df, "mlast")
    out = FE.add_namefreq(unif, "mlast_unif", out="namefreq")
    got = {r["persid"]: r["namefreq"] for r in out.collect()}
    assert got[1] == got[2] == got[3] == 3  # canonicalized count
    assert got[4] == 1


def test_cos_uniqueness_matches_reference_formula(spark):
    """Linear form ≡ the rowMeans(sim.strings) definition on a small group."""
    import numpy as np

    names = ["JOHANNES", "JOHANNES", "JACOBUS", "WILLEM"]
    df = spark.createDataFrame(
        [(i, 1826, n) for i, n in enumerate(names)],
        "persid long, year int, mfirst string",
    )
    out = {
        r["persid"]: r["u"]
        for r in FE.add_cos_uniqueness(df, "mfirst", out="u").collect()
    }

    # naive reference computation with bigram count vectors (boundary '#')
    def vec(s):
        s = f"#{s}#"
        grams = {}
        for i in range(len(s) - 1):
            grams[s[i : i + 2]] = grams.get(s[i : i + 2], 0) + 1
        return grams

    def cos(a, b):
        dot = sum(a[g] * b.get(g, 0) for g in a)
        na = sum(v * v for v in a.values()) ** 0.5
        nb = sum(v * v for v in b.values()) ** 0.5
        return dot / (na * nb)

    vecs = [vec(n) for n in names]
    for i in range(4):
        expected = 1 - np.mean([cos(vecs[i], v) for v in vecs])
        assert out[i] == pytest.approx(expected, abs=1e-9), i


def test_stringdist_closest(spark):
    df = spark.createDataFrame(
        [(1, "BOTHA", "B"), (2, "BOTHAH", "B"), (3, "NAUDE", "N")],
        "persid long, mlast string, blk string",
    )
    out = {
        r["persid"]: r["nextdist"]
        for r in FE.stringdist_closest(df, "mlast", "blk").collect()
    }
    assert out[1] == out[2]  # mutual nearest
    assert 0 < out[1] < 0.2
    assert out[3] == 1.0  # singleton block → reference's length-1 convention


def test_paste_similar(spark):
    # R/util.R:352-354 example
    s = ["jan van der merwe", "gerrit coetzee", "johan van der merwe", "jan van merwe"]
    df = spark.createDataFrame(
        [(i, x, "x") for i, x in enumerate(s)], "persid long, s string, blk string"
    )
    out = {
        r["s"]: r["similar_strings"]
        for r in FE.paste_similar(df, "s", "blk", threshold=0.85).collect()
    }
    assert "johan van der merwe" in out["jan van der merwe"]
    assert out["gerrit coetzee"] == ""


def test_make_labeling_sheet(spark):
    rows = [(1, 10, 0.1, 0.2), (1, 11, 0.0, 0.0), (2, 12, 0.5, 0.5)]
    df = spark.createDataFrame(
        rows, "persid_from long, persid_to long, mlastdist double, mfirstdist double"
    )
    sheet = FE.make_labeling_sheet(df, n_blocks=2, order_cols=("mlastdist", "mfirstdist"))
    got = [
        (r["persid_from"], r["persid_to"], r["block_seq"])
        for r in sheet.orderBy("persid_from", "block_seq").collect()
    ]
    # within block 1, the closer pair (11) comes first
    by_block = {}
    for pf, pt, seq in got:
        by_block.setdefault(pf, []).append((seq, pt))
    if 1 in by_block:
        assert sorted(by_block[1])[0][1] == 11


def test_preflight_report(spark, pages):
    from capelinker_spark.extract import extract_records

    rec = extract_records(pages, with_spousenamedist=False)
    out = preflight(rec, vrbs=["mlast", "mfirst", "year", "settlerchildren"])
    rep = {r["variable"]: r.asDict() for r in out["report"].collect()}
    assert 0 <= rep["mlast"]["share_na"] < 0.5
    assert rep["mlast"]["share_upper"] > 0.9  # cleaned names are uppercase
    assert rep["mlast"]["share_leadtrail_ws"] == 0.0  # trim happened
    assert rep["year"]["min"] == 1826.0 and rep["year"]["max"] == 1828.0
    charset = {
        r["variable"]: r["ch"] for r in out["charset"].collect() if r["ch"] == " "
    }
    assert "mlast" in charset or "mfirst" in charset  # multiword names exist


def test_model_base_variables():
    got = model_base_variables("m_rf_baptisms_sparse")
    assert got == ["mlast", "mfirst", "wfirst", "year"]
    got_full = model_base_variables("m_boost_stel_rein")
    assert "settlerchildren" in got_full and "mlast" in got_full
    with pytest.raises(KeyError):
        model_base_variables("opgaafrol_full")  # the reference's phantom model


def test_apply_labels(spark):
    cnd = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 12)], "persid_from long, persid_to long"
    )
    labels = spark.createDataFrame(
        [(1, 10, "sure"), (1, 11, "doubtful")],
        "persid_from long, persid_to long, annotation string",
    )
    out = {
        (r["persid_from"], r["persid_to"]): r["correct"]
        for r in FE.apply_labels(cnd, labels).collect()
    }
    assert out[(1, 10)] is True
    assert out[(1, 11)] is False
    assert out[(2, 12)] is None  # unannotated → excluded from training


def test_min_max_normalise(spark):
    df = spark.createDataFrame([(0.0,), (5.0,), (10.0,)], "x double")
    got = sorted(r["x"] for r in FE.min_max_normalise(df, ["x"]).collect())
    assert got == [0.0, 0.5, 1.0]


def test_cos_uniqueness_pairwise_matches_linear(spark):
    """The exact pairwise integer-quantized form ≡ the O(n) linear form to
    within the 1e-6 quantization grain (the identity claimed by the f9
    oracle query's docstring), duplicates included."""
    names = ["JOHANNES", "JOHANNES", "JACOBUS", "WILLEM", "PIETER"]
    df = spark.createDataFrame(
        [(i, 1826 + (i % 2), n) for i, n in enumerate(names)],
        "persid long, year int, mfirst string",
    )
    lin = {
        r["persid"]: r["u"]
        for r in FE.add_cos_uniqueness(df, "mfirst", out="u").collect()
    }
    pw = {
        r["persid"]: r["u"]
        for r in FE.cos_uniqueness_pairwise(df, "mfirst", out="u").collect()
    }
    assert set(lin) == set(pw)
    for k in lin:
        assert abs(lin[k] - pw[k]) < 2e-6, (k, lin[k], pw[k])


def test_jw_uniqueness_reference_formula(spark):
    """jw_uniqueness ≡ rowMeans(stringdistmatrix(x, x, 'jw')) by group
    (p=0, self-pair included, duplicates weighted)."""
    from capelinker_spark.functions.strdist import jaro_winkler_dist

    names = ["JOHANNES", "JOHANNES", "JACOBUS", "WILLEM"]
    df = spark.createDataFrame(
        [(i, 1826, n) for i, n in enumerate(names)] + [(9, 1827, "ANNA")],
        "persid long, year int, mfirst string",
    )
    got = {
        r["persid"]: r["u"]
        for r in FE.jw_uniqueness(df, "mfirst", out="u").collect()
    }
    for i, n in enumerate(names):
        exp = sum(jaro_winkler_dist(n, m, p=0.0) for m in names) / len(names)
        assert abs(got[i] - exp) < 2e-6, (i, got[i], exp)
    assert got[9] == 0.0  # singleton group: only the self-pair


def test_jw_uniqueness_mega_group_guard(spark):
    """The ``max_group_distinct`` guard caps the quadratic self-join: on a
    skewed fixture (one mega-year with 400 distinct names, one small year)
    the pair count stays under distinct·cap instead of distinct², the small
    group keeps EXACT full-group semantics, and the sampled estimate of the
    mega group tracks the exact mean."""
    from capelinker_spark.functions.strdist import jaro_winkler_dist

    mega = [(i, 1828, f"NAME{i:04d}") for i in range(400)]
    small_names = ["JOHANNES", "JOHANNES", "JACOBUS"]
    small = [(1000 + i, 1826, n) for i, n in enumerate(small_names)]
    df = spark.createDataFrame(mega + small, "persid long, year int, mfirst string")
    cap = 50

    # pair-count bound: reproduce the guarded rhs and count the join
    mult = df.groupBy("year", F.col("mfirst").alias("_s")).agg(
        F.count("*").alias("_mult")
    )
    dn = mult.groupBy("year").agg(F.count("*").alias("_dn"))
    rhs = mult.join(dn, "year").where(
        (F.col("_dn") <= cap)
        | (F.pmod(F.xxhash64("_s", F.lit(42)), F.col("_dn")) < F.lit(cap))
    )
    n_pairs = (
        mult.select("year", "_s").join(rhs.select("year"), "year").count()
    )
    assert n_pairs <= 400 * (2 * cap) + 9  # ~n·cap (±sampling noise), not n²

    got = {
        r["persid"]: r["u"]
        for r in FE.jw_uniqueness(
            df, "mfirst", out="u", max_group_distinct=cap
        ).collect()
    }
    # the small group is under the cap → bit-exact full semantics
    for i, n in enumerate(small_names):
        exp = sum(jaro_winkler_dist(n, m, p=0.0) for m in small_names) / len(
            small_names
        )
        assert abs(got[1000 + i] - exp) < 2e-6
    # the mega group engaged the guard: values are sane means over a real
    # subsample (the NAMEnnnn strings are mutually distant, so the sampled
    # mean must stay close to the exact all-pairs mean)
    exact = {
        r["persid"]: r["u"]
        for r in FE.jw_uniqueness(
            df.where(F.col("year") == 1828), "mfirst", out="u"
        ).collect()
    }
    for pid in range(0, 400, 37):
        assert abs(got[pid] - exact[pid]) < 0.05, (pid, got[pid], exact[pid])


def test_uniformise_greedy_matches_reference_order(spark):
    """method='greedy' replicates R/util.R:150-164's sequential absorb
    INSIDE a soundex block: the most frequent remaining string absorbs only
    what lies within maxdist of IT — a transitive chain A~B~C stays split
    (C keeps its own representative), where method='cc' merges the whole
    chain. JANSEN/JANSSEN/JANSSENS share soundex J525 and chain at
    maxdist=0.04: d(A,B)=.029, d(B,C)=.025, d(A,C)=.05."""
    rows = (
        [("JANSEN", i) for i in range(3)]
        + [("JANSSEN", 3), ("JANSSEN", 4)]
        + [("JANSSENS", 5)]
    )
    df = spark.createDataFrame(rows, "mlast string, persid long")
    greedy = {
        r["mlast"]: r["mlast_unif"]
        for r in FE.uniformise_strings(
            df, "mlast", maxdist=0.04, method="greedy"
        ).collect()
    }
    assert greedy["JANSEN"] == "JANSEN"
    assert greedy["JANSSEN"] == "JANSEN"  # absorbed by the head
    assert greedy["JANSSENS"] == "JANSSENS"  # chain NOT followed (reference)
    cc = {
        r["mlast"]: r["mlast_unif"]
        for r in FE.uniformise_strings(
            df, "mlast", maxdist=0.04, method="cc"
        ).collect()
    }
    assert cc["JANSSENS"] == "JANSEN"  # the documented CC deviation

    # and on non-chained data both methods agree
    rows2 = [("BOTHA", i) for i in range(5)] + [("BOTA", 5), ("NAUDE", 6)]
    df2 = spark.createDataFrame(rows2, "mlast string, persid long")
    g2 = {r["mlast"]: r["mlast_unif"]
          for r in FE.uniformise_strings(df2, "mlast", method="greedy").collect()}
    c2 = {r["mlast"]: r["mlast_unif"]
          for r in FE.uniformise_strings(df2, "mlast", method="cc").collect()}
    assert g2 == c2


def test_jw_uniqueness_guard_never_empties_a_group(spark):
    """Floor guarantee (round-3 review finding): even at cap=1 — where the
    hash sample keeps zero names with probability ~e^-1 per group — the
    min-hash name is always retained, so every input row still gets a
    feature value instead of vanishing through the inner group join."""
    rows = [(i, 1800 + (i % 7), f"NM{i:03d}") for i in range(300)]
    df = spark.createDataFrame(rows, "persid long, year int, mfirst string")
    out = FE.jw_uniqueness(df, "mfirst", out="u", max_group_distinct=1)
    vals = {r["persid"]: r["u"] for r in out.collect()}
    assert len(vals) == 300  # no group silently dropped
    assert all(v is not None for v in vals.values())


def test_uniformise_greedy_global_crosses_blocks(spark):
    """method='greedy_global' closes the blocked paths' last deviation:
    absorption ACROSS soundex blocks. SMITH (S530) and ZMITH (Z530) are
    within maxdist (jw=.1333<.2) but can never meet under any blocked
    method; the global pass absorbs ZMITH exactly like the reference's
    unblocked loop (R/util.R:145-166). Verified against a test-local
    sequential R-semantics oracle over the same priority order."""
    import pytest

    from capelinker_spark.functions.strdist import jaro_winkler_dist
    from capelinker_spark.operators.features import _uniformise_greedy_global

    rows = (
        [("SMITH", i) for i in range(5)]
        + [("SMYTH", 5), ("SMYTH", 6)]
        + [("ZMITH", 7)]
    )
    df = spark.createDataFrame(rows, "mlast string, persid long")

    # R-semantics oracle: independent sequential absorb, count desc + name
    # asc priority, scalar python JW
    counts = {"SMITH": 5, "SMYTH": 2, "ZMITH": 1}
    pool = sorted(counts, key=lambda s: (-counts[s], s))
    want, remaining = {}, list(pool)
    while remaining:
        head = remaining[0]
        nxt = []
        for s in remaining:
            if s == head or jaro_winkler_dist(head, s, p=0.1) < 0.2:
                want[s] = head
            else:
                nxt.append(s)
        remaining = nxt

    got = {
        r["mlast"]: r["mlast_unif"]
        for r in FE.uniformise_strings(
            df, "mlast", maxdist=0.2, method="greedy_global"
        ).collect()
    }
    assert got == want
    assert got["ZMITH"] == "SMITH"  # the cross-block absorption itself

    # blocked greedy documents the divergence: ZMITH is alone in Z530
    blocked = {
        r["mlast"]: r["mlast_unif"]
        for r in FE.uniformise_strings(
            df, "mlast", maxdist=0.2, method="greedy"
        ).collect()
    }
    assert blocked["ZMITH"] == "ZMITH"
    assert blocked["SMYTH"] == "SMITH"  # within-block behavior identical

    # the driver-size guard raises BEFORE collecting, with guidance
    with pytest.raises(ValueError, match="greedy|cc"):
        _uniformise_greedy_global(
            df, "mlast", 0.2, "mlast_unif", None, max_vocab=2
        )


def test_monge_elkan_hand_computed(spark):
    """Word-reordered identical names score 1.0; the asymmetric direction
    a='abc' vs b='abc xyz' is 1.0 forward (every a-word has an exact
    match) and 0.5 backward (xyz finds nothing, JW distance 1)."""
    pairs = spark.createDataFrame(
        [
            (1, "john smith", "smith john"),
            (2, "abc", "abc xyz"),
        ],
        "pid long, a string, b string",
    )
    fwd = {
        r["pid"]: r["me_sim"]
        for r in FE.monge_elkan(pairs, "a", "b", ["pid"]).collect()
    }
    assert fwd[1] == pytest.approx(1.0)
    assert fwd[2] == pytest.approx(1.0)
    sym = {
        r["pid"]: r["me_sim"]
        for r in FE.monge_elkan(
            pairs, "a", "b", ["pid"], symmetric=True
        ).collect()
    }
    assert sym[1] == pytest.approx(1.0)
    assert sym[2] == pytest.approx(0.75)  # (1.0 + 0.5) / 2


def test_monge_elkan_empty_side_null_and_row_preserved(spark):
    pairs = spark.createDataFrame(
        [(1, "   ", "anything"), (2, "word", "")],
        "pid long, a string, b string",
    )
    rows = {r["pid"]: r["me_sim"]
            for r in FE.monge_elkan(pairs, "a", "b", ["pid"]).collect()}
    assert rows == {1: None, 2: None}


def test_monge_elkan_deterministic_under_partitioning(spark):
    import random

    rng = random.Random(3)
    words = ["maria", "garcia", "lopez", "smith", "smyth", "jon", "john"]
    rows = [
        (
            i,
            " ".join(rng.choices(words, k=rng.randrange(1, 4))),
            " ".join(rng.choices(words, k=rng.randrange(1, 4))),
        )
        for i in range(200)
    ]
    pairs = spark.createDataFrame(rows, "pid long, a string, b string")
    a = sorted(
        (r["pid"], r["me_sim"])
        for r in FE.monge_elkan(pairs, "a", "b", ["pid"]).collect()
    )
    b = sorted(
        (r["pid"], r["me_sim"])
        for r in FE.monge_elkan(
            pairs.repartition(11), "a", "b", ["pid"]
        ).collect()
    )
    assert a == b


class TestSoftTfidf:
    def _sim(self, spark, rows, corpus_rows=None):
        from capelinker_spark.operators.features import soft_tfidf

        pairs = spark.createDataFrame(
            rows, "pid long, name_a string, name_b string"
        )
        corpus = (
            spark.createDataFrame(corpus_rows, "name string")
            if corpus_rows
            else None
        )
        out = soft_tfidf(pairs, "name_a", "name_b", ["pid"], corpus=corpus)
        return {r.pid: r.st_sim for r in out.collect()}

    def test_identical_and_disjoint(self, spark):
        sims = self._sim(
            spark,
            [
                (1, "maria garcia lopez", "maria garcia lopez"),
                (2, "maria garcia lopez", "qqqq wwww zzzz"),
            ],
        )
        # identical vectors: cosine 1 up to the 1e-12 per-term quantization
        assert abs(sims[1] - 1.0) < 1e-9
        assert sims[2] == 0.0

    def test_jw_close_tokens_match(self, spark):
        # no token matches byte-for-byte, every token clears JW >= 0.9
        sims = self._sim(
            spark, [(1, "jonathon smith", "jonathan smiths")]
        )
        assert sims[1] > 0.8

    def test_idf_downweights_ubiquitous_token(self, spark):
        # "inc" appears in every corpus name -> idf 0 -> a pair matching
        # ONLY on "inc" scores 0; matching on a rare token scores high
        corpus = [
            ("acme inc",), ("zorblatt inc",), ("quuxco inc",),
            ("wibble inc",),
        ]
        sims = self._sim(
            spark,
            [(1, "acme inc", "zorblatt inc"), (2, "acme inc", "acme inc")],
            corpus_rows=corpus,
        )
        assert sims[1] == 0.0  # only the zero-idf token matches
        assert abs(sims[2] - 1.0) < 1e-9

    def test_multiplicity_in_tf_not_close_set(self, spark):
        # repeated word raises tf (weight), not the number of CLOSE terms;
        # corpus padded with unrelated names so the shared words keep
        # nonzero idf (ubiquitous words are dropped by design)
        corpus = [
            ("rose rose lace",), ("rose lace",), ("plum navy",),
            ("mint chiffon",), ("ivory linen",),
        ]
        sims = self._sim(
            spark,
            [
                (1, "rose rose lace", "rose lace"),
                (2, "rose lace", "rose lace"),
            ],
            corpus_rows=corpus,
        )
        assert 0.0 < sims[1] < 1.0
        assert abs(sims[2] - 1.0) < 1e-9

    def test_all_words_ubiquitous_scores_zero(self, spark):
        # every word in every corpus name -> whole weight vector drops ->
        # 0.0, not a divide-by-zero (ANSI-mode regression)
        sims = self._sim(spark, [(1, "rose lace", "rose lace")])
        assert sims[1] == 0.0


def test_add_matches_rejects_existing_matches_column(spark):
    df = spark.createDataFrame([(1, 2, 5)], "persid_from long, persid_to long, matches long")
    with pytest.raises(ValueError, match="matches"):
        FE.add_matches(df, "persid_from")


def test_add_matches_input_column_named_like_join_key(spark):
    """Input columns named like the join-back key (any case) stay intact and
    the counts are right, NULL ids grouping together."""
    rows = [(1, 10, "a", "x"), (1, 11, "b", "y"), (2, 12, "c", "z"),
            (None, 13, "d", "w"), (None, 14, "e", "v")]
    df = spark.createDataFrame(
        rows, "persid_from long, persid_to long, _mk string, `__MK` string"
    )
    out = FE.add_matches(df, "persid_from")
    assert out.columns == df.columns + ["matches"]
    got = {r["persid_to"]: tuple(r) for r in out.collect()}
    assert got == {r[1]: r + (c,) for r, c in zip(rows, (2, 2, 1, 2, 2))}
