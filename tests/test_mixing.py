"""Deterministic sampling & dataset mixing: rerun/partitioning stability,
rate accuracy, per-class mixing, frac=1.0 hex-bound edge."""

from __future__ import annotations

from pyspark.sql import functions as F

from capelinker_spark.operators.mixing import (
    _md5_bound,
    deterministic_sample,
    sample_to_rates,
)


def test_md5_bound_edges():
    assert _md5_bound(0.0) == "00000"
    assert _md5_bound(0.25) == "40000"
    assert _md5_bound(0.5) == "80000"
    assert _md5_bound(1.0) == "g"  # above every 5-char hex digest
    assert "fffff" < "g"  # the sentinel really keeps everything


def test_deterministic_sample_stable_and_accurate(spark):
    df = spark.range(20_000).select(F.col("id").alias("doc_id"))
    for method in ("md5", "xxhash64"):
        kept = deterministic_sample(df, 0.3, "doc_id", method=method)
        ids1 = {r["doc_id"] for r in kept.collect()}
        # partitioning-independent: same rows from a different layout
        ids2 = {
            r["doc_id"]
            for r in deterministic_sample(
                df.repartition(7), 0.3, "doc_id", method=method
            ).collect()
        }
        assert ids1 == ids2, method
        assert abs(len(ids1) / 20_000 - 0.3) < 0.02, method
    # full keep: every row survives (the 'g' bound edge)
    assert deterministic_sample(df, 1.0, "doc_id").count() == 20_000


def test_sample_to_rates_mixes_classes(spark):
    df = spark.range(30_000).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("en"), F.lit("de"), F.lit("zh")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("lang"),
    )
    out = sample_to_rates(
        df, "lang", {"en": 0.2, "de": 0.6}, "doc_id", default_rate=1.0
    )
    by = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(
        F.count("*").alias("n")).collect()}
    assert abs(by["en"] / 10_000 - 0.2) < 0.03
    assert abs(by["de"] / 10_000 - 0.6) < 0.03
    assert by["zh"] == 10_000  # default_rate=1.0 keeps every row
    # the kept set per class equals the scalar rule applied per class
    en_direct = deterministic_sample(
        df.where(F.col("lang") == "en"), 0.2, "doc_id"
    )
    assert {r["doc_id"] for r in out.where(F.col("lang") == "en").collect()} == {
        r["doc_id"] for r in en_direct.collect()
    }


def test_sample_to_rates_composes_with_streams(spark, tmp_path):
    """The mixing rules are pure narrow filters, so they run unchanged on a
    streaming DataFrame: stream-side sample_to_rates keeps EXACTLY the rows
    the identical batch filter keeps — deterministic hash rule, no state,
    no watermark."""
    rows = [(i, "en" if i % 3 else "de") for i in range(300)]
    schema = "doc_id long, lang string"
    src = str(tmp_path / "mix_stream")
    spark.createDataFrame(rows, schema).coalesce(2).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        sample_to_rates(stream, "lang", {"en": 0.3, "de": 0.8}, "doc_id")
        .writeStream.format("memory")
        .queryName("mix_stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.table("mix_stream_out").collect()}
    batch = sample_to_rates(
        spark.createDataFrame(rows, schema), "lang", {"en": 0.3, "de": 0.8},
        "doc_id",
    )
    want = {r["doc_id"] for r in batch.collect()}
    assert got == want and 0 < len(got) < 300


def test_null_keys_kept_at_rate_one(spark):
    """Round-4 fix: md5(NULL) → NULL used to NULL the keep predicate and
    silently drop null-key rows even at frac=1.0. NULL keys now hash as ''
    (all-or-nothing per rate, deterministic); rate 1.0 keeps every row in
    BOTH tiers, and the xxhash64 tier (which always hashed NULL as the
    seed-only digest) is unchanged."""
    from capelinker_spark.operators.mixing import (
        deterministic_sample,
        sample_to_rates,
    )

    df = spark.createDataFrame(
        [(1, "en"), (2, None), (3, "de"), (None, "en"), (None, None)],
        "k long, lang string",
    )
    for method in ("md5", "xxhash64"):
        assert deterministic_sample(df, 1.0, "k", method=method).count() == 5
        # per-class rates all 1.0 → identity, NULL class takes default_rate
        kept = sample_to_rates(
            df, "lang", {"en": 1.0, "de": 1.0}, "k", default_rate=1.0,
            method=method,
        )
        assert kept.count() == 5, method
    # determinism: the null-key rows get ONE digest — at any rate they are
    # all-kept or all-dropped together, and reruns agree
    a = {tuple(r) for r in deterministic_sample(df, 0.5, "k").collect()}
    b = {tuple(r) for r in deterministic_sample(df, 0.5, "k").collect()}
    assert a == b
    null_rows = [r for r in a if r[0] is None]
    assert len(null_rows) in (0, 2)


def test_temperature_rates_closed_form():
    """Output class mass after subsampling at rate r_c = p^(τ-1)/max must
    be ∝ p^τ; τ=1 is identity; τ≤0 raises; bounds stay cross-engine-safe
    (no rate·16^5 within 1e-4 of an integer on the test corpora)."""
    import pytest

    from capelinker_spark.operators.mixing import temperature_rates

    counts = {"en": 800, "de": 150, "zh": 50}
    total = sum(counts.values())
    for tau in (0.3, 0.5, 0.7, 2.0):
        rates = temperature_rates(counts, tau)
        assert max(rates.values()) == 1.0
        # n_c * r_c ∝ p_c^τ
        masses = {c: counts[c] * rates[c] for c in counts}
        ref = {c: (counts[c] / total) ** tau for c in counts}
        k = masses["en"] / ref["en"]
        for c in counts:
            assert abs(masses[c] - k * ref[c]) < 1e-9 * k, (tau, c)
        if tau < 1:
            assert rates["zh"] == 1.0  # rarest keeps everything
        if tau > 1:
            assert rates["en"] == 1.0  # sharpening keeps the biggest
    assert temperature_rates(counts, 1.0) == {c: 1.0 for c in counts}
    with pytest.raises(ValueError):
        temperature_rates(counts, 0.0)


def test_temperature_bounds_cross_engine_guard():
    """The dm4 oracle recomputes rates with DuckDB pow; a CPython-vs-DuckDB
    ulp difference only matters when rate*16^5 sits on an integer
    boundary. Guard: for the real per-sf lang counts, every non-1.0
    rate's bound integer is ≥1e-4 away from a boundary AND the
    DuckDB-side printf reproduces the Python hex bound exactly."""
    import duckdb

    from capelinker_spark.operators.mixing import _md5_bound, temperature_rates

    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01"):
        counts = dict(
            con.sql(
                f"select lang, count(*) from read_parquet('/root/testdata/{sf}/documents.parquet') group by 1"
            ).fetchall()
        )
        rates = temperature_rates(counts, 0.5)
        for c, r in rates.items():
            x = r * 16**5
            if r < 1.0:
                assert min(x - int(x), 1 - (x - int(x))) > 1e-4, (sf, c, x)
            py_bound = _md5_bound(r)
            duck_bound = con.sql(
                "select CASE WHEN $r >= 1.0 THEN 'g' ELSE printf('%05x', CAST(floor($r * 1048576) AS BIGINT)) END",
                params={"r": r},
            ).fetchone()[0]
            assert py_bound == duck_bound, (sf, c, py_bound, duck_bound)


def test_temperature_mix_flattens(spark):
    from pyspark.sql import functions as F

    from capelinker_spark.operators.mixing import temperature_mix

    rows = [(i, "en" if i < 800 else ("de" if i < 950 else "zh"))
            for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, lang string")
    out = temperature_mix(df, "lang", "k", temperature=0.5)
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got["zh"] == 50                     # rarest: rate 1.0, all kept
    assert got["en"] < 800 and got["de"] < 150  # others subsampled
    # flattening: output en/zh ratio must shrink toward sqrt of input ratio
    assert got["en"] / got["zh"] < 0.35 * (800 / 50)


def test_temperature_mix_null_class_rows_kept(spark):
    """NULL-class rows take default_rate 1.0 (kept whole) and are EXCLUDED
    from the rate denominator — the dm4 oracle mirrors both (review
    finding r4: an inner join there silently dropped NULL-class rows and
    skewed every p_c)."""
    rows = [(i, "en" if i % 2 else None) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, lang string")
    from capelinker_spark.operators.mixing import temperature_mix

    out = temperature_mix(df, "lang", "k", temperature=0.5)
    got = {r["k"] for r in out.collect()}
    # every NULL-lang row survives; 'en' is the only counted class so its
    # rate is 1.0 too -> the whole frame survives
    assert got == {i for i in range(200)}


def test_token_budget_rates_math():
    """Token-budget mixture: rate = budget·w/Σw / T capped at 1;
    waterfilling re-spreads a capped class's unfilled share over the
    uncapped classes; zero-count classes keep 1.0; degenerate budgets
    raise."""
    import pytest

    from capelinker_spark.operators.mixing import token_budget_rates

    assert token_budget_rates(
        {"en": 1000, "de": 1000}, {"en": 0.75, "de": 0.25}, 800
    ) == {"en": 0.6, "de": 0.2}
    # de can only supply 100 of its 600-token share; waterfill hands the
    # surplus to en: (1000-100)*1.0/10000 = 0.09
    assert token_budget_rates(
        {"en": 10_000, "de": 100}, {"en": 0.4, "de": 0.6}, 1000
    ) == {"de": 1.0, "en": 0.09}
    # the SQL-mirrorable tier: plain capped formula, no redistribution
    assert token_budget_rates(
        {"en": 10_000, "de": 100}, {"en": 0.4, "de": 0.6}, 1000,
        redistribute=False,
    ) == {"en": 0.04, "de": 1.0}
    assert token_budget_rates(
        {"en": 10, "de": 10}, {"en": 0.5, "de": 0.5}, 1000
    ) == {"en": 1.0, "de": 1.0}
    assert token_budget_rates({"en": 100}, {"en": 1.0, "xx": 0.5}, 50) == {
        "xx": 1.0, "en": 0.5,
    }
    with pytest.raises(ValueError, match="budget"):
        token_budget_rates({"en": 1}, {"en": 1.0}, 0)


def test_token_budget_mix_hits_budget(spark):
    """e2e: the kept corpus's per-class token mass lands near
    budget·weight (md5-uniform sampling over many docs)."""
    from pyspark.sql import functions as F

    from capelinker_spark.operators.mixing import token_budget_mix

    df = spark.range(8000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 4 == 0, "de").otherwise("en").alias("lang"),
        (F.pmod(F.xxhash64("id"), F.lit(20)) + 10).alias("n_tokens"),
    )
    totals = {r["lang"]: r["t"] for r in
              df.groupBy("lang").agg(F.sum("n_tokens").alias("t")).collect()}
    budget = 30_000
    out = token_budget_mix(
        df, "lang", "doc_id", "n_tokens",
        weights={"en": 0.5, "de": 0.5}, budget=budget,
    )
    got = {r["lang"]: r["t"] for r in
           out.groupBy("lang").agg(F.sum("n_tokens").alias("t")).collect()}
    for lang in ("en", "de"):
        want = min(budget * 0.5, totals[lang])
        assert abs(got[lang] - want) / want < 0.1, (lang, got[lang], want)


class TestWeightedSampleTopk:
    def _docs(self, spark):
        rows = [(i, 100.0 if i < 10 else 1.0) for i in range(110)]
        return spark.createDataFrame(rows, "doc_id long, w double")

    def test_heavy_weights_dominate_and_deterministic(self, spark):
        from capelinker_spark.operators.mixing import weighted_sample_topk

        d = self._docs(spark)
        got1 = {r.doc_id for r in
                weighted_sample_topk(d, "w", 10, "doc_id", seed="a").collect()}
        got2 = {r.doc_id for r in
                weighted_sample_topk(d, "w", 10, "doc_id", seed="a").collect()}
        assert got1 == got2  # rerun-stable
        # 10 docs carry 100x the weight of the other 100: expect most
        # of the k=10 slots to go to them (P[majority] is overwhelming)
        heavy = sum(1 for i in got1 if i < 10)
        assert heavy >= 6
        # a different seed draws a different sample
        got3 = {r.doc_id for r in
                weighted_sample_topk(d, "w", 10, "doc_id", seed="b").collect()}
        assert got3 != got1

    def test_nonpositive_and_null_weights_excluded(self, spark):
        from capelinker_spark.operators.mixing import weighted_sample_topk

        d = spark.createDataFrame(
            [(1, 5.0), (2, 0.0), (3, -1.0), (4, None), (5, 2.0)],
            "doc_id long, w double",
        )
        got = {r.doc_id for r in
               weighted_sample_topk(d, "w", 10, "doc_id").collect()}
        assert got == {1, 5}

    def test_stratified_per_group(self, spark):
        from capelinker_spark.operators.mixing import weighted_sample_topk

        d = spark.createDataFrame(
            [(i, float(i % 7 + 1), "g%d" % (i % 3)) for i in range(60)],
            "doc_id long, w double, grp string",
        )
        out = weighted_sample_topk(
            d, "w", 5, "doc_id", group_col="grp"
        ).groupBy("grp").count().collect()
        assert {r.grp: r["count"] for r in out} == {
            "g0": 5, "g1": 5, "g2": 5
        }

    def test_global_topk_no_single_partition_exchange(self, spark):
        from capelinker_spark.operators.mixing import weighted_sample_topk

        d = self._docs(spark).repartition(4)
        plan = (
            weighted_sample_topk(d, "w", 10, "doc_id", method="xxhash64")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "TakeOrderedAndProject" in plan
        assert "Exchange SinglePartition" not in plan


def test_weighted_sample_xxhash_seed_is_process_stable(spark):
    """The xxhash64 tier's seed must not depend on Python's per-process
    string hashing — assert against the pinned crc32 derivation."""
    import zlib

    from capelinker_spark.operators.mixing import weighted_sample_topk

    d = spark.createDataFrame(
        [(i, 1.0) for i in range(50)], "doc_id long, w double"
    )
    got = [r.doc_id for r in
           weighted_sample_topk(d, "w", 5, "doc_id", seed="s",
                                method="xxhash64").collect()]
    # recompute expected with the documented derivation
    from pyspark.sql import functions as F
    seed_int = zlib.crc32(b"s")
    h = F.pmod(F.xxhash64(F.col("doc_id").cast("string"),
                          F.lit(seed_int)), F.lit(1 << 40))
    u = (h + 1).cast("double") / F.lit(float(1 << 40))
    kq = F.log(u) / F.col("w")
    want = [r.doc_id for r in
            d.withColumn("_p", kq).orderBy(F.col("_p").desc(),
                                           F.col("doc_id").asc())
             .limit(5).collect()]
    assert got == want


def test_weighted_sample_tiny_weights_not_degenerate(spark):
    """Review regression: w ~ 1e-12 (normalized importance scores) must
    keep weight-proportional selection — the old LONG quantization
    overflowed int64 (md5 tier crashed in Arrow, xxhash tier saturated
    every priority to one value)."""
    from capelinker_spark.operators.mixing import weighted_sample_topk

    rows = [(i, 1e-10 if i < 5 else 1e-12) for i in range(105)]
    d = spark.createDataFrame(rows, "doc_id long, w double")
    for method in ("md5", "xxhash64"):
        out = weighted_sample_topk(d, "w", 5, "doc_id", seed="t",
                                   method=method)
        got = [r.doc_id for r in out.collect()]
        # priorities must be distinct (no saturation plateau)
        prios = [r._prio for r in out.collect()]
        assert len(set(prios)) == 5, method
        # the 100x-heavier docs should take most slots
        assert sum(1 for i in got if i < 5) >= 3, method
