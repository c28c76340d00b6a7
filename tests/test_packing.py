"""Sequence packing: exact prefix-sum assignment, boundary convention,
parallel plan (no single-task window)."""

from __future__ import annotations

from pyspark.sql import functions as F

from capelinker_spark.operators.packing import assign_packed_sequences


def test_packing_matches_bruteforce(spark, tmp_path):
    counts = [50, 100, 30, 128, 1, 0, 200, 64, 64, 9]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(counts)], "doc_id long, n_tokens long"
    ).repartition(5)  # deliberately scrambled input layout

    def packed(**kw):
        return {
            r["doc_id"]: (r["seq_offset"], r["seq_id"])
            for r in assign_packed_sequences(
                df, "n_tokens", "doc_id", 128, **kw
            ).collect()
        }

    got = packed()
    # the reliable-checkpoint path packs identically
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    assert packed(reliable_checkpoint=True) == got
    off = 0
    for i, c in enumerate(counts):
        assert got[i] == (off, off // 128), (i, got[i], off)
        off += c
    # boundary convention: doc 1 starts at offset 50 → window 0 even though
    # it straddles into window 1; doc 3 starts at 180 → window 1
    assert got[1][1] == 0 and got[3][1] == 1


def test_packing_plan_is_parallel(spark):
    df = spark.range(5_000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97 + 1).alias("n_tokens")
    )
    out = assign_packed_sequences(df, "n_tokens", "doc_id", 512)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    # and the ids are a contiguous range starting at 0
    agg = out.agg(
        F.min("seq_id").alias("lo"),
        F.max("seq_id").alias("hi"),
        F.countDistinct("seq_id").alias("n"),
    ).collect()[0]
    assert agg["lo"] == 0 and agg["n"] == agg["hi"] + 1


def test_curate_corpus_composition(spark):
    """The four-stage curation flow end-to-end on a hand-built corpus:
    exact dups collapse, short and low-alpha docs drop, language rates
    apply, survivors pack contiguously in id order."""
    from capelinker_spark.curation import curate_corpus

    good = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, good, "en"),
        (1, good, "en"),                      # exact dup of 0 → dropped
        (2, "too short", "en"),                # < 10 tokens → dropped
        (3, "1 2 3 4 5 6 7 8 9 10 11 12", "en"),  # low alpha → dropped
        (4, good + " with more words", "de"),
        (5, good + " and a different tail here", "de"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = curate_corpus(df, min_tokens=10, min_alpha_ratio=0.5,
                        lang_rates=None, tokens_per_seq=16)
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == {0, 4, 5}  # dup/short/low-alpha all gone
    # packing: contiguous offsets in doc_id order
    off = 0
    for i in sorted(got):
        assert got[i]["seq_offset"] == off
        assert got[i]["seq_id"] == off // 16
        off += got[i]["n_tokens"]
    # language mixing drops deterministically when rates are set
    n_en_full = sum(1 for i in got if got[i]["lang"] == "en")
    out2 = curate_corpus(df, min_tokens=10, min_alpha_ratio=0.5,
                         lang_rates={"en": 0.0}, tokens_per_seq=16)
    langs2 = {r["lang"] for r in out2.collect()}
    assert "en" not in langs2 and "de" in langs2 and n_en_full == 1


def test_null_counts_pack_as_zero(spark):
    """Round-4 fix: NULL count_col no longer propagates NULL into
    _start/seq_id or shifts later offsets (SUM skips NULLs) — a NULL-count
    doc occupies zero tokens at its position and every offset matches the
    same frame with the NULL replaced by literal 0."""
    from pyspark.sql import functions as F

    from capelinker_spark.operators.packing import assign_packed_sequences

    rows = [(0, 60), (1, None), (2, 50), (3, 40), (4, None), (5, 70)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    got = {
        r["doc_id"]: (r["seq_offset"], r["seq_id"])
        for r in assign_packed_sequences(df, "n", "doc_id", 128).collect()
    }
    want_df = df.withColumn("n", F.coalesce("n", F.lit(0)))
    want = {
        r["doc_id"]: (r["seq_offset"], r["seq_id"])
        for r in assign_packed_sequences(want_df, "n", "doc_id", 128).collect()
    }
    assert got == want
    assert got[1] == (60, 0) and got[4] == (150, 1)
    assert got[5] == (150, 1)


def test_curate_corpus_injected_token_counter(spark):
    """The token_counter seam: BPE-ish counts change BOTH the min_tokens
    gate and the packing budget. 'a-b c-d e-f g-h i-j' is 5 ws tokens
    (fails min_tokens=10 under ws) but 15 BPE-ish tokens (passes); offsets
    accumulate in the chosen unit."""
    from pyspark.sql import functions as F

    from capelinker_spark.curation import curate_corpus
    from capelinker_spark.operators.textstats import token_count_bpe

    hyphens = "a-b c-d e-f g-h i-j"          # 5 ws / 15 bpe tokens
    plain = "one two three four five six seven eight nine ten"  # 10 ws / 10 bpe
    df = spark.createDataFrame(
        [(0, hyphens, "en"), (1, plain, "en")], "doc_id long, text string, lang string"
    )
    ws = curate_corpus(df, min_tokens=10, min_alpha_ratio=0.5,
                       lang_rates=None, tokens_per_seq=16)
    assert {r["doc_id"] for r in ws.collect()} == {1}
    bpe = curate_corpus(df, min_tokens=10, min_alpha_ratio=0.5,
                        lang_rates=None, tokens_per_seq=16,
                        token_counter=token_count_bpe)
    got = {r["doc_id"]: (r["n_tokens"], r["seq_offset"], r["seq_id"])
           for r in bpe.collect()}
    assert got == {0: (15, 0, 0), 1: (10, 15, 0)}


def test_curation_pipeline_kill_and_resume(spark, tmp_path):
    """CurationPipeline on the shared StageRunner machinery: a killed run
    resumes from completed checkpoints; a late-stage config change
    recomputes ONLY downstream stages; an early-stage change invalidates
    everything (manifest chain, not _SUCCESS, decides)."""
    import os

    from pyspark.sql import functions as F

    from capelinker_spark.curation import CurationConfig, CurationPipeline

    good = "the quick brown fox jumps over the lazy dog again and again"
    rows = []
    for i in range(60):
        rows.append((i, f"{good} variant {i}.\nshort.\n{good} tail {i} end!",
                     "en" if i % 3 else "de"))
    rows += [(100 + i, rows[i][1], rows[i][2]) for i in range(10)]  # dups
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    wd = str(tmp_path / "cur_wd")
    cfg = CurationConfig(use_line_filter=True, tokens_per_seq=64,
                         token_unit="bpe", min_quality_prob=0.0)
    res1 = CurationPipeline(spark, wd, cfg).run(docs)
    packed1 = {(r["doc_id"], r["seq_offset"], r["seq_id"])
               for r in res1["packed"].collect()}
    assert res1["deduped"].count() == 60          # 10 planted dups removed
    assert 0 < res1["packed"].count() <= 60

    # resume: all stages reused — stage mtimes unchanged
    mt = {s: os.path.getmtime(os.path.join(wd, s, "_manifest.json"))
          for s in ("cleaned", "deduped", "scored", "mixed", "packed")}
    res2 = CurationPipeline(spark, wd, cfg).run(docs)
    for s, t in mt.items():
        assert os.path.getmtime(os.path.join(wd, s, "_manifest.json")) == t, s
    assert {(r["doc_id"], r["seq_offset"], r["seq_id"])
            for r in res2["packed"].collect()} == packed1

    # late-stage change (packing cap): only 'packed' recomputes
    cfg2 = CurationConfig(use_line_filter=True, tokens_per_seq=32,
                          token_unit="bpe", min_quality_prob=0.0)
    CurationPipeline(spark, wd, cfg2).run(docs)
    for s in ("cleaned", "deduped", "scored", "mixed"):
        assert os.path.getmtime(os.path.join(wd, s, "_manifest.json")) == mt[s], s
    assert os.path.getmtime(os.path.join(wd, "packed", "_manifest.json")) > mt["packed"]

    # early-stage change (line rule): everything recomputes
    cfg3 = CurationConfig(use_line_filter=True, line_min_words=3,
                          tokens_per_seq=32, token_unit="bpe")
    CurationPipeline(spark, wd, cfg3).run(docs)
    for s in ("cleaned", "deduped", "scored", "mixed", "packed"):
        assert os.path.getmtime(os.path.join(wd, s, "_manifest.json")) > mt[s], s

    # lineage rows exist for every stage; the scored stage carries the
    # quality-probability histogram
    import json as _json

    with open(os.path.join(wd, "_lineage.jsonl")) as fh:
        entries = [_json.loads(l) for l in fh if l.strip()]
    stages = {e["stage"] for e in entries}
    assert {"cleaned", "deduped", "scored", "mixed", "packed"} <= stages
    assert any(
        e["stage"] == "scored" and e.get("score_histogram") for e in entries
    )

    # the observed write: each stage's manifest and last lineage row count
    # what a fresh read counts; the scored histogram equals a groupBy over
    # quality_prob; the mixed key metrics hold one pair_count per language
    last = {e["stage"]: e for e in entries}
    for s in ("cleaned", "deduped", "scored", "mixed", "packed"):
        with open(os.path.join(wd, s, "_manifest.json")) as fh:
            n = _json.load(fh)["row_count"]
        assert n == last[s]["row_count"] == spark.read.parquet(
            os.path.join(wd, s)).count(), s
    scored = spark.read.parquet(os.path.join(wd, "scored"))
    q = F.col("quality_prob")
    bucket = F.least(F.floor(q * 10).cast("int"), F.lit(9))
    ref = scored.where(q.isNotNull()).groupBy(bucket.alias("bucket")).count()
    assert last["scored"]["score_histogram"] == [
        {"bucket": r["bucket"], "count": r["count"]}
        for r in ref.orderBy("bucket").collect()
    ]
    km = spark.read.parquet(os.path.join(wd, "_lineage", "mixed"))
    mixed = spark.read.parquet(os.path.join(wd, "mixed"))
    assert sorted(map(tuple, km.collect())) == sorted(
        map(tuple, mixed.groupBy("lang").count().collect()))


def test_curation_hash_covers_lang_col_and_dict_order(spark, tmp_path):
    """Pass-2 review findings: renaming lang_col must invalidate every
    checkpoint (it used to resume stale data silently), while reordering
    a lang_rates dict literal must NOT (semantically equal configs share
    a hash)."""
    from capelinker_spark.curation import CurationConfig, CurationPipeline

    wd = str(tmp_path / "wd")
    p = CurationPipeline(spark, wd, CurationConfig(lang_rates={"en": 0.5, "de": 0.2}))
    h_mixed = p._stage_hash("mixed")
    h_cleaned = p._stage_hash("cleaned")

    p2 = CurationPipeline(spark, wd, CurationConfig(lang_rates={"de": 0.2, "en": 0.5}))
    assert p2._stage_hash("mixed") == h_mixed        # dict order irrelevant

    p3 = CurationPipeline(spark, wd, CurationConfig(
        lang_rates={"en": 0.5, "de": 0.2}, lang_col="language"))
    assert p3._stage_hash("cleaned") != h_cleaned    # chain invalidated
    assert p3._stage_hash("mixed") != h_mixed


def test_curation_per_domain_policies(spark, tmp_path):
    """Per-domain curation (round-4 verdict item 8): with url_col set, a
    registrable-domain column rides every stage and the mixed stage
    applies per-domain quality thresholds / keep rates; editing ONE
    domain's policy recomputes mixed+packed only (StageRunner chain),
    while upstream dedup/scoring checkpoints are reused."""
    import os

    from capelinker_spark.curation import CurationConfig, CurationPipeline

    good = "the quick brown fox jumps over the lazy dog again and again"
    rows = []
    for i in range(60):
        dom = ["good.org", "spammy.net", "mid.com"][i % 3]
        rows.append(
            (i, f"{good} variant {i} end.", "en",
             f"https://www.{dom}/p/{i}")
        )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, url string"
    )

    wd = str(tmp_path / "wd")
    policies = {"spammy.net": {"min_quality_prob": 1.1},   # drop all
                "mid.com": {"rate": 0.5}}
    cfg = CurationConfig(url_col="url", domain_policies=policies,
                         min_quality_prob=0.0, tokens_per_seq=64)
    res = CurationPipeline(spark, wd, cfg).run(docs)
    mixed = res["mixed"].collect()
    by_dom = {}
    for r in mixed:
        by_dom.setdefault(r["domain"], []).append(r["doc_id"])
    assert "spammy.net" not in by_dom                 # threshold 1.1 drops all
    assert len(by_dom["good.org"]) == 20              # default keeps all
    assert 0 < len(by_dom.get("mid.com", [])) < 20    # rate 0.5 samples

    # edit one domain's policy: mixed+packed recompute, upstream reused
    # (no 'cleaned' dir: use_line_filter=False skips that checkpoint)
    mt = {s: os.path.getmtime(os.path.join(wd, s, "_manifest.json"))
          for s in ("deduped", "scored", "mixed", "packed")}
    policies2 = {"spammy.net": {"min_quality_prob": 0.0},
                 "mid.com": {"rate": 0.5}}
    cfg2 = CurationConfig(url_col="url", domain_policies=policies2,
                          min_quality_prob=0.0, tokens_per_seq=64)
    res2 = CurationPipeline(spark, wd, cfg2).run(docs)
    for s in ("deduped", "scored"):
        assert os.path.getmtime(os.path.join(wd, s, "_manifest.json")) == mt[s], s
    for s in ("mixed", "packed"):
        assert os.path.getmtime(os.path.join(wd, s, "_manifest.json")) > mt[s], s
    assert any(r["domain"] == "spammy.net" for r in res2["mixed"].collect())

    # domain_policies without url_col is a config error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="url_col"):
        CurationPipeline(spark, str(tmp_path / "wd2"),
                         CurationConfig(domain_policies=policies))


def test_domain_policy_can_relax_global_quality_gate(spark, tmp_path):
    """Round-5 review finding 1: with domain_policies configured, the
    policy OWNS the quality gate — a per-domain threshold BELOW the
    global min_quality_prob must actually keep low-quality docs from that
    domain (the old order applied the global filter first, making
    relaxation unreachable). Non-overridden domains still get the global
    default."""
    from capelinker_spark.curation import CurationConfig, CurationPipeline

    # letters present (alpha gate passes) but digit-heavy → low quality
    junk = "zq wx 123 456 789 000 111 222 333 444"
    rows = [
        (i, junk + f" {i}", "en", f"https://allow.org/{i}") for i in range(10)
    ] + [
        (100 + i, junk + f" x{i}", "en", f"https://strict.com/{i}")
        for i in range(10)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, url string"
    )
    cfg = CurationConfig(
        url_col="url",
        domain_policies={"allow.org": {"min_quality_prob": 0.0}},
        min_quality_prob=0.99, min_tokens=1, min_alpha_ratio=0.0,
    )
    res = CurationPipeline(spark, str(tmp_path / "wd"), cfg).run(docs)
    doms = {r["domain"] for r in res["mixed"].collect()}
    assert doms == {"allow.org"}    # relaxed domain kept, strict dropped


def test_domain_gate_decorrelated_from_lang_gate(spark):
    """Round-5 review finding 2: the domain gate's md5 digest uses seed
    'dom', distinct from the lang-mixing gates' '' — composing a 0.5
    domain rate with a 0.5 lang rate must keep ≈25% (independent), not
    50% (identical digests would make the second gate a no-op)."""
    from capelinker_spark.curation import apply_domain_policies
    from capelinker_spark.operators.mixing import sample_to_rates

    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.lit("a.com").alias("domain"),
        F.lit("en").alias("lang"),
        F.lit(1.0).alias("quality_prob"),
    )
    domained = apply_domain_policies(df, {"a.com": {"rate": 0.5}})
    both = sample_to_rates(domained, "lang", {"en": 0.5}, "doc_id")
    n = both.count()
    assert 800 < n < 1200, n   # ≈1000 of 4000; perfectly correlated → ≈2000


def test_curation_rewrite_stages_and_invalidation(spark, tmp_path):
    """Span/paragraph dedup as checkpointed CurationPipeline stages
    (round-5 verdict item 5): with dedup_paragraphs + span_dedup_n set,
    the rewrite tiers run AFTER the exact dedup (doc identity collapses
    keep-one first; remove-every-copy boilerplate stripping follows),
    each with its own stage dir; editing span_dedup_n recomputes
    span_deduped + downstream while deduped/para_deduped resume; the
    boilerplate paragraph is gone from every survivor's text."""
    import os

    from pyspark.sql import functions as F

    from capelinker_spark.curation import CurationConfig, CurationPipeline

    boiler = "subscribe to our newsletter for updates every single day"
    good = "the quick brown fox jumps over the lazy dog again and again"
    rows = []
    for i in range(40):
        # every doc carries the same boilerplate paragraph; unique tail
        rows.append(
            (i, f"{good} variant {i} with plenty of unique words here.\n\n"
                f"{boiler}.\n\n{good} closing thoughts number {i} end!",
             "en" if i % 3 else "de")
        )
    # exact clones: with dedup FIRST, one copy survives and keeps its
    # unique body (the reversed order would strip both copies to empty)
    rows += [(1000 + i, rows[i][1], rows[i][2]) for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    wd = str(tmp_path / "cur_rw")
    cfg = CurationConfig(dedup_paragraphs=True, span_dedup_n=8,
                         tokens_per_seq=64, min_quality_prob=0.0)
    res = CurationPipeline(spark, wd, cfg).run(docs)
    assert "para_deduped" in res and "span_deduped" in res
    for s in ("para_deduped", "span_deduped"):
        assert os.path.exists(os.path.join(wd, s, "_manifest.json")), s

    # the shared paragraph is stripped from every surviving doc; the
    # unique closing line survives paragraph dedup
    texts = {r["doc_id"]: r["text"] for r in res["para_deduped"].collect()}
    assert texts and all(boiler not in t for t in texts.values())
    assert all("closing thoughts" in t for t in texts.values())
    # clone pairs collapsed keep-one BEFORE stripping: min-id copy kept,
    # its unique body intact
    assert set(texts) == set(range(40))
    # lang rides the rewrite stages (passthrough, no rejoin)
    assert set(res["span_deduped"].columns) == {"doc_id", "text", "lang"}

    # editing the span n: deduped/para resume, span+downstream rerun
    mt = {s: os.path.getmtime(os.path.join(wd, s, "_manifest.json"))
          for s in ("deduped", "para_deduped", "span_deduped", "packed")}
    cfg2 = CurationConfig(dedup_paragraphs=True, span_dedup_n=4,
                          tokens_per_seq=64, min_quality_prob=0.0)
    CurationPipeline(spark, wd, cfg2).run(docs)
    for s in ("deduped", "para_deduped"):
        assert os.path.getmtime(
            os.path.join(wd, s, "_manifest.json")) == mt[s], s
    for s in ("span_deduped", "packed"):
        assert os.path.getmtime(
            os.path.join(wd, s, "_manifest.json")) > mt[s], s

    # toggling paragraph dedup off invalidates downstream (chain hash
    # covers the toggle even though the stage itself no longer runs)
    cfg3 = CurationConfig(dedup_paragraphs=False, span_dedup_n=4,
                          tokens_per_seq=64, min_quality_prob=0.0)
    res3 = CurationPipeline(spark, wd, cfg3).run(docs)
    assert "para_deduped" not in res3
    texts3 = {r["doc_id"]: r["text"] for r in res3["span_deduped"].collect()}
    # without the paragraph tier, span dedup does the boilerplate removal
    assert all(boiler not in t for t in texts3.values())


def test_domain_rollup_semantics_and_plan(spark):
    from capelinker_spark.curation import domain_rollup

    df = spark.createDataFrame(
        [
            ("a.com", "hello", 0.9),
            ("a.com", "hi", 0.3),
            ("a.com", None, 0.123456),   # NULL text → 0 chars
            ("b.org", "xyz", 0.5),       # boundary: not < 0.5
            (None, "nn", 0.2),           # non-URL rows group under NULL
        ],
        "domain string, text string, quality_prob double",
    )
    out = {
        r["domain"]: (
            r["n_docs"],
            r["total_chars"],
            r["n_low_quality"],
            r["mean_quality"],
        )
        for r in domain_rollup(df).collect()
    }
    assert out == {
        "a.com": (3, 7, 2, (900000 + 300000 + 123456) / 3e6),
        "b.org": (1, 3, 0, 0.5),
        None: (1, 2, 1, 0.2),
    }
    plan = (
        domain_rollup(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one hash aggregation pair around one exchange; no join, no Python
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan and "BatchEvalPython" not in plan
