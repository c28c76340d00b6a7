"""Golden end-to-end test: synthetic corpus → linkage pipeline → pairwise F1
≥ 0.99 on labeled pairs under the same blocking key (BASELINE.json metric),
plus blocking recall, checkpoint/resume equivalence, and zero-per-row-Python
audit."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from capelinker_spark.pipeline import LinkagePipeline, PipelineConfig


def _pair_sets(result, truth):
    """(predicted pair set, true pair set restricted to candidate-visible
    pairs under the blocking key)."""
    t_from = truth.select(F.col("persid").alias("persid_from"), F.col("entity_id").alias("_ef"))
    t_to = truth.select(F.col("persid").alias("persid_to"), F.col("entity_id").alias("_et"))
    visible = (
        result["candidates"]
        .where(F.col("persid_to").isNotNull())
        .join(t_from, "persid_from")
        .join(t_to, "persid_to")
    )
    true_pairs = {
        (r["persid_from"], r["persid_to"])
        for r in visible.where(F.col("_ef") == F.col("_et"))
        .select("persid_from", "persid_to")
        .collect()
    }
    pred_pairs = {
        (r["persid_from"], r["persid_to"])
        for r in result["links"].select("persid_from", "persid_to").collect()
    }
    return pred_pairs, true_pairs


def pairwise_f1(pred: set, true: set) -> float:
    tp = len(pred & true)
    if not pred or not true or not tp:
        return 0.0
    p = tp / len(pred)
    r = tp / len(true)
    return 2 * p * r / (p + r)


@pytest.fixture(scope="module")
def workdir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("pipeline"))


@pytest.fixture(scope="module")
def result(spark, pages, truth, workdir):
    pipe = LinkagePipeline(spark, workdir, PipelineConfig())
    return pipe.run(pages, truth, resume=False)


def test_blocking_recall(result, truth):
    """Every ground-truth 1826↔1828 pair whose soundex keys agree must be a
    candidate; overall recall of soundex blocking on the noisy corpus ≥ 0.7
    (edits can change the code — that loss is the blocking tradeoff)."""
    t = truth
    gt = (
        t.alias("a")
        .join(t.alias("b"), F.col("a.entity_id") == F.col("b.entity_id"))
        .where((F.col("a.year") == 1828) & (F.col("b.year") == 1826))
        .select(
            F.col("a.persid").alias("pf"), F.col("b.persid").alias("pt")
        )
    )
    n_gt = gt.count()
    cand = result["candidates"].select(
        F.col("persid_from").alias("pf"), F.col("persid_to").alias("pt")
    )
    n_hit = gt.join(cand, ["pf", "pt"]).count()
    assert n_gt > 100
    assert n_hit / n_gt >= 0.85, f"blocking recall {n_hit}/{n_gt}"


def test_pairwise_f1_gate(result, truth):
    pred, true = _pair_sets(result, truth)
    f1 = pairwise_f1(pred, true)
    assert len(true) > 100
    assert f1 >= 0.99, f"pairwise F1 {f1:.4f} (|pred|={len(pred)}, |true|={len(true)})"


def test_training_and_links_independent_of_partitioning(
    spark, pages, truth, result, workdir, tmp_path
):
    """Shuffle partitions 3 and 8 train bit-identical weights and select
    identical links: the training rows reach the driver in shuffle-fetch
    order, which must not leak into the weights. The 8-partition side is
    the module's run (the session default), read before any later test
    rewrites its workdir."""
    import json

    def model_and_links(wd, res):
        with open(f"{wd}/model.json") as fh:
            model = json.load(fh)
        links = res["links"].select("persid_from", "persid_to", "predicted")
        return model, sorted(tuple(r) for r in links.collect())

    key = "spark.sql.shuffle.partitions"
    assert spark.conf.get(key) == "8"
    at8 = model_and_links(workdir, result)
    spark.conf.set(key, "3")
    try:
        wd = str(tmp_path / "parts3")
        res3 = LinkagePipeline(spark, wd, PipelineConfig()).run(
            pages, truth, resume=False
        )
        at3 = model_and_links(wd, res3)
    finally:
        spark.conf.set(key, "8")
    assert at3[0] == at8[0]
    assert at3[1] == at8[1]


def test_clusters_cover_all_records(result):
    n_records = result["records"].count()
    clusters = result["clusters"]
    assert clusters.count() == n_records
    assert clusters.where(F.col("entity_id").isNull()).count() == 0


def test_lineage_written(workdir):
    from capelinker_spark.qa.lineage import LineageLog

    entries = LineageLog(workdir).entries()
    stages = [e["stage"] for e in entries]
    for s in ("records", "candidates", "features", "scores", "links", "clusters"):
        assert s in stages
    score_stage = next(e for e in stages if e == "scores")
    assert score_stage is not None
    scores_entry = next(e for e in entries if e["stage"] == "scores")
    assert scores_entry["row_count"] > 0
    assert len(scores_entry.get("score_histogram", [])) > 0


def _histogram_reference(df, score_col):
    """The decile histogram by a groupBy, as the lineage row lists it."""
    bucket = F.least(F.floor(F.col(score_col) * 10).cast("int"), F.lit(9))
    rows = (
        df.where(F.col(score_col).isNotNull())
        .groupBy(bucket.alias("bucket")).count().orderBy("bucket").collect()
    )
    return [{"bucket": r["bucket"], "count": r["count"]} for r in rows]


def test_observed_counts_match_the_checkpoints(spark, workdir, result):
    """Every stage's manifest ``row_count`` (taken off the observed write)
    equals a fresh count of its parquet, and the scored stages' lineage
    histograms equal a groupBy over the written scores."""
    import json
    import os

    stages = [d for d in sorted(os.listdir(workdir))
              if os.path.exists(f"{workdir}/{d}/_manifest.json")]
    assert {"records", "candidates", "features", "scores", "links",
            "clusters"} <= set(stages)
    for stage in stages:
        with open(f"{workdir}/{stage}/_manifest.json") as fh:
            m = json.load(fh)
        assert m["row_count"] == spark.read.parquet(f"{workdir}/{stage}").count(), stage
    last = {e["stage"]: e for e in LineagePath(workdir).entries()}
    for stage in ("scores", "links"):
        got = last[stage]["score_histogram"]
        assert got and got == _histogram_reference(
            spark.read.parquet(f"{workdir}/{stage}"), "predicted"
        ), stage


def test_manifest_schema_equals_inferred_read(spark, workdir, result):
    """The manifest schema (taken from the stage re-read, which is given
    the frame's schema) equals a fresh schema-inferring read of the
    stage's parquet, for every stage — the comparison ``_done`` makes."""
    import json
    import os

    stages = [d for d in sorted(os.listdir(workdir))
              if os.path.exists(f"{workdir}/{d}/_manifest.json")]
    assert {"records", "candidates", "features", "scores", "links",
            "clusters"} <= set(stages)
    for stage in stages:
        with open(f"{workdir}/{stage}/_manifest.json") as fh:
            m = json.load(fh)
        fresh = spark.read.parquet(f"{workdir}/{stage}").schema.jsonValue()
        assert m["schema"] == fresh, stage


def test_kill_and_resume(spark, pages, truth, workdir, result):
    """Simulate a mid-run failure: delete the outputs of the last three
    stages, rerun with resume=True — identical final clusters, and the
    completed early stages are NOT recomputed (their lineage count stays)."""
    before = {
        (r["persid"], r["entity_id"])
        for r in result["clusters"].select("persid", "entity_id").collect()
    }
    n_lineage_before = len(LineagePath(workdir).entries())
    for stage in ("scores", "links", "clusters"):
        shutil.rmtree(f"{workdir}/{stage}", ignore_errors=True)
    pipe = LinkagePipeline(spark, workdir, PipelineConfig())
    res2 = pipe.run(pages, truth, resume=True)
    after = {
        (r["persid"], r["entity_id"])
        for r in res2["clusters"].select("persid", "entity_id").collect()
    }
    assert after == before
    entries = LineagePath(workdir).entries()
    recomputed = [e["stage"] for e in entries[n_lineage_before:]]
    assert set(recomputed) == {"scores", "links", "clusters"}


def test_resume_invalidates_on_config_change(spark, pages, truth, workdir, result):
    """The manifest gate (config hash + schema + row count per stage dir):
    resuming with a CHANGED linkage config must recompute every stage the
    change reaches — _SUCCESS alone no longer green-lights a stage dir
    written under an older config (round-2 verdict item 4). A
    ``minimum_confidence`` change invalidates links+clusters but leaves
    records/candidates/features/scores resumable (chained hashes)."""
    # fresh read: earlier tests may have rewritten the stage dir, so the
    # module fixture's DataFrame pins a stale file listing
    n_links_before = spark.read.parquet(f"{workdir}/links").count()
    n_lineage_before = len(LineagePath(workdir).entries())
    pipe = LinkagePipeline(
        spark, workdir, PipelineConfig(minimum_confidence=0.9)
    )
    res2 = pipe.run(pages, truth, resume=True)
    entries = LineagePath(workdir).entries()
    recomputed = [e["stage"] for e in entries[n_lineage_before:]]
    assert set(recomputed) == {"links", "clusters"}, recomputed
    # the recompute really applied the new config: stricter threshold
    assert res2["links"].count() <= n_links_before
    assert res2["links"].agg(F.min("predicted")).collect()[0][0] >= 0.9

    # a manifest-less stage dir (legacy/foreign) is NOT trusted either
    import os

    os.remove(f"{workdir}/clusters/_manifest.json")
    n3 = len(LineagePath(workdir).entries())
    pipe3 = LinkagePipeline(
        spark, workdir, PipelineConfig(minimum_confidence=0.9)
    )
    pipe3.run(pages, truth, resume=True)
    recomputed3 = [e["stage"] for e in LineagePath(workdir).entries()[n3:]]
    assert recomputed3 == ["clusters"]

    # restore the module-scoped `result` fixture's config for later tests
    shutil.rmtree(f"{workdir}/links", ignore_errors=True)
    shutil.rmtree(f"{workdir}/clusters", ignore_errors=True)
    LinkagePipeline(spark, workdir, PipelineConfig()).run(
        pages, truth, resume=True
    )


def LineagePath(workdir):
    from capelinker_spark.qa.lineage import LineageLog

    return LineageLog(workdir)


def test_no_per_row_python(result):
    """North rule: zero per-row Python. The physical plans may contain
    ArrowEvalPython (vectorized pandas UDFs) but never BatchEvalPython
    (row-at-a-time UDFs) or RDD map/PythonRDD nodes."""
    for name in ("candidates", "features", "scores", "links"):
        plan = result[name]._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, name


def test_features_checkpoint_pruned(result):
    """The features checkpoint carries ids + COMPUTED columns only — raw
    name strings stay in the candidates checkpoint (round-2 profile: the
    wide rewrite was the stage's dominant cost once the C kernel removed
    the UDF bottleneck)."""
    cols = set(result["features"].columns)
    assert {"persid_from", "persid_to"} <= cols
    assert "mlastdist" in cols and "matches" in cols
    for raw in ("mlast_from", "mlast_to", "wfirst_from", "year_from"):
        assert raw not in cols, raw


def test_truthless_resume_with_stale_model_fails_loudly(spark, pages, tmp_path):
    """A model.json that fails the manifest gate + no truth to retrain:
    the run must fail with the actual cause (stale/legacy model) rather
    than a generic 'scoring requires truth' deep in the scores stage
    (round-3 review finding)."""
    import json as _json
    import os

    import pytest

    wd = str(tmp_path / "legacy_wd")
    os.makedirs(wd)
    # a legacy model.json with NO manifest (pre-manifest workdir)
    with open(f"{wd}/model.json", "w") as fh:
        _json.dump({"features": ["mlastdist"], "coef": [0.0], "intercept": 0.0}, fh)
    pipe = LinkagePipeline(spark, wd, PipelineConfig())
    with pytest.raises(ValueError, match="does not match this config"):
        pipe.run(pages, truth=None, resume=True)


def _runner(spark, wd):
    """A bare StageRunner over a one-field config."""
    from types import SimpleNamespace

    from capelinker_spark.stage_runner import StageRunner

    r = StageRunner()
    r._init_runner(spark, wd, SimpleNamespace(v=1))
    return r


def test_stage_bookkeeping_runs_no_count_or_histogram_job(spark, tmp_path, monkeypatch):
    """The stage write is the only pass that counts: while a scored stage
    runs ``_stage``, count/collect raise, yet the manifest row count and
    the lineage histogram come out equal to a count and a groupBy
    reference (scores on bucket edges, 1.0 clamped into the top bucket,
    NULL in none)."""
    import json

    wd = str(tmp_path / "wd")
    runner = _runner(spark, wd)
    vals = [0.0, 0.1, 0.1, 0.95, 1.0, None, 0.55, 0.999, None, 0.0]
    src = spark.createDataFrame(
        list(enumerate(vals)), "id long, score double"
    ).repartition(3)

    def probe(*a, **kw):
        raise AssertionError("count/collect job in stage bookkeeping")

    with monkeypatch.context() as m:
        for name in ("count", "collect"):
            m.setattr(type(src), name, probe)
        out = runner._stage("scored", lambda: src, resume=False, score_col="score")
    with open(f"{wd}/scored/_manifest.json") as fh:
        assert json.load(fh)["row_count"] == out.count() == len(vals)
    (entry,) = runner.lineage.entries()
    assert entry["row_count"] == len(vals)
    assert entry["score_histogram"] == _histogram_reference(out, "score") == [
        {"bucket": 0, "count": 2}, {"bucket": 1, "count": 2},
        {"bucket": 5, "count": 1}, {"bucket": 9, "count": 3},
    ]


def test_empty_stage_records_zero_and_resumes(spark, tmp_path):
    """A 0-row stage still fires its Observation: row count 0 and an
    empty histogram in the lineage, manifest row_count 0, and a resume
    trusts it through ``_done`` without recomputing."""
    import json

    wd = str(tmp_path / "wd")
    runner = _runner(spark, wd)
    empty = spark.createDataFrame([(1, 0.5)], "id long, score double").where(
        F.col("id") < 0
    )
    runner._stage("scored", lambda: empty, resume=False, score_col="score")
    with open(f"{wd}/scored/_manifest.json") as fh:
        assert json.load(fh)["row_count"] == 0
    (entry,) = runner.lineage.entries()
    assert entry["row_count"] == 0 and entry["score_histogram"] == []

    def recompute():
        raise AssertionError("a valid 0-row checkpoint was recomputed")

    assert runner._done("scored")
    again = runner._stage("scored", recompute, resume=True, score_col="score")
    assert again.count() == 0 and len(runner.lineage.entries()) == 1
