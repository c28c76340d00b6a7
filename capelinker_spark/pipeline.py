"""End-to-end linkage pipeline: pages → records → candidates → features →
scores → links → clusters, each stage checkpointed with lineage rows so a
killed run resumes from the last completed stage (north rule).

Checkpoints are parquet directories (the sandbox stand-in for Iceberg tables;
the write/read pattern — overwrite a stage path, reread for lineage
truncation — maps 1:1 onto Iceberg table replaces). The stage graph mirrors
the reference's end-to-end flow (vignettes/example.rmd:64-223, SURVEY §3.3).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from capelinker_spark.extract import extract_records
from capelinker_spark.ml.logistic import LogisticModel, train_logistic
from capelinker_spark.operators import features as FE
from capelinker_spark.operators.candidates import candidates, candidates_multikey
from capelinker_spark.operators.cluster import cluster_links
from capelinker_spark.operators.predict import group_split, rank_links, select_links
from capelinker_spark.stage_runner import StageRunner

DEFAULT_CHAR_VARS = ("mlast", "mfirst", "wlast", "wfirst", "minitials", "winitials")
DEFAULT_NUM_VARS = ("year", "settlerchildren", "cattle", "sheep", "horses")


@dataclass
class PipelineConfig:
    year_from: int = 1828
    year_to: int = 1826
    blocktype: str = "soundex_multikey"
    blockvariable: str = "mlast"
    maxdist: float = 0.15
    linktype: str = "one:one"
    minimum_confidence: float = 0.5
    salt: int | None = None
    character_variables: tuple = DEFAULT_CHAR_VARS + ("mfullname",)
    numeric_variables: tuple = DEFAULT_NUM_VARS
    model_features: tuple = (
        "mlastdist", "mfirstdist", "wlastdist", "wfirstdist",
        "minitialsdist", "winitialsdist", "mlastsdx", "mfirstsdx",
        "mfullnamedist",
        "yeardist", "matches", "wifeinboth", "settlerchildrengauss",
        "cattle_reldist", "sheep_reldist", "horses_reldist",
        "wlastdist_missing", "wfirstdist_missing", "mfirstdist_missing",
    )
    train_frac: float = 0.7
    seed: int = 42
    max_training_pairs: int = 200_000


def add_rel_deltas(df: DataFrame, variables=("cattle", "sheep", "horses")) -> DataFrame:
    """Relative numeric deltas |a-b|/(|a|+|b|+1): scale-free counterparts of
    the raw ``{v}dist`` differences, robust to household-size drift."""
    for v in variables:
        if f"{v}_from" in df.columns and f"{v}_to" in df.columns:
            a, b = F.col(f"{v}_from"), F.col(f"{v}_to")
            df = df.withColumn(
                f"{v}_reldist", F.abs(a - b) / (F.abs(a) + F.abs(b) + F.lit(1.0))
            )
    return df


class LinkagePipeline(StageRunner):
    def __init__(self, spark: SparkSession, workdir: str, config: PipelineConfig | None = None):
        self._init_runner(spark, workdir, config or PipelineConfig())

    # -- checkpoint plumbing lives in StageRunner (shared with
    # CurationPipeline since round 4): chained config-hash manifests,
    # schema/row-count validation, lineage recording. Changing e.g.
    # ``maxdist`` invalidates candidates AND every stage downstream, while
    # a ``minimum_confidence`` change leaves records/candidates/features/
    # scores resumable.

    # (own config fields, upstream stage) per stage; "__all__" = whole config
    STAGE_DEPS = {
        "records": ((), None),
        "candidates": (
            ("year_from", "year_to", "blocktype", "blockvariable",
             "maxdist", "linktype", "salt"),
            "records",
        ),
        "features": (("character_variables", "numeric_variables"), "candidates"),
        "scores": (
            ("model_features", "train_frac", "seed", "max_training_pairs"),
            "features",
        ),
        "links": (("minimum_confidence", "linktype"), "scores"),
        "clusters": ((), "links"),
    }

    # -- stages ---------------------------------------------------------------
    def run(self, pages: DataFrame, truth: DataFrame | None = None, resume: bool = True) -> dict:
        cfg = self.cfg
        records = self._stage("records", lambda: extract_records(pages), resume)

        # column pruning across checkpoints: the candidate/feature stages
        # only carry linkage-relevant fields; provenance stays in `records`
        link_cols = [
            "persid", "year", "mlast", "mfirst", "wlast", "wfirst",
            "minitials", "winitials", "mlast_woprefix", "mfullname",
            "wifepresent", "settlerchildren", "cattle", "sheep", "horses",
        ]

        def _candidates():
            slim = records.select(*[c for c in link_cols if c in records.columns])
            dat_from = slim.where(F.col("year") == cfg.year_from)
            dat_to = slim.where(F.col("year") == cfg.year_to)
            if cfg.blocktype == "soundex_multikey":
                # union of three derived keys — recall-robust to single-field
                # noise (the reference's "candidates() repeatedly and merge",
                # R/candidates.R:5)
                bv = cfg.blockvariable
                keys = [
                    lambda df: F.soundex(F.col(bv)),
                    lambda df: F.soundex(F.col(f"{bv}_woprefix")),
                    lambda df: F.soundex(F.col("mfirst")),
                ]
                pairs = candidates_multikey(
                    dat_from, dat_to, keys, salt=cfg.salt, assemble=False
                )
            else:
                wide = candidates(
                    dat_from, dat_to,
                    blockvariable_from=cfg.blockvariable,
                    blockvariable_to=cfg.blockvariable,
                    blocktype=cfg.blocktype,
                    linktype=cfg.linktype,
                    maxdist=cfg.maxdist,
                    salt=cfg.salt,
                )
                pairs = wide.where(F.col("persid_to").isNotNull()).select(
                    "persid_from", "persid_to", "score"
                )
            # NARROW pair checkpoint: (persid_from, persid_to, score,
            # block_key). Record payloads never traverse the pair-generation
            # shuffles or this write — the features stage joins them back
            # from the records checkpoint (one payload join, total).
            # block_key retained for lineage, from the from-side record.
            bk = dat_from.select(
                F.col("persid").alias("persid_from"),
                F.soundex(F.col(cfg.blockvariable)).alias("block_key"),
            )
            return pairs.join(bk, "persid_from", "left")

        cnd = self._stage("candidates", _candidates, resume, key_metrics_col="block_key")

        def _features():
            # the candidates checkpoint reads back as few, large scan splits;
            # spread the Arrow-UDF pass across the full core count (a narrow
            # shuffle of id+name columns, repaid many times over by the UDFs)
            n_parts = self.spark.sparkContext.defaultParallelism * 2
            # partition BY the window key: the matches window then reuses
            # this exchange instead of shuffling the full feature width
            pairs = cnd.where(F.col("persid_to").isNotNull()).repartition(
                n_parts, F.col("persid_from")
            )
            # payload join-back: the candidates checkpoint is narrow pair
            # ids; both record sides attach here from the records
            # checkpoint (suffix-aliased, same shape _assemble produces).
            # The records side is small relative to the pair table at every
            # scale, so AQE broadcasts it locally and hash-joins on a
            # cluster — either way the pair table keeps the persid_from
            # partitioning for the matches window below.
            slim = records.select(
                *[c for c in link_cols if c in records.columns]
            )
            from_s = slim.select(
                *[F.col(c).alias(f"{c}_from") for c in slim.columns]
            )
            to_s = slim.select(
                *[F.col(c).alias(f"{c}_to") for c in slim.columns]
            )
            pairs = pairs.join(from_s, "persid_from").join(to_s, "persid_to")
            feat = FE.distcalc(
                pairs,
                character_variables=cfg.character_variables,
                numeric_variables=[v for v in cfg.numeric_variables],
            )
            feat = FE.add_matches(feat, "persid_from")
            feat = FE.add_wifeinboth(feat)
            feat = FE.add_gauss(feat, "settlerchildren")
            feat = add_rel_deltas(feat)
            # missingness indicators: xgboost handles missing natively
            # (vignettes/example.rmd:147); the logistic path gets explicit
            # indicator features instead
            for v in ("wlastdist", "wfirstdist", "mfirstdist"):
                feat = feat.withColumn(
                    f"{v}_missing", F.col(v).isNull().cast("double")
                )
            # checkpoint width: ids + COMPUTED feature columns only. The
            # ~30 raw name/numeric columns already live in the candidates
            # checkpoint — rewriting those strings made the parquet write
            # the features stage's dominant cost once the C kernel removed
            # the UDF bottleneck (round-2 profile: 40 s write vs 6 s
            # compute). Anyone needing names joins candidates/records back
            # on the ids.
            carried = (
                set(cnd.columns) | set(from_s.columns) | set(to_s.columns)
            )
            keep = ["persid_from", "persid_to"] + [
                c for c in feat.columns if c not in carried
            ]
            return feat.select(*keep)

        feats = self._stage("features", _features, resume)

        # model checkpoint: the pretrained-model registry analog — a resumed
        # run re-scores with the SAME trained model, no truth table needed.
        # The sidecar manifest pins the model to the scores-stage config
        # hash, so a model trained under older model_features/seed config
        # retrains instead of silently re-scoring.
        model = None
        model_path = os.path.join(self.workdir, "model.json")
        model_manifest = model_path + ".manifest"
        scores_hash = self._stage_hash("scores")
        scores_done = resume and self._done("scores")

        def _model_valid() -> bool:
            try:
                with open(model_manifest) as fh:
                    return json.load(fh).get("config_hash") == scores_hash
            except (OSError, ValueError):
                return False

        if resume and os.path.exists(model_path) and _model_valid():
            model = LogisticModel.load(model_path)
        elif truth is None and resume and os.path.exists(model_path):
            # a model.json exists but fails the manifest gate (trained
            # under a different config, or a pre-manifest workdir): with
            # no truth to retrain from, scoring below would fail with a
            # generic message — fail HERE with the actual cause instead
            # of silently re-scoring with a model from the wrong config
            if not scores_done:
                raise ValueError(
                    f"{model_path} exists but does not match this config "
                    "(missing or stale model manifest) and no truth table "
                    "was given to retrain: pass truth, or remove the "
                    "workdir to start fresh"
                )
        elif truth is not None:
            if not scores_done:
                model = self._train_model(feats, truth)
                model.save(model_path)
                with open(model_manifest, "w") as fh:
                    json.dump({"config_hash": scores_hash}, fh)

        def _scores():
            if model is None:
                raise ValueError("scoring requires truth labels (or a saved model)")
            # checkpoint only (ids, score): the feature table is already
            # checkpointed — no point rewriting 60 columns to add one
            return model.transform(feats).select(
                "persid_from", "persid_to", "predicted"
            )

        scores = self._stage(
            "scores", _scores, resume, score_col="predicted", done=scores_done
        )

        def _links():
            # scores is already the narrow (id_from, id_to, score) projection
            ranked = rank_links(scores, "persid_from", "persid_to")
            return select_links(ranked, cfg.minimum_confidence, cfg.linktype)

        links = self._stage("links", _links, resume, score_col="predicted")

        clusters = self._stage(
            "clusters", lambda: cluster_links(links, records), resume
        )
        return {
            "records": records,
            "candidates": cnd,
            "features": feats,
            "scores": scores,
            "links": links,
            "clusters": clusters,
            "model": model,
        }

    # -- panel linkage ----------------------------------------------------------
    def run_panel(
        self,
        pages: DataFrame,
        truth: DataFrame | None = None,
        years: list[int] | None = None,
        resume: bool = True,
    ) -> dict:
        """Multi-wave panel linkage — the reference's real workflow
        (SURVEY §3.3: link year t to year t-1 for every consecutive pair,
        fold each wave's links into the running entity index via
        ``expand_index`` semantics; the final closure is connected
        components over ALL accepted link edges, which is exactly the
        fixpoint of iterating expand_index across waves).

        Each wave runs the standard stage graph in its own subdirectory
        (checkpointed + resumable); the model is trained once on the first
        wave and reused for the rest (the reference's pretrained-model
        pattern)."""
        from capelinker_spark.operators.cluster import cluster_links

        cfg = self.cfg
        records = self._stage("records", lambda: extract_records(pages), resume)
        if years is None:
            years = sorted(
                r["year"]
                for r in records.select("year").distinct().collect()
                if r["year"] is not None
            )
        waves = list(zip(years[1:], years[:-1]))  # (from=t, to=t-1)
        all_links = None
        for y_from, y_to in waves:
            sub = LinkagePipeline(
                self.spark,
                os.path.join(self.workdir, f"wave_{y_from}_{y_to}"),
                PipelineConfig(
                    **{
                        **self.cfg.__dict__,
                        "year_from": y_from,
                        "year_to": y_to,
                    }
                ),
            )
            res = sub.run(pages, truth, resume=resume)
            wave_links = res["links"].select(
                "persid_from", "persid_to", "predicted"
            )
            all_links = (
                wave_links if all_links is None else all_links.unionByName(wave_links)
            )
        clusters = self._stage(
            "panel_clusters",
            lambda: cluster_links(all_links, records),
            resume,
        )
        return {"records": records, "links": all_links, "clusters": clusters}

    # -- training -------------------------------------------------------------
    def _train_model(self, feats: DataFrame, truth: DataFrame) -> LogisticModel:
        cfg = self.cfg
        t_from = truth.select(
            F.col("persid").alias("persid_from"), F.col("entity_id").alias("_ef")
        )
        t_to = truth.select(
            F.col("persid").alias("persid_to"), F.col("entity_id").alias("_et")
        )
        labeled = (
            feats.join(t_from, "persid_from")
            .join(t_to, "persid_to")
            .withColumn("correct", (F.col("_ef") == F.col("_et")).cast("double"))
        )
        train, _ = group_split(labeled, "persid_from", cfg.train_frac, cfg.seed)
        cols = [c for c in cfg.model_features if c in feats.columns] + ["correct"]
        # deterministic BOUNDED training sample. A bare limit() takes
        # whichever partitions answer first (weights then vary with the
        # physical plan), and an ordered limit ships top-k rows from EVERY
        # partition to the driver (blew spark.driver.maxResultSize at 3×
        # the bench corpus). Instead: keep a row iff
        # xxhash64(pair ids, seed) mod n < cap — a pure per-row filter,
        # partitioning-independent, expected size cap ± O(√cap), no sort,
        # no oversized driver collect.
        n = train.count()
        sample = train
        if n > cfg.max_training_pairs:
            sample = train.where(
                F.pmod(
                    F.xxhash64("persid_from", "persid_to", F.lit(cfg.seed)),
                    F.lit(n),
                )
                < F.lit(cfg.max_training_pairs)
            )
        # Arrow transfer for the driver collect (guide §6): all-double
        # columns arrive bit-identical to the pickle path (verified:
        # equal frames, dtypes, and trained weights) at roughly half the
        # wall; scoped + restored so the session conf is untouched
        arrow_key = "spark.sql.execution.arrow.pyspark.enabled"
        prev = self.spark.conf.get(arrow_key, None)
        self.spark.conf.set(arrow_key, "true")
        ids = ["persid_from", "persid_to"]
        try:
            pdf = sample.select(*ids, *cols).toPandas()
        finally:
            if prev is None:
                self.spark.conf.unset(arrow_key)
            else:
                self.spark.conf.set(arrow_key, prev)
        # rows arrive in shuffle-fetch order, and train_logistic's sums
        # round differently in another order: sort by pair ids so the
        # weights do not depend on partitioning or task timing
        pdf = pdf.sort_values(ids, kind="stable", ignore_index=True).drop(columns=ids)
        features = [c for c in cols if c != "correct"]
        return train_logistic(pdf, features, seed=cfg.seed)
