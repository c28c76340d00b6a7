"""Per-stage lineage & metrics rows (north rule: every checkpoint carries
blocking key, pair count, score histogram, elapsed time so a resumed run can
be audited per partition/stage). The row count and score histogram arrive
ready-made from the Observation on the stage write
(:mod:`capelinker_spark.stage_runner`); this module only stores them."""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame


class LineageLog:
    """JSONL lineage at ``{workdir}/_lineage.jsonl`` + per-stage key metrics
    parquet at ``{workdir}/_lineage/{stage}``."""

    def __init__(self, workdir: str):
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)
        self.path = os.path.join(workdir, "_lineage.jsonl")

    def record(
        self,
        stage: str,
        elapsed_sec: float,
        row_count: int | None = None,
        extra: dict[str, Any] | None = None,
        key_metrics: DataFrame | None = None,
    ) -> None:
        entry = {
            "stage": stage,
            "ts": time.time(),
            "elapsed_sec": elapsed_sec,
            "row_count": row_count,
            **(extra or {}),
        }
        with open(self.path, "a") as fh:
            fh.write(json.dumps(entry) + "\n")
        if key_metrics is not None:
            key_metrics.write.mode("overwrite").parquet(
                os.path.join(self.workdir, "_lineage", stage)
            )

    def entries(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as fh:
            return [json.loads(line) for line in fh if line.strip()]
