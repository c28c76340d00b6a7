"""Unsupervised Fellegi-Sunter linkage model (EM over comparison patterns).

The reference scores candidate pairs with a SUPERVISED classifier trained
on labeled links (R/pred.R:43-45). The classic unsupervised alternative —
Fellegi & Sunter (1969), the model behind Splink / RecordLinkage /
fastLink — needs no labels: per-field agreement indicators γ_k are assumed
conditionally independent given match status, and EM estimates

* m_k = P(γ_k = 1 | pair is a match)
* u_k = P(γ_k = 1 | pair is a non-match)
* λ   = P(match)

from the corpus itself. The pair score is the log₂ likelihood ratio
Σ_k γ_k·log₂(m_k/u_k) + (1−γ_k)·log₂((1−m_k)/(1−u_k)).

Scale split (the BPE-trainer discipline, tokenizer.py:39-168): the ONE
distributed stage is the comparison-pattern histogram — a single
hash-aggregate collapsing billions of pairs into ≤ 2^K pattern rows
(K = #fields, so ≤ 256 rows for 8 fields). EM then iterates driver-side
over that bounded histogram in numpy; each iteration is O(2^K · K), so
even 10⁴ iterations are instant and independent of corpus size. Scoring
compiles to a pure native column expression (literal weights, zero
Python), exactly like ml.logistic.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from capelinker_spark.functions import libm

__all__ = [
    "comparison_patterns",
    "FellegiSunterModel",
    "estimate_fellegi_sunter",
    "term_frequency_weights",
    "tf_adjust",
]


def comparison_patterns(
    pairs: DataFrame, agreements: dict
) -> DataFrame:
    """Collapse a candidate-pair table into the comparison-pattern
    histogram: one row per distinct γ vector with its pair count.

    ``agreements`` maps field name → boolean Column over ``pairs``
    (e.g. ``F.col("name_l") == F.col("name_r")``, or a thresholded
    similarity). NULL agreement evaluates as 0 (disagree) — the
    conservative convention when either side is missing.

    Returns ``(γ_<field>... int, n bigint)`` sorted nowhere (the driver
    window sorts); ONE hash-aggregate with map-side partials, output
    bounded by 2^K rows regardless of corpus size."""
    cols = [
        F.coalesce(c.cast("int"), F.lit(0)).alias(f"gamma_{name}")
        for name, c in agreements.items()
    ]
    proj = pairs.select(*cols)
    return proj.groupBy(*[f"gamma_{n}" for n in agreements]).agg(
        F.count("*").cast("long").alias("n")
    )


@dataclass
class FellegiSunterModel:
    fields: list[str]
    m: np.ndarray  # P(agree | match), shape (K,)
    u: np.ndarray  # P(agree | non-match), shape (K,)
    lam: float  # P(match)
    iterations: int
    converged: bool

    def weights(self) -> list[tuple]:
        """Per-field (agree_weight, disagree_weight) in log₂ — the
        classic FS match/non-match weights, computed in CPython libm so
        literal-embedded scores are engine-exact (JVM Math.log differs
        from libm by 1 ulp on ~3% of inputs — the repo's oracle rule)."""
        out = []
        for k in range(len(self.fields)):
            out.append(
                (
                    math.log2(self.m[k] / self.u[k]),
                    math.log2((1.0 - self.m[k]) / (1.0 - self.u[k])),
                )
            )
        return out

    def score_expr(self, gamma_prefix: str = "gamma_") -> Column:
        """Native score column Σ γ_k·w_k + (1−γ_k)·w̄_k over
        ``gamma_<field>`` indicator columns: every weight is a Python
        float literal, so the expression is additions of literals —
        zero Python at scoring time, bit-stable across engines."""
        z = F.lit(0.0)
        for name, (wa, wd) in zip(self.fields, self.weights()):
            g = F.col(f"{gamma_prefix}{name}").cast("int")
            z = z + F.when(g == 1, F.lit(wa)).otherwise(F.lit(wd))
        return z

    def match_probability_expr(self, gamma_prefix: str = "gamma_") -> Column:
        """P(match | γ) via Bayes on the literal-weight score:
        λ·2^s / (λ·2^s + (1−λ)) with s the log₂ likelihood ratio."""
        s = self.score_expr(gamma_prefix)
        prior = F.lit(float(self.lam) / (1.0 - float(self.lam)))
        odds = prior * F.pow(F.lit(2.0), s)
        return odds / (odds + F.lit(1.0))


def estimate_fellegi_sunter(
    patterns: DataFrame,
    fields: list[str],
    m0: float = 0.9,
    u0: float = 0.1,
    lam0: float = 0.1,
    max_iter: int = 200,
    tol: float = 1e-9,
    clip: float = 1e-6,
) -> FellegiSunterModel:
    """EM over the bounded pattern histogram (collected to the driver —
    ≤ 2^K rows by construction, the guarded-collect discipline).

    E-step: responsibility g_j = λ·Π_k m_k^γ (1−m_k)^(1−γ) /
    (that + (1−λ)·Π_k u_k^γ (1−u_k)^(1−γ)) per pattern j.
    M-step: λ = Σ n_j g_j / N;  m_k = Σ n_j g_j γ_jk / Σ n_j g_j;
    u_k analogously with (1−g_j). Estimates are clipped into
    [clip, 1−clip] so degenerate fields can't produce log(0) weights.
    Converges when max parameter delta < tol."""
    rows = patterns.select(
        *[f"gamma_{f}" for f in fields], "n"
    ).collect()
    if not rows:
        raise ValueError("empty pattern histogram — no candidate pairs")
    K = len(fields)
    if len(rows) > 2**K:
        raise ValueError(
            f"{len(rows)} patterns for {K} binary fields (max {2 ** K}) — "
            "are the gamma columns non-binary?"
        )
    G = np.array([[r[f"gamma_{f}"] for f in fields] for r in rows], float)
    n = np.array([r["n"] for r in rows], float)
    N = n.sum()

    m = np.full(K, float(m0))
    u = np.full(K, float(u0))
    lam = float(lam0)
    converged = False
    it = 0
    for it in range(1, max_iter + 1):
        # E-step in log space (K products underflow fast for large K)
        log_pm = G @ np.log(m) + (1 - G) @ np.log1p(-m)
        log_pu = G @ np.log(u) + (1 - G) @ np.log1p(-u)
        a = math.log(lam) + log_pm
        b = math.log(1.0 - lam) + log_pu
        hi = np.maximum(a, b)
        g = np.exp(a - hi) / (np.exp(a - hi) + np.exp(b - hi))

        w_m = n * g
        w_u = n * (1.0 - g)
        new_lam = float(w_m.sum() / N)
        new_m = np.clip((G.T @ w_m) / w_m.sum(), clip, 1.0 - clip)
        new_u = np.clip((G.T @ w_u) / w_u.sum(), clip, 1.0 - clip)
        new_lam = float(np.clip(new_lam, clip, 1.0 - clip))
        delta = max(
            np.abs(new_m - m).max(),
            np.abs(new_u - u).max(),
            abs(new_lam - lam),
        )
        m, u, lam = new_m, new_u, new_lam
        if delta < tol:
            converged = True
            break
    return FellegiSunterModel(
        fields=list(fields), m=m, u=u, lam=lam, iterations=it,
        converged=converged,
    )


def term_frequency_weights(
    records: DataFrame,
    col: str,
    out_value: str = "value",
) -> DataFrame:
    """Winkler value-specific (term-frequency) agreement weights — the
    frequency refinement of Fellegi-Sunter used by Splink/fastLink:
    agreeing on a RARE value ("Zbigniew") is far stronger evidence than
    agreeing on a common one ("John"), so the flat per-field u_k is
    replaced by a per-value u_k(v).

    With n_v the count of value v over N records, a non-match agrees on
    v with probability u(v) = n_v/N (given one side carries v), and the
    field's average agreement-given-non-match is ū = Σ n_v²/N². The
    term-frequency adjustment added to the field's base agreement weight
    for value v is

        tf_weight(v) = log₂(ū / u(v)) = log₂(S2 / (N·n_v)),  S2 = Σ n_v²

    positive for rarer-than-average values, negative for common ones,
    and exactly zero net effect on average.

    Exactness: S2, N, n_v are exact BIGINT aggregates; the ratio is ONE
    IEEE division and the log₂ is :func:`capelinker_spark.functions.libm.log2`,
    rounded to 6.

    Plan shape: one hash-aggregate over the records (value histogram),
    one 1-row total broadcast (lazy scalar, J4 discipline), and the
    Arrow UDF runs over DISTINCT VALUES ONLY — cost is vocabulary-sized,
    not corpus-sized. Join the returned table on the agreed value to
    adjust pair scores; broadcast it when the vocabulary is small.

    Returns ``(value, n_value, tf_weight)`` for non-null values."""
    freq = (
        records.where(F.col(col).isNotNull())
        .groupBy(F.col(col).alias(out_value))
        .agg(F.count("*").cast("long").alias("n_value"))
    )
    tot = F.broadcast(
        freq.agg(
            F.sum("n_value").cast("long").alias("_N"),
            F.sum(F.col("n_value") * F.col("n_value"))
            .cast("long")
            .alias("_S2"),
        )
    )
    return (
        freq.crossJoin(tot)
        .withColumn(
            "tf_weight",
            F.round(
                libm.log2(
                    F.col("_S2").cast("double")
                    / (F.col("_N") * F.col("n_value")).cast("double")
                ),
                6,
            ),
        )
        .select(out_value, "n_value", "tf_weight")
    )


def tf_adjust(
    scored: DataFrame,
    tf: DataFrame,
    value_col: str,
    gamma_col: str,
    score_col: str,
    out: str | None = None,
    broadcast: bool = True,
    tf_value_col: str | None = None,
) -> DataFrame:
    """Apply a field's term-frequency adjustment to an FS score (the
    Splink ``term_frequency_adjustments`` semantics): where the pair
    AGREES on the field (γ=1), the flat agreement weight is corrected by
    the value-specific ``tf_weight`` from ``term_frequency_weights`` —
    rare-value agreements gain weight, common-value agreements lose it.
    Disagreeing pairs and values absent from the table are untouched.

    Exactness: both addends are already 6-decimal-rounded doubles, so
    their sum is the same double on both engines and the final
    round(...,6) re-snaps to the grid (the sum sits ~1e-15 from a grid
    point, never near a half-boundary — unlike ratio quotients, see
    features.monge_elkan).

    Plan shape: ONE equi-join of the pair table against the
    vocabulary-sized weight table, broadcast by default — the pair
    table never shuffles.

    ``tf_value_col`` names the weight table's value column; by default
    the FIRST column of ``tf`` is used (``term_frequency_weights`` puts
    ``out_value`` first), so the pairing composes under any
    ``out_value=`` renaming."""
    out = out or score_col
    t = tf.select(
        F.col(tf_value_col or tf.columns[0]).alias("_tf_value"),
        F.col("tf_weight").alias("_tf_w"),
    )
    if broadcast:
        t = F.broadcast(t)
    adj = F.when(
        F.col(gamma_col).cast("int") == 1,
        F.coalesce(F.col("_tf_w"), F.lit(0.0)),
    ).otherwise(F.lit(0.0))
    return (
        scored.join(
            t, scored[value_col] == t["_tf_value"], "left"
        )
        .withColumn(out, F.round(F.col(score_col) + adj, 6))
        .drop("_tf_value", "_tf_w")
    )
