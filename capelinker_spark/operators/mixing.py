"""Dataset sampling & mixing for training-data pipelines: deterministic
per-row keep rules and per-class (source/language) rate mixing.

Why not ``df.sample()``: Spark's sampler is partition-dependent — a rerun,
a repartition, or an executor loss changes which rows survive, which breaks
resumable checkpointed pipelines and makes oracle checks impossible. Every
rule here is a PURE FUNCTION of the row key:

* ``hash_uniform`` (production tier): ``pmod(xxhash64(key, seed), 2^20)`` —
  JVM-native, one codegen expression, the same primitive as
  ``predict.group_split`` (A13).
* ``md5_uniform`` (cross-engine tier): the first 5 hex chars of
  ``md5(key)`` compared lexicographically against a hex bound — md5 renders
  identically in every engine (DuckDB included), so sampled sets are
  oracle-checkable bit-for-bit. Rate resolution 1/16^5 ≈ 1e-6.

Both are uniform over rows, stable under any partitioning, and resumable
(re-running selects the same rows). Scale shape: narrow filter, no shuffle,
no driver work — the rule rides inside the scan's codegen stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from capelinker_spark.functions import libm

_HEX_DIGITS = 5  # md5 prefix length: rate granularity 1/16^5


def _md5_bound(frac: float) -> str:
    """Lowercase-hex bound such that the share of ``_HEX_DIGITS``-char md5
    prefixes strictly below it is (the 16^-5 floor of) ``frac``. frac ≥ 1
    returns 'g' — lexicographically above every hex string, so everything
    is kept (a 6-char numeric bound would sort BELOW 5-char digests)."""
    n = int(frac * (16 ** _HEX_DIGITS))
    if n >= 16 ** _HEX_DIGITS:
        return "g"
    return format(n, f"0{_HEX_DIGITS}x")


def _md5_digest(key: Column, seed: str) -> Column:
    """5-hex-char digest of ``seed || key``. NULL keys hash as the empty
    string (coalesce) rather than md5(NULL)→NULL: without the coalesce the
    keep predicate is NULL and null-key rows silently vanish even at
    frac=1.0. All NULL keys share one digest — deterministic, and rate 1.0
    truly keeps every row."""
    return F.substring(
        F.md5(F.concat(F.lit(seed), F.coalesce(key.cast("string"), F.lit("")))),
        1,
        _HEX_DIGITS,
    )


def md5_keep(key: Column, frac: float, seed: str = "") -> Column:
    """Cross-engine deterministic keep rule: TRUE for ≈``frac`` of distinct
    keys. ``seed`` is a salt string concatenated into the hash input.
    SQL twin: ``substr(md5(seed || coalesce(key, '')), 1, 5) < '<bound>'``."""
    return _md5_digest(key, seed) < F.lit(_md5_bound(frac))


def hash_keep(key: Column, frac: float, seed: int = 0) -> Column:
    """Production keep rule: xxhash64 bucket below frac·2^20 (cheaper than
    md5, JVM-native; no SQL-oracle twin — use md5_keep when cross-engine
    reproducibility matters more than cost)."""
    return F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(1 << 20)) < int(
        frac * (1 << 20)
    )


def deterministic_sample(
    df: DataFrame,
    frac: float,
    key_col: str,
    seed: str | int = "",
    method: str = "md5",
) -> DataFrame:
    """Keep ≈``frac`` of rows, decided purely by ``key_col`` — rerun-stable,
    partitioning-independent, resumable. ``method``: 'md5' (cross-engine)
    or 'xxhash64' (production)."""
    key = F.col(key_col)
    if method == "md5":
        return df.where(md5_keep(key, frac, str(seed)))
    if method == "xxhash64":
        return df.where(hash_keep(key, frac, int(seed or 0)))
    raise ValueError(f"unknown method {method!r}")


def sample_to_rates(
    df: DataFrame,
    class_col: str,
    rates: dict[str, float],
    key_col: str,
    default_rate: float = 1.0,
    seed: str = "",
    method: str = "md5",
) -> DataFrame:
    """Per-class downsampling — the dataset-mixing primitive: keep class c
    at ``rates[c]`` (classes absent from ``rates`` keep ``default_rate``).
    One narrow filter; the per-class rate is a CASE over ``class_col`` and
    the keep decision is the same deterministic hash rule as
    ``deterministic_sample`` — so mixing is reproducible across reruns and
    engines, and composable with checkpointed pipelines.

    Typical use: rebalance web text by source/language before
    tokenization; rates from a driver-side plan (a dict), never a shuffle.

    The per-class bound is resolved ON THE DRIVER with the same
    ``_md5_bound`` / integer-threshold math the scalar rules use, then
    planted as a CASE over literals — one implementation of the bound
    math (the DuckDB oracle's CASE is its mirror), no runtime hex
    formatting in the expression tree.
    """
    key = F.col(key_col)
    if method == "md5":
        bound = F.lit(_md5_bound(default_rate))
        for cls, r in sorted(rates.items()):
            bound = F.when(
                F.col(class_col) == cls, F.lit(_md5_bound(r))
            ).otherwise(bound)
        return df.where(_md5_digest(key, seed) < bound)
    if method == "xxhash64":
        thr = F.lit(int(default_rate * (1 << 20)))
        for cls, r in sorted(rates.items()):
            thr = F.when(
                F.col(class_col) == cls, F.lit(int(r * (1 << 20)))
            ).otherwise(thr)
        bucket = F.pmod(
            F.xxhash64(key, F.lit(int(seed or 0))), F.lit(1 << 20)
        )
        return df.where(bucket < thr)
    raise ValueError(f"unknown method {method!r}")


def temperature_rates(
    counts: dict[str, int], temperature: float
) -> dict[str, float]:
    """Multinomial temperature-sampling rates (the multilingual/multi-domain
    rebalance rule: sample class c with probability ∝ p_c^τ): returns the
    per-class KEEP rate r_c = p_c^(τ-1) / max_c p_c^(τ-1) — i.e. the
    subsampling schedule whose OUTPUT class distribution is the
    temperature-flattened one, scaled so the most-upweighted class keeps
    everything (rates stay in (0, 1]; pure subsampling can only flatten,
    never oversample). τ=1 keeps everything; τ→0 equalizes class masses.

    Driver-side pure math over the (bounded) class-count dict — the rates
    then feed ``sample_to_rates`` as planted literals, so the sampling
    stays a narrow deterministic filter."""
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    if not counts:
        return {}
    total = sum(counts.values())
    weights = {
        c: (n / total) ** (temperature - 1.0) for c, n in counts.items() if n
    }
    top = max(weights.values())
    return {c: w / top for c, w in weights.items()}


def temperature_mix(
    df: DataFrame,
    class_col: str,
    key_col: str,
    temperature: float,
    seed: str = "",
    method: str = "md5",
) -> DataFrame:
    """Rebalance a corpus toward the temperature-τ class distribution:
    one bounded ``groupBy(class).count()`` collect (#classes rows), rates
    from ``temperature_rates``, then the deterministic
    ``sample_to_rates`` filter. Rerun-stable and resumable like every
    mixing rule (pure function of the row key)."""
    counts = {
        r[class_col]: r["n"]
        for r in df.groupBy(class_col).agg(F.count("*").alias("n")).collect()
        if r[class_col] is not None
    }
    rates = temperature_rates(counts, temperature)
    return sample_to_rates(
        df, class_col, rates, key_col, default_rate=1.0, seed=seed,
        method=method,
    )


def token_budget_rates(
    token_counts: dict[str, int],
    weights: dict[str, float],
    budget: int,
    redistribute: bool = True,
) -> dict[str, float]:
    """Per-class keep rates hitting a TOKEN budget at a target mixture —
    pretraining data is budgeted in tokens, not documents: class c should
    contribute ``budget·weights[c]`` tokens out of its ``token_counts[c]``
    available, so ``rate_c = budget·w_c / T_c`` capped at 1 (pure
    subsampling cannot oversample).

    ``redistribute=True`` (production default) waterfills: when a class
    caps at 1 (can't fill its share), its unfilled token share re-spreads
    over the uncapped classes proportionally to their weights — iterates
    at most ``#classes`` rounds, driver-side, deterministic.
    ``redistribute=False`` is the plain capped formula — one expression
    per class, exactly SQL-mirrorable (the cu6 oracle tier; capped
    classes still mirror via the rate ≥ 1 → 'g' bound convention).

    Classes present in ``weights`` but absent (or zero) in
    ``token_counts`` get rate 1.0 (keep whatever shows up); classes
    absent from ``weights`` are the caller's ``default_rate`` concern."""
    if budget <= 0:
        raise ValueError("budget must be > 0")
    rates: dict[str, float] = {}
    live = {
        c: w for c, w in weights.items() if token_counts.get(c, 0) > 0
    }
    for c in weights:
        if token_counts.get(c, 0) <= 0:
            rates[c] = 1.0
    remaining_budget = float(budget)
    while live:
        wsum = sum(live.values())
        capped = {}
        for c, w in live.items():
            r = remaining_budget * (w / wsum) / token_counts[c]
            if r >= 1.0:
                capped[c] = 1.0
        if not capped or not redistribute:
            for c, w in live.items():
                r = remaining_budget * (w / wsum) / token_counts[c]
                rates[c] = min(r, 1.0)
            break
        # capped classes contribute everything they have; their unfilled
        # share re-spreads over the remaining classes next round
        for c in capped:
            rates[c] = 1.0
            remaining_budget -= token_counts[c]
            del live[c]
        remaining_budget = max(remaining_budget, 0.0)
        if remaining_budget == 0.0:
            for c in live:
                rates[c] = 0.0
            break
    return rates


def token_budget_mix(
    df: DataFrame,
    class_col: str,
    key_col: str,
    token_col: str,
    weights: dict[str, float],
    budget: int,
    redistribute: bool = True,
    seed: str = "",
    method: str = "md5",
) -> DataFrame:
    """Rebalance a corpus to a target mixture under a total TOKEN budget:
    one bounded ``groupBy(class).sum(token_col)`` collect (#classes
    rows), rates from ``token_budget_rates``, then the deterministic
    ``sample_to_rates`` filter — same narrow plan shape as
    ``temperature_mix``. Keeping ≈rate_c of each class's DOCUMENTS keeps
    ≈rate_c of its tokens (the md5 keep rule is independent of document
    length). NULL-class rows take default_rate 1.0."""
    counts = {
        r[class_col]: int(r["t"])
        for r in df.groupBy(class_col)
        .agg(F.sum(token_col).alias("t"))
        .collect()
        if r[class_col] is not None and r["t"] is not None
    }
    rates = token_budget_rates(counts, weights, budget, redistribute)
    return sample_to_rates(
        df, class_col, rates, key_col, default_rate=1.0, seed=seed,
        method=method,
    )


def weighted_sample_topk(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_col: str,
    seed: str = "",
    method: str = "md5",
    group_col: str | None = None,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES
    priority sampling): each row draws a deterministic uniform u from
    its key and wins a slot if its priority ``ln(u)/w`` is among the k
    largest — equivalent to sampling k rows with probability
    proportional to weight, and the standard shape for importance- or
    quality-weighted corpus selection (DSIR-style: w = quality or
    domain-relevance score). Rows with NULL or non-positive weight are
    excluded (weight 0 = never sampled).

    Deterministic and rerun-stable like every sampling rule in this
    module: u is a pure function of (seed, key), never rand().

    * ``method='md5'`` — the cross-engine oracle tier: u = (h+1)/2^40
      from a 10-hex md5 digest (the division is by a POWER OF TWO, so u
      is IEEE-exact), the log is :func:`capelinker_spark.functions.libm.ln`
      (bit-identical to DuckDB's ``ln``; the ir1 idf precedent).
      The priority ``ln(u)/w`` stays a FULL-PRECISION DOUBLE — a
      quantized-LONG form overflows int64 for small weights (w ≲ 1e-13,
      routine for normalized importance scores) and a saturating clamp
      would silently destroy weight-proportionality; the raw double is
      already bit-identical across engines, ordered (priority DESC,
      key ASC).
    * ``method='xxhash64'`` — the production tier: 64-bit hash uniform
      + JVM ``F.log``, identical plan, zero Python.

    Plan: global top-k compiles to ``TakeOrderedAndProject`` (NO
    single-partition exchange — per-partition heaps then a k-row
    merge); ``group_col`` switches to a per-group row_number window
    (stratified selection), one hash exchange on the group key."""
    w = F.col(weight_col).cast("double")
    base = df.where(w.isNotNull() & (w > 0))
    key = F.coalesce(F.col(key_col).cast("string"), F.lit(""))
    if method == "md5":
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(seed), key)), 1, 10), 16, 10
        ).cast("long")
        log = libm.ln
    elif method == "xxhash64":
        # a STABLE integer from the seed string — Python's hash() is
        # salted per process (PYTHONHASHSEED) and would break the
        # rerun-stability contract
        import zlib

        seed_int = zlib.crc32(str(seed).encode())
        h = F.pmod(
            F.xxhash64(key, F.lit(seed_int)),
            F.lit(1 << 40),
        )
        log = F.log
    else:
        raise ValueError(f"unknown method {method!r}")
    u = (h + 1).cast("double") / F.lit(float(1 << 40))
    kq = log(u) / w

    scored = base.withColumn("_prio", kq)
    if group_col is None:
        return scored.orderBy(
            F.col("_prio").desc(), F.col(key_col).asc()
        ).limit(k)
    win = Window.partitionBy(group_col).orderBy(
        F.col("_prio").desc(), F.col(key_col).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(win))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )
