"""String-distance kernels: Jaro-Winkler, OSA, soundex distance, Gaussian kernel.

The reference computes these with the C-backed ``stringdist`` R package
(``/root/reference/R/distances.R:27-43``, ``R/candidates.R:65-73``). Here the
pure-Python kernels (``jaro_winkler_dist``, ``osa_dist``) define the exact
semantics (unit-tested against stringdist's documented behaviour), and the
Spark-facing surface is Arrow-vectorized UDFs — zero per-row Python UDFs,
per the engine's north rule. The JW/OSA UDFs are ``arrow_udf``s that hand
each batch's Arrow string buffers to the C kernels (``_native``); Smith-
Waterman stays a pandas UDF over the Python kernel. Soundex distance and
the Gaussian kernel are pure native column expressions (JVM-side, whole-
stage codegen).

Semantics locked to the reference:

* Jaro-Winkler with prefix scaling ``p`` (reference uses p=0.1 in
  ``distcalc``, ``R/distances.R:32``; p=0 variant in the vignette): the
  Winkler prefix boost is applied UNCONDITIONALLY (no 0.7 "boost threshold"),
  matching stringdist. NULL in → NULL out. Two empty strings → distance 0.
* OSA (optimal string alignment = Levenshtein + adjacent transposition,
  stringdist method "osa"); the reference uses the length-normalized
  similarity ``1 - stringsim`` for ``{v}dist_osa`` features
  (``data_raw/pretrained.R:213,381-385``).
* soundex distance: 0.0 if codes equal else 1.0, NULL-propagating
  (``R/distances.R:33-37``) — implemented natively with ``F.soundex``.
* Gaussian kernel ``gk(x1,x2,sigma) = exp(-|x1-x2| / sigma^2)``
  (``R/util.R:271-273``).
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf, pandas_udf
from pyspark.sql.types import DoubleType

from capelinker_spark.functions import _native

# ---------------------------------------------------------------------------
# pure-Python kernels (semantics source of truth; also used by the oracle-side
# reference extractor and unit tests)
# ---------------------------------------------------------------------------


def jaro_sim(s: str, t: str) -> float:
    """Jaro similarity. Both empty → 1.0 (identical); one empty → 0.0."""
    ls, lt = len(s), len(t)
    if ls == 0 and lt == 0:
        return 1.0
    if ls == 0 or lt == 0:
        return 0.0
    window = max(ls, lt) // 2 - 1
    if window < 0:
        window = 0
    t_flags = [False] * lt
    s_flags = [False] * ls
    matches = 0
    for i, cs in enumerate(s):
        lo = max(0, i - window)
        hi = min(lt, i + window + 1)
        for j in range(lo, hi):
            if not t_flags[j] and t[j] == cs:
                s_flags[i] = True
                t_flags[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    # transpositions: compare matched chars in order
    k = 0
    transpositions = 0
    for i in range(ls):
        if s_flags[i]:
            while not t_flags[k]:
                k += 1
            if s[i] != t[k]:
                transpositions += 1
            k += 1
    transpositions //= 2
    m = float(matches)
    return (m / ls + m / lt + (m - transpositions) / m) / 3.0


def jaro_winkler_dist(s, t, p: float = 0.1) -> float | None:
    """Jaro-Winkler DISTANCE = 1 - (jaro + l*p*(1-jaro)), l = common prefix ≤ 4.

    Matches stringdist's ``method='jw'`` (boost applied unconditionally).
    None/NaN input → None.
    """
    if s is None or t is None or (isinstance(s, float)) or (isinstance(t, float)):
        return None
    j = jaro_sim(s, t)
    l = 0
    for a, b in zip(s[:4], t[:4]):
        if a != b:
            break
        l += 1
    return 1.0 - (j + l * p * (1.0 - j))


def osa_dist(s, t) -> float | None:
    """Optimal-string-alignment edit distance (stringdist method 'osa')."""
    if s is None or t is None or isinstance(s, float) or isinstance(t, float):
        return None
    ls, lt = len(s), len(t)
    if ls == 0:
        return float(lt)
    if lt == 0:
        return float(ls)
    prev2 = None
    prev = list(range(lt + 1))
    for i in range(1, ls + 1):
        cur = [i] + [0] * lt
        for j in range(1, lt + 1):
            cost = 0 if s[i - 1] == t[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (
                i > 1
                and j > 1
                and s[i - 1] == t[j - 2]
                and s[i - 2] == t[j - 1]
            ):
                cur[j] = min(cur[j], prev2[j - 2] + cost)
        prev2, prev = prev, cur
    return float(prev[lt])


def osa_norm_dist(s, t) -> float | None:
    """Length-normalized OSA distance = 1 - stringsim(method='osa').

    ``data_raw/pretrained.R:381-385`` builds ``{v}dist_osa`` features this way.
    Both empty → 0.0 (identical).
    """
    d = osa_dist(s, t)
    if d is None:
        return None
    m = max(len(s), len(t))
    return d / m if m else 0.0


def smith_waterman(
    s,
    t,
    match: int = 2,
    mismatch: int = -1,
    gap: int = -1,
) -> float | None:
    """Smith-Waterman local-alignment score (Smith & Waterman 1981) —
    the best-scoring LOCAL alignment between two strings, the classic
    record-linkage comparator for fields where one value embeds the
    other with noise (addresses, business names with legal suffixes:
    'ACME CORP' inside 'THE ACME CORPORATION LTD') where global edit
    distance (OSA) over-penalizes the unmatched tails.

    Integer DP with affine-free linear gap penalty; the score is an
    exact small integer returned as float (the strdist family's column
    dtype). Disjoint strings score 0; None/NaN propagate NULL."""
    if s is None or t is None or isinstance(s, float) or isinstance(t, float):
        return None
    ls, lt = len(s), len(t)
    if ls == 0 or lt == 0:
        return 0.0
    prev = [0] * (lt + 1)
    best = 0
    for i in range(1, ls + 1):
        cur = [0] * (lt + 1)
        si = s[i - 1]
        for j in range(1, lt + 1):
            d = prev[j - 1] + (match if si == t[j - 1] else mismatch)
            v = max(0, d, prev[j] + gap, cur[j - 1] + gap)
            cur[j] = v
            if v > best:
                best = v
        prev = cur
    return float(best)


def sw_norm_sim(
    s,
    t,
    match: int = 2,
    mismatch: int = -1,
    gap: int = -1,
) -> float | None:
    """Smith-Waterman similarity normalized to [0, 1]:
    score / (match · min(len s, len t)) — 1.0 iff the shorter string
    aligns perfectly inside the longer (the containment-style
    complement of ``osa_norm_dist``). Either side empty → 0.0. The
    quotient is one IEEE division of small exact integers."""
    sc = smith_waterman(s, t, match, mismatch, gap)
    if sc is None:
        return None
    m = min(len(s), len(t))
    return sc / (match * m) if m else 0.0


_sw_cache: dict = {}


@pandas_udf(DoubleType())
def sw_sim_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Normalized Smith-Waterman similarity (Arrow-batched, distinct
    pairs computed once per batch — the ``_pairwise_unique``
    discipline)."""
    return _pairwise_unique(a, b, sw_norm_sim, _sw_cache)


_SOUNDEX_MAP = {
    **{c: "1" for c in "BFPV"},
    **{c: "2" for c in "CGJKQSXZ"},
    **{c: "3" for c in "DT"},
    "L": "4",
    **{c: "5" for c in "MN"},
    "R": "6",
    **{c: "7" for c in "HW"},  # skipped, do NOT reset the previous code
}


def soundex(s: str | None) -> str | None:
    """American soundex, mirroring Spark's ``F.soundex`` semantics.

    Spark quirks mirrored exactly (locked by tests against the JVM impl):
    non-letter first char → input returned unchanged; H/W are transparent
    (do not break a run of equal codes); vowels AND non-letters inside the
    string reset the run (e.g. soundex('VAN NIEKERK') = V552, both Ns count).
    """
    if s is None:
        return None
    if not s:
        return s
    first = s[0].upper()
    if not ("A" <= first <= "Z"):
        return s
    out = [first]
    last = _SOUNDEX_MAP.get(first, "0")
    for ch in s[1:]:
        c = ch.upper()
        if not ("A" <= c <= "Z"):
            last = "0"  # non-letter resets the run (Spark behaviour)
            continue
        code = _SOUNDEX_MAP.get(c, "0")
        if code == "7":
            continue  # H/W: transparent
        if code != "0" and code != last:
            out.append(code)
            if len(out) == 4:
                break
        last = code
    return "".join(out) + "0" * (4 - len(out))


def gk_py(x1: float, x2: float, sigma: float = 1.0) -> float:
    """Gaussian similarity kernel, ``R/util.R:271-273``."""
    import math

    return math.exp(-abs(x1 - x2) / (sigma**2))


# ---------------------------------------------------------------------------
# Arrow-vectorized UDFs (the only Python that runs on executors)
# ---------------------------------------------------------------------------


_CACHE_MAX = 1 << 20


def _pairwise_unique(a: pd.Series, b: pd.Series, fn, cache: dict):
    """Apply fn over the UNIQUE (a, b) pairs of the batch, then broadcast back.

    Candidate-pair batches repeat the same name pairs heavily (frequent
    surnames); the reference itself dedups before the expensive op
    (``R/util.R:146-148``). This is the per-batch analog, plus a worker-
    lifetime cache shared ACROSS batches (Python UDF workers are long-lived,
    so frequent-surname pairs are computed once per executor). Only the
    pure-Python kernels go through here: for the C kernels the dict
    bookkeeping cost more per pair than scoring every pair."""
    va = a.tolist()  # object series → str/None, no pandas machinery in the loop
    vb = b.tolist()
    todo = [k for k in dict.fromkeys(zip(va, vb)) if k not in cache]
    if todo:
        if len(cache) > _CACHE_MAX:
            cache.clear()
        for k in todo:
            cache[k] = fn(k[0], k[1])
    out = [cache[k] for k in zip(va, vb)]
    return pd.Series(out, index=a.index, dtype="float64")


def _python_batch(a: pa.Array, b: pa.Array, fn) -> pa.Array:
    """``fn`` pair by pair: the fallback when the C kernels are unavailable."""
    return pa.array(
        [fn(x, y) for x, y in zip(a.to_pylist(), b.to_pylist())], pa.float64()
    )


def make_jw_udf(p: float = 0.1):
    """Factory: Arrow UDF computing Jaro-Winkler distance with prefix scale p.

    Each batch is one call of the C kernel (functions/_native.py) on the
    Arrow string buffers, bit-identical to the pure-Python semantics
    oracle; falls back to Python transparently."""

    @arrow_udf(DoubleType())
    def jw(a: pa.Array, b: pa.Array) -> pa.Array:
        out = _native.jw_batch(a, b, p)
        if out is not None:
            return out
        return _python_batch(a, b, lambda x, y: jaro_winkler_dist(x, y, p=p))

    return jw


jw_udf = make_jw_udf(0.1)  # the distcalc default, R/distances.R:32
jw_udf_p0 = make_jw_udf(0.0)  # the vignette variant, vignettes/example.rmd:102-105


@arrow_udf(DoubleType())
def osa_udf(a: pa.Array, b: pa.Array) -> pa.Array:
    """Raw OSA edit distance."""
    out = _native.osa_batch(a, b, normalize=False)
    return out if out is not None else _python_batch(a, b, osa_dist)


@arrow_udf(DoubleType())
def osa_norm_udf(a: pa.Array, b: pa.Array) -> pa.Array:
    """Normalized OSA distance (1 - stringsim), the ``{v}dist_osa`` feature."""
    out = _native.osa_batch(a, b, normalize=True)
    return out if out is not None else _python_batch(a, b, osa_norm_dist)


# ---------------------------------------------------------------------------
# native column expressions (JVM-side; preferred wherever possible)
# ---------------------------------------------------------------------------


def soundex_dist(a: Column, b: Column) -> Column:
    """0.0 if soundex codes equal else 1.0; NULL-propagating.

    Reference: ``stringdist(method='soundex')`` in ``R/distances.R:33-37``.
    """
    return (F.soundex(a) != F.soundex(b)).cast("double")


def gk(x1: Column, x2: Column, sigma: float = 1.0) -> Column:
    """Gaussian similarity kernel as a native expression (``R/util.R:271-273``)."""
    return F.exp(-F.abs(x1 - x2) / F.lit(float(sigma) ** 2))

