"""Golden-vector tests for the string-distance kernels.

Parity targets: the reference's stringdist semantics (jw p=0.1 with
unconditional Winkler boost; osa; soundex 0/1) — values cross-checked three
ways: hand-computed classics, DuckDB's jaro_similarity (same Jaro core), and
the Spark-native soundex.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from capelinker_spark.functions.strdist import (
    gk_py,
    jaro_sim,
    jaro_winkler_dist,
    jw_udf,
    osa_dist,
    osa_norm_dist,
    osa_udf,
    soundex,
    soundex_dist,
)

CLASSIC_JARO = [
    # textbook values
    ("MARTHA", "MARHTA", 0.944444),
    ("DIXON", "DICKSONX", 0.766667),
    ("DWAYNE", "DUANE", 0.822222),
    ("JELLYFISH", "SMELLYFISH", 0.896296),
    ("abc", "abc", 1.0),
    ("a", "b", 0.0),
    ("", "abc", 0.0),
]


@pytest.mark.parametrize("a,b,expected", CLASSIC_JARO)
def test_jaro_classics(a, b, expected):
    assert jaro_sim(a, b) == pytest.approx(expected, abs=1e-6)


def test_jaro_matches_duckdb_on_name_pool():
    """Lock the Jaro core against DuckDB's implementation across the fixture
    name pool (covers window/transposition edge cases broadly)."""
    from capelinker_spark.fixtures import MFIRST_POOL, SURNAME_POOL

    names = SURNAME_POOL + MFIRST_POOL
    con = duckdb.connect()
    for i, a in enumerate(names):
        for b in names[i:][:7]:
            expected = con.sql(
                "select jaro_similarity(?, ?)", params=[a, b]
            ).fetchone()[0]
            assert jaro_sim(a, b) == pytest.approx(expected, abs=1e-9), (a, b)


def test_jw_unconditional_boost():
    """stringdist applies the Winkler boost below jaro 0.7 too (unlike
    DuckDB's jaro_winkler_similarity) — e.g. shared 2-prefix, low jaro."""
    j = jaro_sim("abcdef", "abzzzz")
    assert j < 0.7
    d = jaro_winkler_dist("abcdef", "abzzzz", p=0.1)
    assert d == pytest.approx(1 - (j + 2 * 0.1 * (1 - j)), abs=1e-12)


def test_jw_golden():
    # candidates() toy example, R/candidates.R:27-29: jong vs jongh
    assert jaro_winkler_dist("jong", "jongh", p=0.1) == pytest.approx(0.04, abs=1e-9)
    # identical / empty / null
    assert jaro_winkler_dist("jong", "jong") == 0.0
    assert jaro_winkler_dist("", "") == 0.0
    assert jaro_winkler_dist(None, "jong") is None
    assert jaro_winkler_dist("smid", "smit", p=0.1) == pytest.approx(
        1 - (5 / 6 + 3 * 0.1 * (1 - 5 / 6)), abs=1e-9
    )


def test_osa():
    assert osa_dist("CA", "AC") == 1.0  # adjacent transposition
    assert osa_dist("CA", "ABC") == 3.0  # the osa-vs-DL classic
    assert osa_dist("kitten", "sitting") == 3.0
    assert osa_dist("", "abc") == 3.0
    assert osa_dist(None, "x") is None
    assert osa_norm_dist("JF", "FJ") == pytest.approx(0.5)
    assert osa_norm_dist("", "") == 0.0


def test_gk():
    # R/util.R:271-273: gk(x, x±d, sigma=1) = exp(-|d|)
    assert gk_py(5, 5) == 1.0
    assert gk_py(5, 7) == pytest.approx(math.exp(-2))
    assert gk_py(5, 7, sigma=2.0) == pytest.approx(math.exp(-2 / 4))


def test_python_soundex_golden():
    assert soundex("Robert") == "R163"
    assert soundex("Rupert") == "R163"
    assert soundex("Tymczak") == "T522"
    assert soundex("Honeyman") == "H555"
    assert soundex("Ashcraft") == "A261"  # H transparent
    assert soundex("Pfister") == "P236"  # doubled-code first letter
    assert soundex("VAN DER MERWE") == "V536"
    assert soundex(None) is None
    assert soundex("123abc") == "123abc"  # non-letter first char: unchanged


def test_soundex_matches_spark(spark):
    """The Python mirror must equal Spark's JVM soundex across the name pool
    + noisy variants (this is what the DuckDB oracle SQL reproduces)."""
    from capelinker_spark.fixtures import SURNAME_POOL

    samples = SURNAME_POOL + [
        "A", "AE", "WH", "HW", "BOTHA (WED)", "DU  TOIT", "SMIT H",
        "Robert", "Rupert", "Ashcraft", "Tymczak", "Pfister", "Honeyman",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {r["s"]: r["sdx"] for r in df.select("s", F.soundex("s").alias("sdx")).collect()}
    for s in samples:
        assert soundex(s) == got[s], s


def test_udfs_on_spark(spark):
    df = spark.createDataFrame(
        [("jong", "jongh"), ("smid", "smit"), (None, "x"), ("CA", "AC")],
        "a string, b string",
    )
    rows = df.select(
        jw_udf("a", "b").alias("jw"),
        osa_udf("a", "b").alias("osa"),
        soundex_dist(F.col("a"), F.col("b")).alias("sdx"),
    ).collect()
    assert rows[0]["jw"] == pytest.approx(0.04)
    assert rows[1]["osa"] == 1.0
    assert rows[2]["jw"] is None and rows[2]["sdx"] is None
    assert rows[3]["osa"] == 1.0
    assert rows[0]["sdx"] == 0.0  # jong/jongh share soundex J52
    assert rows[1]["sdx"] == 0.0  # smid/smit → S53


def test_jw_udf_matches_kernel_on_corpus(spark, corpus):
    """Vectorized UDF ≡ pure kernel on a realistic batch."""
    import pandas as pd

    truth = corpus["truth"]
    pages = corpus["pages"]
    # quick name pairs out of the fixture text
    import re

    names = [
        re.search(r"MAN SURNAME: (.*)", t).group(1) or None for t in pages["text"]
    ][:200]
    pdf = pd.DataFrame({"a": names, "b": names[::-1]})
    df = spark.createDataFrame(pdf)
    got = df.select("a", "b", jw_udf("a", "b").alias("d")).collect()
    for r in got:
        exp = jaro_winkler_dist(r["a"], r["b"], p=0.1)
        if exp is None:
            assert r["d"] is None
        else:
            assert r["d"] == pytest.approx(exp, abs=1e-12)


def test_c_kernel_bitwise():
    """The C batch kernels are BIT-IDENTICAL to the pure-Python semantics
    oracle (golden vectors + seeded random strings incl. unicode & empties).
    This is the contract that keeps the oracle queries hash-exact (the
    Python kernel is itself bit-identical to DuckDB's jaro_similarity).

    Lists and Arrow arrays enter through the same C entry; the Arrow cases
    cover 2-, 3- and 4-byte UTF-8, NULL on either side, empty strings, a
    sliced array (non-zero offset) and large_string."""
    import random

    import pyarrow as pa

    from capelinker_spark.functions import _native
    from capelinker_spark.functions.strdist import (
        jaro_winkler_dist,
        osa_dist,
        osa_norm_dist,
    )

    if not _native.available():
        import pytest

        pytest.skip("native kernel unavailable (no cc)")
    random.seed(1234)
    al = "abcdefghijklmnopqrstuvwxyzàéïßœ- "
    words = [
        "".join(random.choice(al) for _ in range(random.randint(0, 18)))
        for _ in range(500)
    ]
    words += ["", "a", "jongh", "VAN DER MERWE", "smößen"]
    ss = [random.choice(words) for _ in range(20000)]
    ts = [random.choice(words) for _ in range(20000)]
    for p in (0.0, 0.1):
        cv = _native.jw_batch(ss, ts, p).to_pylist()
        for i in range(len(ss)):
            assert cv[i] == jaro_winkler_dist(ss[i], ts[i], p=p), (ss[i], ts[i], p)
    cv = _native.osa_batch(ss[:5000], ts[:5000], normalize=False).to_pylist()
    for i in range(5000):
        assert cv[i] == osa_dist(ss[i], ts[i])
    cv = _native.osa_batch(ss[:5000], ts[:5000], normalize=True).to_pylist()
    for i in range(5000):
        assert cv[i] == osa_norm_dist(ss[i], ts[i])

    # Arrow entry: multi-byte UTF-8 (2-byte é/ß, 3-byte €/中, 4-byte 😀/𝄞),
    # NULLs and empties on both sides
    al = "abcdeé ßœ€中文😀𝄞"
    words = [
        "".join(random.choice(al) for _ in range(random.randint(0, 12)))
        for _ in range(300)
    ] + ["", None, "😀", "中文", "𝄞a€"]
    ss = [random.choice(words) for _ in range(4000)]
    ts = [random.choice(words) for _ in range(4000)]
    assert None in ss and None in ts and "" in ss and "" in ts
    kernels = [
        (lambda a, b: _native.jw_batch(a, b, 0.1), jaro_winkler_dist),
        (lambda a, b: _native.osa_batch(a, b, normalize=False), osa_dist),
        (lambda a, b: _native.osa_batch(a, b, normalize=True), osa_norm_dist),
    ]
    large = pa.large_string()
    cases = [
        (pa.array(ss), pa.array(ts)),
        # sliced arrays: the element offset applies to offsets and validity
        (pa.array(ss)[5:-3], pa.array(ts)[2:-6]),
        (pa.array(ss, large), pa.array(ts)),
        (pa.array(ss, large)[9:], pa.array(ts, large)[:-9]),
    ]
    for a, b in cases:
        assert len(a) == len(b)
        want_s, want_t = a.to_pylist(), b.to_pylist()
        for batch, fn in kernels:
            got = batch(a, b)
            assert got.type == pa.float64() and len(got) == len(a)
            want = [fn(x, y) for x, y in zip(want_s, want_t)]
            assert got.to_pylist() == want
            assert got.null_count == sum(w is None for w in want) > 0
    assert _native.jw_batch([], [], 0.1).to_pylist() == []
    assert _native.jw_batch(["", None], [None, ""], 0.1).to_pylist() == [None, None]


def test_udf_python_fallback_matches_c(monkeypatch):
    """Without the native library the JW/OSA UDF bodies score pair by pair
    in Python: same values and NULLs as the C path."""
    import pyarrow as pa

    from capelinker_spark.functions import _native
    from capelinker_spark.functions.strdist import osa_norm_udf

    a = pa.array(["jong", "smid", None, "CA", "", "smößen"])
    b = pa.array(["jongh", "smit", "x", "AC", "", "smoessen"])
    udfs = (jw_udf.func, osa_udf.func, osa_norm_udf.func)
    c_path = [f(a, b) for f in udfs]
    monkeypatch.setattr(_native, "_load", lambda: None)
    for f, want in zip(udfs, c_path):
        got = f(a, b)
        assert got.type == pa.float64()
        assert got.to_pylist() == want.to_pylist()


def test_smith_waterman_golden_vectors():
    """Classic published SW scores plus edge cases."""
    from capelinker_spark.functions.strdist import (
        smith_waterman,
        sw_norm_sim,
    )

    # Wikipedia worked example: match=3, mismatch=-3, gap=-2 -> 13
    assert smith_waterman("TGTTACGG", "GGTTGACTA", 3, -3, -2) == 13.0
    # Gotoh-style textbook example at 2/-1/-1 -> 12
    assert smith_waterman("ACACACTA", "AGCACACA", 2, -1, -1) == 12.0
    assert smith_waterman("abc", "abc") == 6.0       # 2 * len
    assert smith_waterman("abc", "xyz") == 0.0       # disjoint -> 0
    assert smith_waterman(None, "a") is None
    assert smith_waterman("", "abc") == 0.0
    # local alignment ignores unmatched tails: full containment -> 1.0
    assert sw_norm_sim("ACME CORP", "THE ACME CORPORATION LTD") == 1.0
    # global OSA would see these as far apart; SW sees the shared core
    assert sw_norm_sim("", "") == 0.0
    assert sw_norm_sim("ab", "ab") == 1.0


def test_sw_sim_udf_matches_python(spark):
    """Arrow-batched SW similarity equals the scalar reference and
    handles NULLs; plan carries ArrowEvalPython (never row-Python)."""
    from pyspark.sql import functions as F

    from capelinker_spark.functions.strdist import sw_norm_sim, sw_sim_udf

    rows = [
        ("acme corp", "the acme corporation ltd"),
        ("jan van der berg", "j. vandenberg"),
        ("smith", "schmidt"),
        (None, "x"),
        ("", ""),
    ]
    df = spark.createDataFrame(rows, "a string, b string")
    out = df.withColumn("s", sw_sim_udf(F.col("a"), F.col("b"))).collect()
    for r in out:
        assert r["s"] == sw_norm_sim(r["a"], r["b"])
    plan = (
        df.withColumn("s", sw_sim_udf(F.col("a"), F.col("b")))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
