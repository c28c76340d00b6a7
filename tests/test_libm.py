"""``functions/libm``: the executor-side log every oracle-checked value
goes through must be bit-identical to CPython's ``math.log``/``math.log2``
(both are libm, as DuckDB's ``ln``/``log2`` are)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from capelinker_spark.functions import libm


def test_ln_log2_bitwise_equal_math(spark):
    """~10⁵ positive doubles: uniform on (0, 1), log-uniform over
    1e-304…1e304, the integers 1…n, plus the smallest subnormal and the
    largest double."""
    n = 33_000
    ids = spark.range(n)
    x = (
        ids.select((1.0 - F.rand(11)).alias("x"))
        .union(ids.select(F.pow(F.lit(10.0), F.rand(12) * 608.0 - 304.0).alias("x")))
        .union(ids.select((F.col("id") + 1).cast("double").alias("x")))
        .union(spark.createDataFrame([(5e-324,), (1.7976931348623157e308,)], "x double"))
    )
    rows = x.select("x", libm.ln("x").alias("ln"), libm.log2("x").alias("lg")).collect()
    assert len(rows) == 3 * n + 2
    for r in rows:
        assert r["ln"].hex() == math.log(r["x"]).hex(), r["x"]
        assert r["lg"].hex() == math.log2(r["x"]).hex(), r["x"]


def test_null_passes_through(spark):
    df = spark.createDataFrame([(None,), (1.0,)], "x double")
    got = df.select(libm.ln("x").alias("ln"), libm.log2("x").alias("lg")).collect()
    assert [tuple(r) for r in got] == [(None, None), (0.0, 0.0)]


@pytest.mark.parametrize("fn", [libm.ln, libm.log2])
def test_zero_raises_in_the_job(spark, fn):
    """As ``math.log(0)`` raises, a 0 input fails the Spark job instead of
    yielding -inf."""
    df = spark.createDataFrame([(2.0,), (0.0,)], "x double")
    with pytest.raises(Exception, match="logarithm of zero"):
        df.select(fn("x")).collect()
