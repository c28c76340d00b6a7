"""The one executor-side logarithm for oracle-checked values.

The JVM's ``Math.log`` differs from libm's ``log`` by 1 ulp on ~3% of
inputs, and DuckDB's ``ln``/``log2`` ARE libm, so a log whose result an
oracle compares bit-for-bit must not run in the JVM. These two Arrow UDFs
take it in libm instead: one Arrow compute kernel call per batch, no
per-row Python. Callers keep the arithmetic around the log as native
Spark expressions (int→double, + − × ÷ and floor are correctly rounded
IEEE ops, identical in every engine).

Like ``math.log``, a zero or negative input raises (failing the Spark
task); NULL passes through as NULL.
"""

from __future__ import annotations

import pyarrow as pa  # module-level: arrow_udf type-hint resolution
import pyarrow.compute as pc
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import DoubleType


@arrow_udf(DoubleType())
def ln(x: pa.Array) -> pa.Array:
    """Natural log in libm (DuckDB ``ln``)."""
    return pc.ln_checked(x)


@arrow_udf(DoubleType())
def log2(x: pa.Array) -> pa.Array:
    """Base-2 log in libm (DuckDB ``log2``)."""
    return pc.log2_checked(x)
