"""Pages → records: the Spark-native extractor.

Input: the graft's CC-style page table ``(url, warc_ts, html, text, lang)``.
Output: the normalized record table mirroring the reference's cleaned linkage
datasets (``rein`` schema, data_raw/traindata_graafreinet.R:144-174).

Everything here is native column expressions (regexp_extract / translate /
trim / nullif) — zero Python on the hot path. The per-url byte-identity
contract against the plain-Python reference chain
(``capelinker_spark.ref_extract``) is enforced by tests/test_extract.py.

The optional ``spousenamedist`` column (jw(mlast, wlast, p=0.1) within one
record, data_raw/traindata_graafreinet.R:106) is the single Arrow-UDF column,
computed per row by the C Jaro-Winkler kernel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from capelinker_spark.functions import normalize as N
from capelinker_spark.functions.strdist import jw_udf

# field-label → raw column; template defined in capelinker_spark.fixtures
_FIELDS = {
    "mlast_raw": "MAN SURNAME",
    "mfirst_raw": "MAN FIRSTNAME",
    "wlast_raw": "WIFE SURNAME",
    "wfirst_raw": "WIFE FIRSTNAME",
}
_NUM_FIELDS = {
    "settlerchildren": "CHILDREN",
    "cattle": "CATTLE",
    "sheep": "SHEEP",
    "horses": "HORSES",
}


def _line(text: Column, label: str) -> Column:
    """Capture the value of ``^{label}: (.*)$`` (multiline); '' → NULL."""
    return F.nullif(
        F.regexp_extract(text, f"(?m)^{label}: (.*)$", 1), F.lit("")
    )


def record_id(url: Column) -> Column:
    """Stable record id from url: trailing integer when present (fixture
    urls end /########), else xxhash64(url) — deterministic at any scale."""
    seq = F.nullif(F.regexp_extract(url, r"/(\d+)$", 1), F.lit(""))
    return F.coalesce(seq.cast("long"), F.xxhash64(url))


def extract_records(pages: DataFrame, with_spousenamedist: bool = True) -> DataFrame:
    """Parse + normalize one record per page."""
    t = F.col("text")
    df = pages.select(
        "url",
        "warc_ts",
        "lang",
        record_id(F.col("url")).alias("persid"),
        _line(t, "YEAR").cast("int").alias("year"),
        _line(t, "DISTRICT").alias("district"),
        *[_line(t, label).alias(name) for name, label in _FIELDS.items()],
        *[
            F.nullif(_line(t, label), F.lit(".")).cast("double").alias(name)
            for name, label in _NUM_FIELDS.items()
        ],
    )

    for v in ("mlast", "mfirst", "wlast", "wfirst"):
        df = df.withColumn(v, N.clean_name(F.col(f"{v}_raw")))

    mprefix, mlast_wo = N.split_prefix(F.col("mlast"))
    wprefix, wlast_wo = N.split_prefix(F.col("wlast"))
    df = (
        df.withColumn("minitials", N.initials(F.col("mfirst")))
        .withColumn("winitials", N.initials(F.col("wfirst")))
        .withColumn("mprefix", mprefix)
        .withColumn("mlast_woprefix", mlast_wo)
        .withColumn("wprefix", wprefix)
        .withColumn("wlast_woprefix", wlast_wo)
        .withColumn("mfullname", N.concat_names(F.col("mlast"), F.col("mfirst")))
        .withColumn(
            "wifepresent",
            ~(F.col("wfirst").isNull() & F.col("wlast").isNull()),
        )
        .drop("mlast_raw", "mfirst_raw", "wlast_raw", "wfirst_raw")
    )

    if with_spousenamedist:
        # per row: no join follows, so deduplicating (mlast, wlast) first
        # would cost a shuffle and a join back to save C-kernel calls
        df = df.withColumn("spousenamedist", jw_udf(F.col("mlast"), F.col("wlast")))

    return df
