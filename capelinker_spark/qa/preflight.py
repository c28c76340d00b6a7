"""Data-QA: the ``preflight`` checks (R/prep.R:67-205) as one wide agg pass.

The reference prints per-column shares of NA / empty / length-1 / multiword /
case classes / lead-trail whitespace / non-alphabetics, the unique character
set, and numeric ranges. Here the same metrics come back as a tidy DataFrame
(one row per variable) from a single aggregation over the input — no
per-column scans — plus a separate exploded-character pass for the char set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from capelinker_spark.functions import libm

EXPECTED_CLASSES = {
    # R/prep.R:102-112
    "mlast": "string",
    "mfirst": "string",
    "wlast": "string",
    "wfirst": "string",
    "winitials": "string",
    "minitials": "string",
    "mprof": "string",
    "settlerchildren": "double",
    "year": "numeric",
}

MODEL_VARIABLES = {
    # feature lists of the pretrained models (data_raw/pretrained.R:27-53,
    # 168-181); suffix-stripping per R/prep.R:75-80
    "m_boost_stel_rein": [
        "mlastdist", "mfirstdist", "minitialsdist_osa", "mlastsdx", "mfirstsdx",
        "wlastdist", "wfirstdist", "winitialsdist_osa", "wlastsdx", "wfirstsdx",
        "namefreq_from", "spousenamedist_from", "namefreq_to", "spousenamedist_to",
        "wifepresent_from", "wifepresent_to", "wifeinboth", "settlerchildrengauss",
        "nextmfirst", "mfirst_uniqueness_to", "mfirst_uniqueness_from", "matches",
        "husb_wife_surnamedist", "region1",
    ],
    "m_boost_stel_rein_sparse": [
        "mlastdist", "mfirstdist", "minitialsdist_osa",
        "wlastdist", "wfirstdist", "winitialsdist_osa",
        "settlerchildrengauss", "matches",
    ],
    "m_rf_baptisms_full": [
        "mlastdist", "mlastsdx", "mfirstdist", "mfirstsdx", "wfirstdist",
        "wfirstsdx", "minitialsdist", "minitialssdx", "winitialsdist",
        "winitialssdx", "mprofdist", "mprofsdx", "yeardist",
    ],
    "m_rf_baptisms_sparse": ["mlastdist", "mfirstdist", "wfirstdist", "yeardist"],
}

_SUFFIX_PATTERN = r"(dist$|dist_osa$|sdx$|gauss$)"


def model_base_variables(modstring: str) -> list[str]:
    """Strip feature suffixes → base variable names (R/prep.R:75-80)."""
    import re

    if modstring not in MODEL_VARIABLES:
        raise KeyError(f"unknown pretrained model {modstring!r}")
    out = []
    for v in MODEL_VARIABLES[modstring]:
        if re.search(_SUFFIX_PATTERN, v):
            base = re.sub(_SUFFIX_PATTERN, "", v)
            if base not in out:
                out.append(base)
    return out


_CLASS_FAMILIES = {
    # expected-class label → acceptable Spark dtypes (R/prep.R:102-112
    # class() names mapped onto the Spark type system)
    "string": {"string"},
    "double": {"double", "float"},
    "numeric": {"double", "float", "int", "bigint", "smallint", "tinyint", "long"},
}


def check_expected_classes(dat: DataFrame) -> list[str]:
    """Validate frame dtypes against EXPECTED_CLASSES (R/prep.R:102-112).
    Returns a list of human-readable violations (empty = all good); only
    columns present in the frame are checked — missing columns are the
    ``missing_in_data`` report's job."""
    dtypes = dict(dat.dtypes)
    problems = []
    for col, expected in EXPECTED_CLASSES.items():
        if col not in dtypes:
            continue
        ok = _CLASS_FAMILIES.get(expected, {expected})
        actual = dtypes[col]
        base = actual.split("(")[0]  # decimal(10,2) → decimal
        if actual not in ok and base not in ok:
            problems.append(f"{col}: expected {expected}, got {actual}")
    return problems


def preflight(
    dat: DataFrame,
    vrbs: list[str] | None = None,
    modstring: str = "m_boost_stel_rein",
    strict_classes: bool = False,
) -> dict:
    """Run the QA battery. Returns {"report": DataFrame, "missing_in_data":
    [...], "charset": DataFrame, "class_violations": [...]}.

    ``modstring`` must name a known pretrained model (hard KeyError
    otherwise, via model_base_variables — SURVEY §2.11). dtype expectations
    (R/prep.R:102-112) are reported in ``class_violations``; with
    ``strict_classes=True`` a violation raises instead."""
    vrbs_model = model_base_variables(modstring)
    if vrbs is None:
        vrbs = vrbs_model
    present = [v for v in vrbs if v in dat.columns]
    missing = [v for v in vrbs if v not in dat.columns]

    class_violations = check_expected_classes(dat)
    if strict_classes and class_violations:
        raise TypeError(
            "preflight expected-class violations: " + "; ".join(class_violations)
        )

    aggs = []
    string_cols = [
        v for v in present if dict(dat.dtypes)[v] in ("string",)
    ]
    num_cols = [v for v in present if v not in string_cols]
    for v in string_cols:
        c = F.col(v)
        aggs += [
            F.avg(c.isNull().cast("double")).alias(f"{v}__share_na"),
            F.avg((F.length(c) == 0).cast("double")).alias(f"{v}__share_empty"),
            F.avg((F.length(c) == 1).cast("double")).alias(f"{v}__share_len1"),
            F.avg((F.size(F.split(F.trim(c), r"\s+")) > 1).cast("double")).alias(
                f"{v}__share_multiword"
            ),
            F.avg(c.rlike("[A-Z][a-z]+").cast("double")).alias(f"{v}__share_sentencecase"),
            F.avg(((F.upper(c) == c) & (c != "")).cast("double")).alias(f"{v}__share_upper"),
            F.avg(((F.lower(c) == c) & (c != "")).cast("double")).alias(f"{v}__share_lower"),
            F.avg(c.rlike(r"(^\s+|\s+$)").cast("double")).alias(f"{v}__share_leadtrail_ws"),
            F.avg(c.rlike("[^a-zA-Z ]").cast("double")).alias(f"{v}__share_nonalpha"),
        ]
    for v in num_cols:
        c = F.col(v).cast("double")
        aggs += [
            F.avg(c.isNull().cast("double")).alias(f"{v}__share_na"),
            F.min(c).alias(f"{v}__min"),
            F.max(c).alias(f"{v}__max"),
        ]
    row = dat.agg(*aggs).collect()[0].asDict() if aggs else {}

    report_rows = {}
    for k, val in row.items():
        v, metric = k.split("__", 1)
        report_rows.setdefault(v, {})[metric] = val
    spark = dat.sparkSession
    report = spark.createDataFrame(
        [
            {
                "variable": v,
                **{m: float(x) if x is not None else None for m, x in metrics.items()},
            }
            for v, metrics in report_rows.items()
        ]
    )

    charset = None
    if string_cols:
        charset = (
            dat.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(v).alias("variable"),
                                F.col(v).alias("value"),
                            )
                            for v in string_cols
                        ]
                    )
                ).alias("kv")
            )
            .select("kv.variable", F.explode(F.split(F.col("kv.value"), "")).alias("ch"))
            .where(F.col("ch") != "")
            .groupBy("variable", "ch")
            .count()
        )

    return {
        "report": report,
        "missing_in_data": missing,
        "charset": charset,
        "class_violations": class_violations,
    }


def psi_drift(
    base: DataFrame,
    current: DataFrame,
    value_col: str,
    bucket_width: int,
    n_buckets: int = 20,
) -> DataFrame:
    """Population Stability Index between two corpus snapshots — the
    standard distribution-drift monitor a production pipeline runs
    between crawls / training mixes:

        PSI = Σ_b (p_b − q_b) · ln(p_b / q_b)

    over fixed-width value buckets (bucket = floor(value/width), clamped
    to [0, n_buckets−1]; NULL values get their own bucket −1).  Counts
    are Laplace-smoothed with +1 (integers — no ε float floor, and
    empty buckets stay well-defined), so p_b = (c_b+1)/(N+B) is a ratio
    of exact integers.  Rule of thumb: PSI < 0.1 stable, 0.1–0.25
    drifting, > 0.25 shifted.

    Exactness: the per-bucket term is IEEE arithmetic on the four
    integers (c_base, N_base, c_cur, N_cur) around one
    :func:`capelinker_spark.functions.libm.ln` (bit-identical to DuckDB's
    ``ln``) — the distributed work is TWO map-side-combinable hash aggs
    over ≤ n_buckets+1 rows each; the Arrow UDF sees only the bucket
    table.

    Returns one row per bucket (bucket, c_base, c_cur, psi_term) plus
    the caller sums psi_term for the headline (kept per-bucket so the
    drift LOCATION is visible, not just the scalar)."""
    def bucketize(df: DataFrame) -> DataFrame:
        v = F.col(value_col)
        b = F.when(v.isNull(), F.lit(-1)).otherwise(
            F.least(
                F.greatest(
                    F.floor(v / F.lit(bucket_width)).cast("long"), F.lit(0)
                ),
                F.lit(n_buckets - 1),
            )
        )
        return df.select(b.alias("bucket")).groupBy("bucket").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )

    cb = bucketize(base).select("bucket", F.col("c").alias("c_base"))
    cc = bucketize(current).select("bucket", F.col("c").alias("c_cur"))
    j = cb.join(cc, "bucket", "full").select(
        "bucket",
        F.coalesce("c_base", F.lit(0)).alias("c_base"),
        F.coalesce("c_cur", F.lit(0)).alias("c_cur"),
    )
    tot = j.groupBy().agg(
        F.sum("c_base").cast("long").alias("_nb"),
        F.sum("c_cur").cast("long").alias("_nc"),
        F.count(F.lit(1)).cast("long").alias("_b"),
    )
    j = j.crossJoin(F.broadcast(tot))

    p = (F.col("c_base") + 1) / (F.col("_nb") + F.col("_b"))
    q = (F.col("c_cur") + 1) / (F.col("_nc") + F.col("_b"))
    return j.select(
        "bucket", "c_base", "c_cur",
        F.round((p - q) * libm.ln(p / q), 9).alias("psi_term"),
    )
