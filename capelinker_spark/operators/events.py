"""Event-stream operators for CC-style page/event tables (task mandate:
the operations a large-scale training-data pipeline needs — here the
canonical clickstream shape: gap-based sessionization).

Scale notes: both operators are one window per user plus one aggregation —
shuffle keys are user ids (hash-distributed, unskewed in web logs except
bot traffic; bots are exactly the giant-session case `max_events` caps).
All arithmetic stays on TIMESTAMP_NTZ intervals — no session-timezone
conversion ever touches the values, so results are engine- and
deployment-tz-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Assign a session index per user: a new session starts when the gap
    to the previous event exceeds ``gap_minutes`` (the standard 30-minute
    web-analytics rule). Deterministic total order inside a user:
    (ts, id) — id breaks timestamp ties.

    Adds ``session`` (1-based per-user index) and ``session_start`` (the
    session's first event time, so (user, session_start) names a session
    by its data rather than by a per-user counter). One window (sort by
    user, ts) + two running aggregates over the SAME frame — still a
    single shuffle on the user key."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    gap = F.col(ts_col) - F.lag(ts_col).over(w)
    boundary = F.when(
        gap.isNull() | (gap > F.expr(f"INTERVAL {int(gap_minutes)} MINUTES")), 1
    ).otherwise(0)
    running = Window.partitionBy(user_col).orderBy(ts_col, id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # session_start = forward-filled boundary timestamp: ts is ascending
    # inside the frame, so the running MAX of boundary-row timestamps is
    # exactly the current session's first event time
    return (
        df.withColumn("_b", boundary)
        .withColumn("session", F.sum("_b").over(running))
        .withColumn(
            "session_start",
            F.max(F.when(F.col("_b") == 1, F.col(ts_col))).over(running),
        )
        .drop("_b")
    )


def session_stats(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_minutes: int = 30,
    value_col: str | None = None,
) -> DataFrame:
    """Per-session rollup: event count, span in seconds, optional value sum
    (DECIMAL-routed so accumulation order can't change the double).

    Returns (user, session, n_events, span_seconds[, sum_value])."""
    s = sessionize(df, user_col, ts_col, id_col, gap_minutes)
    aggs = [
        F.count("*").alias("n_events"),
        F.min(ts_col).alias("_t0"),
        F.max(ts_col).alias("_t1"),
    ]
    if value_col is not None:
        aggs.append(
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value")
        )
    out = s.groupBy(user_col, "session").agg(*aggs)
    # engine-portable span: EXACT microsecond diff floored to whole
    # seconds (an interval-to-second cast truncates the duration while
    # SQL date_diff('second') counts boundary crossings — same value only
    # when the micro diff is used on both sides)
    span = F.floor(
        F.timestamp_diff("MICROSECOND", F.col("_t0"), F.col("_t1"))
        / F.lit(1_000_000)
    ).cast("long")
    return out.withColumn("span_seconds", span).drop("_t0", "_t1")
