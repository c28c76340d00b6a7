"""Sequence packing for pretraining pipelines: assign documents, in a
deterministic global order, to fixed-token-budget windows (the
"concatenate-and-chunk" step ahead of tokenizer sharding).

The math is a GLOBAL integer prefix sum of per-document token counts —
the textbook case where a naive ``Window.orderBy`` funnels the whole
table through one task (Exchange SinglePartition). Here it is a
distributed offset (``_range_offsets``, which also gives
``blocking.sorted_neighborhood_pairs`` its global positions):
range-partition by the order key, per-partition running sums on sorted
data, with cross-partition offsets cumulated through a bounded
triangular join over one row per partition and broadcast back.

Exactness: counts and prefix sums are LONGS; the window id is integer
division — bit-identical to a SQL ``SUM() OVER (ORDER BY ...)`` oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _range_offsets(
    df: DataFrame, order: list[str], total: Column, reliable: bool
) -> DataFrame:
    """Distributed zipWithIndex / prefix-sum scaffold: ``df``
    range-partitioned and sorted by ``order``, plus ``_pid`` (partition
    id) and ``_off`` (LONG sum of the aggregate ``total`` over every
    EARLIER partition, via a triangular join over <= shuffle-partitions
    rows broadcast back — no driver collect). A window over ``_pid``
    ordered by ``order`` then finishes the global running value.

    The totals and the returned rows read ONE checkpointed RDD, so
    ``_pid`` is a single assignment: a re-run range exchange re-samples
    its bounds, which shifts boundary rows and corrupts offsets
    (verified at sf0.1). The range-bound sampling job runs when this
    function builds the plan; the local checkpoint stays lazy and
    materializes at the query's first action. ``reliable=True``
    checkpoints to the reliable checkpoint dir (clusters with executor
    churn, where a lost executor-local block cannot be recomputed through
    the truncated lineage), eagerly: a lazy reliable checkpoint
    recomputes its input up to 3× at the first action."""
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    srt = (
        df.repartitionByRange(n_part, *order)
        .sortWithinPartitions(*order)
        .withColumn("_pid", F.spark_partition_id())
    )
    srt = (
        srt.checkpoint(eager=True) if reliable else srt.localCheckpoint(eager=False)
    )
    tot = srt.groupBy("_pid").agg(total.alias("_t"))
    prev = tot.select(F.col("_pid").alias("_ppid"), F.col("_t").alias("_pt"))
    off_df = (
        tot.join(F.broadcast(prev), F.col("_ppid") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(F.coalesce(F.sum("_pt"), F.lit(0)).cast("long").alias("_off"))
    )
    return srt.join(F.broadcast(off_df), "_pid")


def assign_packed_sequences(
    df: DataFrame,
    count_col: str,
    order_col: str,
    tokens_per_seq: int,
    out: str = "seq_id",
    offset_out: str | None = "seq_offset",
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Greedy contiguous packing: documents ordered by ``order_col`` (must
    be a unique key — ties would make the global order, and therefore the
    packing, nondeterministic) fill windows of ``tokens_per_seq`` tokens;
    a document straddling a boundary belongs to the window containing its
    FIRST token (``seq_id = start_offset div cap``), the standard
    split-on-boundary convention.

    Adds ``out`` (window id) and, unless ``offset_out=None``, the
    document's global start offset in tokens.

    NULL ``count_col`` values count as 0 (the document occupies no tokens
    but still gets the offset/window of its position). Without the
    coalesce, a NULL count would propagate NULL into ``_start``/``seq_id``
    for that row AND silently shift every later offset (SUM skips NULLs),
    breaking the exact-long contract."""
    cnt = F.coalesce(F.col(count_col).cast("long"), F.lit(0))
    srt = _range_offsets(df, [order_col], F.sum(cnt), reliable_checkpoint)
    w = Window.partitionBy("_pid").orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum_end = F.col("_off") + F.sum(cnt).over(w)
    start = (cum_end - cnt).alias("_start")
    out_df = (
        srt.withColumn("_start", start)
        .withColumn(out, F.expr(f"_start div {int(tokens_per_seq)}"))
    )
    if offset_out:
        out_df = out_df.withColumnRenamed("_start", offset_out)
    else:
        out_df = out_df.drop("_start")
    return out_df.drop("_pid", "_off")
