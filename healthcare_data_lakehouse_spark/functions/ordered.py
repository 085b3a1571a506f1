"""Distributed ordered prefix sums (the partition-offset two-pass scheme).

A naive ``Window.orderBy(col)`` running sum funnels the whole table through
ONE task — the classic 100 TB cliff. The scheme here keeps every stage
partition-parallel:

1. range-repartition on the order key, so partition i holds a contiguous
   key range and partitions are mutually ordered;
2. per-partition running sum (window PARTITIONED by the range-partition id
   — each partition is one task, N-way parallel);
3. per-partition totals -> exclusive prefix offsets over the tiny
   |partitions|-row table (the only ordered window, over N rows);
4. broadcast the offsets back and add.

Same scheme as ``pipeline_global_row_index`` (llm_pipeline.py), factored out for
reuse by any running-sum/sweep-line consumer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def running_sum_over(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str,
    n_parts: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = SUM(value_col) OVER (ORDER BY order_col ROWS
    UNBOUNDED PRECEDING) without a single-partition window.

    ``order_col`` must be duplicate-free (pre-aggregate to the order grain
    first), so the result is independent of intra-key ordering. The ranged
    frame is persisted because ``spark_partition_id`` must be observed
    consistently by both passes.
    """
    spark = df.sparkSession
    if n_parts is None:
        n_parts = max(spark.sparkContext.defaultParallelism // 2, 4)
    # localCheckpoint (eager), not persist: it MATERIALIZES the frame, so
    # spark_partition_id is observed identically by the totals pass and
    # the join pass even under cache eviction, and the blocks are freed
    # when the DataFrame is GC'd instead of leaking per invocation.
    ranged = (
        df.repartitionByRange(n_parts, order_col)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    totals = ranged.groupBy("_pid").agg(F.sum(value_col).alias("_tot"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_pid", F.coalesce(F.sum("_tot").over(w_off), F.lit(0)).alias("_off")
    )
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ranged.withColumn("_loc", F.sum(value_col).over(w_local))
        .join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.col("_off") + F.col("_loc"))
        .drop("_pid", "_loc", "_off")
    )
