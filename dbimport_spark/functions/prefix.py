"""Distributed global prefix sum (exclusive running total) — two-pass scan.

The naive Spark spelling of "running total over the whole table",
``Window.orderBy(col)`` with no partitionBy, collapses the entire dataset
into ONE task (Spark warns: "No Partition Defined for Window operation")
— a non-starter at 100 TB. The classic fix is the two-pass parallel scan
(Blelloch): split the data into ORDER-CONTIGUOUS buckets, compute each
bucket's local running sum in parallel, compute the tiny per-bucket total
vector, exclusive-scan THAT on the driver (num_buckets values, not rows),
and broadcast the offsets back. Wall-clock is two parallel passes plus a
kilobyte of driver work, independent of row count.

Exactness: all arithmetic is integer (the caller supplies integer
weights), the bucket assignment is a pure function of the order column
(value-range buckets, not physical partition ids — immune to recompute /
AQE repartitioning), and ties are impossible because the order column is
required to be unique per row. So the result is bit-identical to a
single-threaded cumulative sum, and a DuckDB window-function oracle
matches exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dbimport_spark.frames import local_frame


def global_prefix_sum(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    out_col: str = "cum_before",
    num_buckets: int = 64,
) -> DataFrame:
    """Add ``out_col`` = the EXCLUSIVE global running sum of
    ``weight_col`` in ascending ``order_col`` order (0 for the first row).

    ``order_col`` must be numeric and UNIQUE per row (a surrogate id,
    `_src_order`, a dense timestamp); uniqueness is what makes the scan
    order — and therefore every partial sum — well-defined. Buckets are
    fixed-width ranges of the order value computed from one min/max
    aggregate (pushed down to parquet footer stats, so the extra pass is
    metadata-cheap); each bucket's rows are shuffled once, locally
    cumsum'd under a per-bucket window sort, then shifted by the
    broadcast exclusive bucket offsets. Driver state: num_buckets longs.
    """
    lo, hi, n, nd = df.agg(
        F.min(order_col),
        F.max(order_col),
        F.count(order_col),
        F.count_distinct(F.col(order_col)),
    ).first()
    if lo is None:
        return df.select("*", F.lit(0).cast("bigint").alias(out_col)).limit(0)
    if n != nd:
        # a duplicated order key makes the scan order — and thus every
        # partial sum after the tie — undefined; fail loudly rather than
        # return partitioning-dependent numbers (the check rides the same
        # single stats pass as min/max, so it costs no extra scan)
        raise ValueError(
            f"global_prefix_sum: order column {order_col!r} must be unique "
            f"per row ({n - nd} duplicate keys found)"
        )
    width = max(1, (int(hi) - int(lo)) // num_buckets + 1)
    bucketed = df.select(
        "*", ((F.col(order_col) - F.lit(int(lo))).cast("long") / width).cast("long").alias("_pb")
    )
    totals = {
        r["_pb"]: r["t"]
        for r in bucketed.groupBy("_pb")
        .agg(F.sum(F.col(weight_col).cast("long")).alias("t"))
        .collect()
    }
    offsets, acc = [], 0
    for b in sorted(totals):
        offsets.append((b, acc))
        acc += totals[b]
    off_df = local_frame(df.sparkSession, offsets, "_pb long, _off long")
    w = (
        Window.partitionBy("_pb")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = F.coalesce(F.sum(F.col(weight_col).cast("long")).over(w), F.lit(0))
    return (
        bucketed.join(F.broadcast(off_df), "_pb")
        .select("*", (local + F.col("_off")).cast("bigint").alias(out_col))
        .drop("_pb", "_off")
    )
