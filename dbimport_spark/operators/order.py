"""Deterministic source-order assignment (`_src_order`).

The reference records source row order in a synthetic `import_item` integer
column of its temp table (DbImportWorker.java:465, :992-997); that column
drives every "first occurrence" / "last wins" semantics (SURVEY.md §2.4).

Spark partitions carry no implicit global order, and
``monotonically_increasing_id`` is NOT monotone across files (Spark packs
file splits into partitions sorted by size, not name). It IS monotone and
gap-free within one physical partition, so every run of rows that share a
partition (and, for the file-aware form, a file) is numbered by its first
id. The construction used here:

1. one aggregate per run — ``count`` and ``min(monotonically_increasing_id)``
   — collected to the driver (O(#files + #partitions) rows),
2. a driver-side cumsum over the runs in order, giving each run a shift,
3. the shifts as a broadcast local relation (``frames.local_frame``, no
   Python worker), joined back so ``order = shift + id``.

This is the classic ``zipWithIndex`` scheme expressed in DataFrame form —
no window, no sort, no shuffle of the source rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbimport_spark.frames import local_frame

SRC_ORDER_COL = "_src_order"


def _number(df: DataFrame, order_col: str, by_file: bool) -> DataFrame:
    """``order_col`` = rank of each row among runs ordered by
    (file name when ``by_file``, first id of the run), then by id."""
    keys = ["__file", "__pid"] if by_file else ["__pid"]
    tagged = df.withColumn("__pid", F.spark_partition_id()).withColumn(
        "__mid", F.monotonically_increasing_id()
    )
    if by_file:
        tagged = tagged.withColumn("__file", F.input_file_name())
    runs = (
        tagged.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__cnt"), F.min("__mid").alias("__mid0"))
        .collect()
    )
    runs.sort(key=lambda r: (r["__file"] if by_file else "", r["__mid0"]))
    shifts, cum = [], 0
    for r in runs:
        shifts.append((*(r[k] for k in keys), cum - r["__mid0"]))
        cum += r["__cnt"]
    ddl = ("__file string, " if by_file else "") + "__pid int, __shift long"
    return (
        tagged.join(F.broadcast(local_frame(df.sparkSession, shifts, ddl)), keys)
        .withColumn(order_col, (F.col("__shift") + F.col("__mid")).cast("long"))
        .drop(*keys, "__mid", "__shift")
    )


def with_src_order(df: DataFrame, order_col: str = SRC_ORDER_COL) -> DataFrame:
    """Attach a deterministic 0-based global row-order column.

    Order is (partition id, position in partition) of the *current*
    physical plan — stable for a deterministic lineage, which is all the
    import pipeline requires. File sources that must follow (file name,
    position in file) use ``with_src_order_by_file``.

    Scale: one aggregate job over the data (column-pruned, one row per
    partition to the driver) plus a broadcast join of a local relation.
    No window, no shuffle of the source rows.
    """
    return _number(df, order_col, by_file=False)


def with_src_order_by_file(df: DataFrame, order_col: str = SRC_ORDER_COL) -> DataFrame:
    """File-aware variant: order = (input file name asc, position in file).

    Used by multi-file wildcard imports where the reference processes files
    sorted by name (DbImport.java:947). One aggregate per (file, partition)
    run gives its row count and first id; the runs are ordered by (file
    name, first id) on the driver, so a file split over several partitions
    keeps its split order as long as ids grow with position in the file
    (the assumption a per-file window over the ids would make too). No
    window and no sort of the source rows; the offsets are a broadcast
    local relation.
    """
    return _number(df, order_col, by_file=True)
