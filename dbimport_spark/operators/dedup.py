"""Dedup family — the engine's "GROUP BY" surface (SURVEY.md §2.4).

Semantics recovered from the reference call sites
(DbImportWorker.java:433,435,480,482,505,518,543) and golden tests
(DbImportTest_HSQL.java:427-640).

Scale design: every operator here is a hash aggregation
(``groupBy().agg(min_by/max_by)``), NOT a window. Aggregations get
map-side partial combine (one shuffle of pre-combined data); a window
``row_number`` would sort every row of every partition. At 100 TB the
difference is the job. ``min_by(struct(*cols), order)`` carries the whole
row through the combine at constant per-group state.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbimport_spark.config import KeyColumn
from dbimport_spark.operators.order import SRC_ORDER_COL

KEY_PREFIX = "__key_"


def key_exprs(keys: Sequence[KeyColumn | str]) -> list[tuple[str, Column]]:
    """Normalized (name, expr) pairs for key columns with optional SQL fns.

    Reference: keyColumnsWithFunctions (DbImportWorker.java:256-288) — keys
    like ``lower(column_varchar)`` are applied on BOTH sides of every
    cross-table operation.
    """
    out: list[tuple[str, Column]] = []
    for i, k in enumerate(keys):
        if isinstance(k, str):
            k = KeyColumn(column=k)
        out.append((f"{KEY_PREFIX}{i}", F.expr(k.key_expr)))
    return out


def _with_keys(df: DataFrame, keys: Sequence[KeyColumn | str]) -> tuple[DataFrame, list[str]]:
    pairs = key_exprs(keys)
    for name, expr in pairs:
        df = df.withColumn(name, expr)
    return df, [name for name, _ in pairs]


def drop_duplicates_keep_first(
    df: DataFrame,
    keys: Sequence[KeyColumn | str],
    order_col: str = SRC_ORDER_COL,
) -> DataFrame:
    """Keep exactly the first-occurring row per key, drop the rest.

    Reference: DbUtilities.dropDuplicates called at DbImportWorker.java:433,480;
    first occurrence defined by the `import_item` order column
    (DbImportWorker.java:465).

    Implemented as ``min_by(struct(all columns), order)`` — a single hash
    aggregation with partial combine, no window sort.
    """
    cols = df.columns
    keyed, knames = _with_keys(df, keys)
    row = F.min_by(F.struct(*[F.col(c) for c in cols]), F.col(order_col))
    agg = keyed.groupBy(*knames).agg(row.alias("__row"))
    return agg.select(*[F.col(f"__row.{c}").alias(c) for c in cols])


def join_duplicates(
    df: DataFrame,
    keys: Sequence[KeyColumn | str],
    order_col: str = SRC_ORDER_COL,
    update_with_null_values: bool = True,
) -> DataFrame:
    """Column-merge duplicate rows per key: later occurrence wins per column.

    * ``update_with_null_values=True``: a later NULL overwrites an earlier
      value → plain last-row value per column.
    * ``False`` (`-u` flag): NULLs are skipped, last NON-NULL value wins
      (per-column coalesce through history).

    Golden proof: DbImportTest_HSQL.java:427-467 (nulls win),
    :597-640 (`-u`: earlier non-null varchar survives).

    Implementation: ``max_by(col, order)`` for null-overwrite;
    ``max_by(col, order WHERE col IS NOT NULL)`` for null-skipping —
    ``max_by`` ignores rows whose ordering expression is NULL, so masking
    the order gives "last non-null" in one aggregation pass. The merged
    row keeps the FIRST occurrence's order (min(order)) so downstream
    first/last logic stays stable.
    """
    cols = df.columns
    keyed, knames = _with_keys(df, keys)
    aggs: list[Column] = []
    for c in cols:
        if c == order_col:
            aggs.append(F.min(order_col).alias(order_col))
        elif update_with_null_values:
            aggs.append(F.max_by(F.col(c), F.col(order_col)).alias(c))
        else:
            masked_order = F.when(F.col(c).isNotNull(), F.col(order_col))
            aggs.append(F.max_by(F.col(c), masked_order).alias(c))
    agg = keyed.groupBy(*knames).agg(*aggs)
    return agg.select(*cols)


def drop_duplicates_cross_table(
    source: DataFrame,
    target: DataFrame,
    keys: Sequence[KeyColumn | str],
) -> DataFrame:
    """Remove source rows whose key already exists in target.

    Reference: DbUtilities.dropDuplicatesCrossTable at DbImportWorker.java:505
    (pre-insert anti-filter; removed rows are counted as duplicates).

    Scale: left_anti equi-join on the key; the target side is pruned to the
    key columns only (column pruning → minimal shuffle) and is not made
    distinct — an anti join's result does not depend on duplicates on its
    build side, so a distinct would only add an aggregation.
    """
    src_keyed, knames = _with_keys(source, keys)
    tgt_keyed, _ = _with_keys(target, keys)
    return src_keyed.join(
        tgt_keyed.select(*knames), on=knames, how="left_anti"
    ).select(*source.columns)


def detect_duplicates(df: DataFrame, keys: Sequence[KeyColumn | str]) -> DataFrame:
    """Keys occurring more than once, with their count.

    Reference: DbUtilities.detectDuplicates at DbImportWorker.java:518,543 —
    gates the update-first vs update-all code paths.
    """
    keyed, knames = _with_keys(df, keys)
    return (
        keyed.groupBy(*knames)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def has_duplicates(df: DataFrame, keys: Sequence[KeyColumn | str]) -> bool:
    """Boolean form of detect_duplicates (limit-1 probe, early-exit)."""
    return detect_duplicates(df, keys).limit(1).count() > 0
