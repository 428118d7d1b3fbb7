"""End-to-end import pipeline: the Spark equivalent of
DbImportWorker.work() (DbImportWorker.java:330-686).

    source DataFrame (+_src_order)
      → automap/mapping + coercion → one persisted projection
      → [complete_commit gate]
      → MAKE_UNIQUE target pre-dedup
      → source dedup (drop-first / join-last-wins)
      → keyed cells: the collapsed source annotated with its target
        row counts, persisted
      → merge per import mode (clearinsert/insert/update/upsert)
      → statistics

The reference loads the source into one physical temp table and runs its
set-based statements over it (DbImportWorker.java:438-581). Here that
temp table is materialized in two places, so each piece of work runs once:

* The coerced projection (target columns, ``_src_order`` and the row's
  coercion errors) is persisted. ``valid`` and ``invalid`` are filters
  over it; ``items_valid`` and ``items_invalid`` come from one aggregate
  over it, and the CLI's error-file extraction reads it.
* For keyed INSERT / UPDATE / UPSERT over a per-key-collapsed source, the
  deduped source is left-joined once to the target's per-key row counts
  and persisted. One aggregate over it gives the collapsed row count
  (``items_duplicate = items_valid - collapsed``), ``items_inserted``
  (keys with no target row) and ``items_updated`` (the matched target
  rows). The update join reads its matched rows and the insert branch
  its unmatched rows, so the write re-runs neither the dedup nor an
  anti-join.

The other cells (CLEARINSERT, INSERT without keys, NO_CHECK and
CKECK_SOURCE_ONLY) count the deduped source once for ``items_inserted``
and ``items_duplicate``; CLEARINSERT's ``items_deleted`` counts the old
target.

The caller owns the release: ``run_import`` appends every frame it
persists to the caller's ``persisted`` list, and the caller unpersists
them after its last action over the returned frames. The CLI does so
after the table write and the error-file extraction, and when the
import aborts.
"""

from __future__ import annotations

import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbimport_spark.config import ImportDefinition, ImportMode
from dbimport_spark.operators import coerce, dedup, merge
from dbimport_spark.operators.order import SRC_ORDER_COL
from dbimport_spark.operators.stats import ImportStatistics
from dbimport_spark.schema.mapping import automap, check_mapping


TARGET_ROWS = "__target_rows"  # matching target rows per collapsed source key


class ImportError_(Exception):
    """Import aborted (complete_commit mode with invalid rows, or
    structural failure)."""


def _persist(df: DataFrame, persisted: list | None) -> DataFrame:
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    if persisted is not None:
        persisted.append(df)
    return df


def _annotate_with_target_rows(
    source: DataFrame, target: DataFrame, keys
) -> DataFrame:
    """Left-join a per-key-collapsed source to the target's per-key row
    counts: ``TARGET_ROWS`` is NULL for a fresh key (nothing to update,
    insert it) and the number of matching target rows otherwise. An
    equi-join never matches a NULL key, so a NULL-key source row is fresh
    — exactly what the ``left_anti`` insert filter does."""
    src_keyed, knames = dedup._with_keys(source, keys)
    tgt_keyed, _ = dedup._with_keys(target, keys)
    tgt_rows = tgt_keyed.groupBy(*knames).agg(F.count(F.lit(1)).alias(TARGET_ROWS))
    return src_keyed.join(tgt_rows, on=knames, how="left")


def run_import(
    definition: ImportDefinition,
    source: DataFrame,
    target: DataFrame,
    target_order_col: str | None = None,
    persisted: list | None = None,
) -> tuple[DataFrame, DataFrame, ImportStatistics]:
    """Returns (new_target, invalid_rows, statistics).

    `target` must carry `target_order_col` when the duplicate mode needs a
    stable target order (UPDATE_FIRST_* / MAKE_UNIQUE_*), mirroring the
    reference's reliance on the identity PK.

    The returned frames read the import's persisted intermediates. Every
    frame this call persists is appended to `persisted` (also when it
    raises); the caller unpersists them after its last action over the
    returned frames. Without a list they stay cached until
    ``release_caches(spark)``.
    """
    t0 = time.time()
    definition.validate()
    stats = ImportStatistics()
    target_types = {f.name.lower(): f.dataType.simpleString() for f in target.schema.fields}

    # --- mapping + coercion: the one materialized temp table ---------------
    mappings = definition.mappings
    if mappings is None:
        mappings = automap(
            [c for c in target.columns if c != target_order_col],
            [c for c in source.columns if c != SRC_ORDER_COL],
        )
    check_mapping(
        mappings,
        list(target.columns),
        list(source.columns),
        definition.key_columns,
    )
    projected = _persist(coerce.project_mappings(
        source,
        mappings,
        target_types,
        import_tz=definition.import_data_time_zone,
        db_tz=definition.database_time_zone,
        trim=definition.trim_values,
        null_value_string=definition.null_value_string,
        keep_cols=[SRC_ORDER_COL],
    ), persisted)
    valid, invalid = coerce.split_valid(projected)
    stats.items_valid, stats.items_invalid = projected.agg(
        F.count_if(coerce.is_valid()), F.count_if(~coerce.is_valid())
    ).first()
    stats.items_found = stats.items_valid + stats.items_invalid
    if definition.complete_commit and stats.items_invalid > 0:
        # `-c`: any error rolls back the whole import
        # (DbImportWorker.java:1092-1098; golden DbImportTest_HSQL.java:398-424)
        raise ImportError_(f"{stats.items_invalid} invalid rows — import rolled back")

    keys = definition.key_columns
    dmode = definition.duplicate_mode

    # --- MAKE_UNIQUE target pre-dedup (DbImportWorker.java:432-436) ---------
    work_target = target
    if keys and dmode.make_unique_target:
        if target_order_col is None:
            raise ImportError_("MAKE_UNIQUE modes need a target order column")
        work_target = merge.make_unique(
            target,
            keys,
            mode=dmode.source_dedup or "join",
            target_order_col=target_order_col,
            update_with_null_values=definition.update_with_null_values,
        )

    # --- source dedup (DbImportWorker.java:477-485) --------------------------
    deduped = valid
    if keys and dmode.source_dedup == "drop":
        deduped = dedup.drop_duplicates_keep_first(valid, keys, order_col=SRC_ORDER_COL)
    elif keys and dmode.source_dedup == "join":
        deduped = dedup.join_duplicates(
            valid, keys, order_col=SRC_ORDER_COL,
            update_with_null_values=definition.update_with_null_values,
        )
    deduped = deduped.drop(SRC_ORDER_COL)

    # --- additional insert/update values (DbImportWorker.java:939-954) -------
    def with_values(df: DataFrame, values: dict[str, str]) -> DataFrame:
        for col, expr in values.items():
            df = df.withColumn(col, F.expr(expr).cast(dict(
                (f.name, f.dataType.simpleString()) for f in target.schema.fields
            ).get(col, "string")))
        return df

    mode = definition.import_mode
    tgt_cols = [c for c in target.columns]

    # --- merge dispatch (DbImportWorker.java:426-581) -------------------------
    if keys and not dmode.source_only_check and mode is not ImportMode.CLEARINSERT:
        # Keyed INSERT / UPDATE / UPSERT over a per-key-collapsed source:
        # one annotated, persisted source feeds every statistic and both
        # merge branches, so the write re-runs neither dedup nor anti-join.
        if mode is not ImportMode.INSERT and dmode.update_first_only and target_order_col is None:
            raise ImportError_("UPDATE_FIRST modes need a target order column")
        annotated = _persist(
            _annotate_with_target_rows(deduped, work_target, keys), persisted
        )
        collapsed, n_fresh, n_target_matched = annotated.agg(
            F.count(F.lit(1)),
            F.count_if(F.col(TARGET_ROWS).isNull()),
            F.coalesce(F.sum(TARGET_ROWS), F.lit(0)),
        ).first()
        matched = F.col(TARGET_ROWS).isNotNull()
        result = work_target
        if mode is not ImportMode.INSERT:
            # updated count = target rows whose key matches a source key
            stats.items_updated = n_target_matched
            upd_source = with_values(
                annotated.filter(matched).select(*deduped.columns),
                definition.additional_update_values,
            )
            upd_source = upd_source.select(*[c for c in upd_source.columns if c in tgt_cols])
            upd_kwargs = dict(
                keys=keys,
                update_with_null_values=definition.update_with_null_values,
            )
            if dmode.update_first_only:
                result = merge.update_first_existing(
                    work_target, upd_source, target_order_col=target_order_col, **upd_kwargs
                )
            else:
                result = merge.update_all_existing(work_target, upd_source, **upd_kwargs)
        if mode is not ImportMode.UPDATE:
            stats.items_inserted = n_fresh
            fresh = with_values(
                annotated.filter(~matched).select(*deduped.columns),
                definition.additional_insert_values,
            )
            result = merge.insert_all(
                result, fresh.select(*[c for c in result.columns if c in fresh.columns])
            )
    else:
        collapsed = deduped.count() if keys else stats.items_valid
        if mode is ImportMode.CLEARINSERT:
            stats.items_deleted = target.count()
            inserted = with_values(deduped, definition.additional_insert_values)
            result = inserted.select(*[c for c in tgt_cols if c in inserted.columns])
            stats.items_inserted = collapsed
        elif mode is ImportMode.UPDATE:
            # Reference: UPDATE + NO_CHECK/CKECK_SOURCE_ONLY does nothing
            # (DbImportWorker.java:515-517) — the update operators are only
            # ever reached with a per-key-collapsed source.
            result = work_target
        else:
            # INSERT without keys, and INSERT / UPSERT + NO_CHECK /
            # CKECK_SOURCE_ONLY: insertAllItems — append every
            # (source-deduped) row, no target existence check, update
            # nothing (DbImportWorker.java:495-500, :537-542).
            inserted = with_values(deduped, definition.additional_insert_values)
            result = merge.insert_all(work_target, inserted)
            stats.items_inserted = collapsed

    if keys:
        stats.items_duplicate = stats.items_valid - collapsed
    stats.seconds_elapsed = time.time() - t0
    return result, invalid, stats
