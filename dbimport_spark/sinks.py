"""Write path: lake (parquet / catalog table) and JDBC sinks.

Reference write semantics (DbImportWorker.java:1028-1098): batched
prepared-statement inserts (batchBlockSize default 1000), per-block commit
with bad rows skipped, or `-c` single-transaction rollback-all. In Spark
the batch/rollback mechanics map to:

* bad rows never reach the sink — the coercion stage splits them out
  BEFORE the write (strictly better than the reference's write-then-
  fallback-row-by-row isolation, see SURVEY.md §4);
* `-c` all-or-nothing is enforced by the pipeline (count invalid first,
  abort before any write) and by Spark's all-or-nothing job commit;
* JDBC batching is the `batchsize` writer option (default 1000, same as
  the reference's batchBlockSize), vendor dialects are the JDBC URL.

The reference's 10 JDBC vendors collapse into `df.write.jdbc` options.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class SinkConfig:
    kind: str = "parquet"             # parquet | table | jdbc
    path_or_table: str = ""
    mode: str = "append"              # append | overwrite (CLEARINSERT)
    batch_block_size: int = 1000      # JDBC batchsize (DbImportWorker.java:127)
    jdbc_url: str | None = None
    jdbc_properties: dict[str, str] = field(default_factory=dict)
    partition_by: list[str] = field(default_factory=list)


def write_target(df: DataFrame, sink: SinkConfig) -> None:
    """Write the merged result. CLEARINSERT == mode='overwrite'
    (DbImportWorker.java:411-415: delete-all then insert)."""
    if sink.kind == "parquet":
        w = df.write.mode(sink.mode)
        if sink.partition_by:
            w = w.partitionBy(*sink.partition_by)
        w.parquet(sink.path_or_table)
    elif sink.kind == "table":
        w = df.write.mode(sink.mode)
        if sink.partition_by:
            w = w.partitionBy(*sink.partition_by)
        w.saveAsTable(sink.path_or_table)
    elif sink.kind == "jdbc":
        if not sink.jdbc_url:
            raise ValueError("jdbc sink requires jdbc_url")
        (
            df.write.mode(sink.mode)
            .option("batchsize", sink.batch_block_size)
            .jdbc(sink.jdbc_url, sink.path_or_table, properties=sink.jdbc_properties)
        )
    else:
        raise ValueError(f"unknown sink kind {sink.kind!r}")


def connection_test(
    spark,
    check_sql: str = "SELECT 1",
    iterations: int = 1,
    sleep_seconds: float = 0.0,
) -> list[bool]:
    """`connectiontest` mode (DbImport.java:1042-1126,
    ConnectionTestDefinition.java): run the check statement N times,
    report per-iteration success."""
    import time

    results = []
    for i in range(iterations):
        try:
            spark.sql(check_sql).collect()
            results.append(True)
        except Exception:
            results.append(False)
        if sleep_seconds and i + 1 < iterations:
            time.sleep(sleep_seconds)
    return results


def write_bucketed_table(
    df: DataFrame,
    table: str,
    num_buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog table: co-locates rows by hash(bucket_cols) at
    WRITE time so later equi-joins and aggregations on those columns are
    shuffle-free (Catalyst sees the bucketing output partitioning and
    drops the Exchange on both sides — proven by
    tests/test_pipeline.py::test_bucketed_join_is_shuffle_free).

    This is the lake-side analogue of the reference's key-column index
    creation (DbImportWorker.java:456-464): pay an organization cost once
    at load, win on every keyed merge after. At 100 TB the recurring
    shuffle of a big fact table dominates total cost — bucketing the
    import target on its merge keys amortizes it away.
    """
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def compaction_partitions(total_bytes: int, target_file_bytes: int = 128 << 20) -> int:
    """Output-file count for compacting a (small-file-ridden) dataset to
    ~target-size files: ceil(total/target), min 1."""
    return max(1, -(-total_bytes // target_file_bytes))


def input_bytes(spark, path: str) -> int:
    """Total byte size of the files under a path (Hadoop FS listing —
    driver-side metadata only, no data read)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    total = 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        total += it.next().getLen()
    return total


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 << 20,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into
    ceil(bytes/target) files. The 100 TB housekeeping op — streaming
    ingestion and per-batch upserts accumulate thousands of KB-sized
    files whose per-file open/footer cost dominates scans; compaction
    restores ~target-sized files. Uses coalesce when shrinking (no
    shuffle — each output task concatenates input splits) and only falls
    back to a full repartition when the source has too few partitions to
    coalesce. Returns the output file count."""
    df = spark.read.parquet(src_path)
    n = compaction_partitions(input_bytes(spark, src_path), target_file_bytes)
    cur = df.rdd.getNumPartitions()
    out = df.coalesce(n) if cur >= n else df.repartition(n)
    out.write.mode("overwrite").parquet(dst_path)
    return n


def write_clustered_parquet(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int,
    max_records_per_file: int | None = None,
) -> None:
    """Range-clustered parquet: repartitionByRange + sortWithinPartitions
    on the cluster columns before writing, so each output file owns a
    disjoint value range and its parquet row-group min/max stats become
    precise zone maps — a later filter on the cluster column skips whole
    files instead of scanning them (verified by
    tests: test_clustered_write_produces_disjoint_ranges).

    This is the scan-side twin of bucketing: bucketBy wins shuffle-free
    JOINS on the key, range-clustering wins RANGE/point filters. At 100 TB
    cluster the biggest fact table by its dominant filter column (usually
    event time) at load; ``max_records_per_file`` additionally caps file
    size (Spark splits a partition into several files when it overflows)."""
    w = (
        df.repartitionByRange(n_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
    )
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(path)


def touched_partitions(source: DataFrame, partition_col: str) -> list:
    """Distinct partition values present in a merge source — the driver-side
    prune list. Small-by-construction: an incremental batch touches the
    handful of partitions its rows land in, never the whole table."""
    return [r[0] for r in source.select(partition_col).distinct().collect()]


def merge_into_partitioned(
    spark,
    target_path: str,
    source: DataFrame,
    keys,
    partition_col: str,
    update_with_null_values: bool = True,
) -> list:
    """Partition-pruned selective-rewrite UPSERT into a partitioned parquet
    target — the lake analogue of the reference's in-place temp-table merge
    (DbImportWorker.java:537-578): the reference UPDATEs matched rows inside
    the DB and leaves every other row untouched; a naive lake merge
    recomputes and rewrites the WHOLE table even when the source touches
    0.1% of keys. This routine rewrites only the partitions the source
    touches:

    1. prune — collect the source's distinct partition values (tiny,
       driver-side by construction);
    2. merge — run the standard upsert (operators/merge.py, update-then-
       anti-insert, reference-ordered) over ONLY the pruned target slice
       (the partition filter prunes at the parquet scan, so untouched
       partitions are never read);
    3. rewrite — dynamic partition overwrite writes back only the
       partitions present in the merged slice; untouched partition files
       are not rewritten (byte-identical, proven by
       tests/test_pipeline.py::test_merge_into_partitioned).

    CORRECTNESS REQUIREMENT: a source row's key must locate any matching
    target row inside the source row's own partition — i.e. partition_col
    is one of the keys, or is a stable function of them (date-partitioned
    facts keyed by (date, id), dimension tables partitioned by a never-
    updated attribute). If a key could match a row in an UNTOUCHED
    partition, that row would not be updated (it was pruned); that layout
    needs the full merge (or Delta-style MERGE with a file-level index).

    At 100 TB this is the difference between rewriting ~100 TB per
    incremental load and rewriting the O(batch) partitions the batch
    lands in. Returns the pruned partition-value list.

    An empty target path (first load) degenerates to a plain partitioned
    write of the source.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    from dbimport_spark.operators.merge import upsert
    from dbimport_spark.txnlog import _persisted

    # the source is persisted for this call only: the partition probe and
    # both merge branches read it, and it is released once the merged
    # slice is materialized
    with _persisted(source):
        parts = touched_partitions(source, partition_col)
        try:
            target = spark.read.parquet(target_path)
            exists = True
        except AnalysisException:
            exists = False
        if not exists:
            source.write.mode("overwrite").partitionBy(partition_col).parquet(
                target_path
            )
            return parts

        sliced = target.filter(F.col(partition_col).isin(parts))
        merged = upsert(
            sliced, source, keys, update_with_null_values=update_with_null_values,
            materialize_source=False,
        )
        # Cut lineage from target_path: Spark refuses to overwrite a path
        # that the write plan also reads. localCheckpoint materializes the
        # merged slice (O(touched partitions), not O(table)) on the
        # executors. On a multi-tenant cluster prefer a reliable
        # checkpoint dir; the shape of the plan is identical.
        merged = merged.localCheckpoint(eager=True)

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy(partition_col).parquet(target_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # the checkpointed slice is written: free its blocks now rather than
    # whenever the JVM collects the plan that holds them
    merged._jdf.queryExecution().analyzed().rdd().unpersist(False)
    return parts
