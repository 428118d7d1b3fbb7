"""dbimport_spark — a PySpark-native data-import & merge engine.

From-scratch rebuild of the capabilities of hudeany/dbimport (studied at
/root/reference; see SURVEY.md for the operator inventory with file:line
citations). Architecture: every stage is a pure DataFrame -> DataFrame
function; Catalyst is the optimizer/executor.

    reader -> mapping/coercion (valid/invalid split) -> dedup -> merge -> stats

Scale notes (the engine targets 1000-executor / 100 TB deployments even
though tests run on local[32]):

* Dedup and last-wins merge are expressed as ``groupBy().agg(min_by/max_by)``
  aggregations, not windows, so Spark can do map-side partial aggregation —
  one shuffle of partially-combined data instead of a full sort of every row.
* Merges are plain equi-joins; Catalyst + AQE pick broadcast vs sort-merge
  and handle skew. Small target key-sets are explicitly broadcast.
* All coercions are built-in column expressions (whole-stage codegen), never
  row-at-a-time Python UDFs.
* Frames the library builds from driver-side values (row-order offsets,
  file lists, log-suffix ops, deletion-vector positions, an empty created
  table) are Arrow local relations (``frames.local_frame``): the JVM serves
  them and no Python worker starts. Source rows are numbered by one
  aggregate per (file, partition), with no window and no shuffle.
"""

from dbimport_spark.config import ColumnMapping, DuplicateMode, ImportDefinition, ImportMode
from dbimport_spark.operators import dedup, merge
from dbimport_spark.operators.stats import ImportStatistics


def recommended_confs(shuffle_partitions: int | None = None) -> dict:
    """Session configs every harness (bench, oracle checker, scale probe,
    CLI) applies; a cluster deployment would set the same ones.

    The non-obvious member is
    ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true``:
    by default AQE never re-optimizes a plan that feeds an
    InMemoryRelation, so a ``persist()``ed intermediate inherits the full
    ``spark.sql.shuffle.partitions`` even when it holds a few MB — and
    every later pass over the cache (LSH bucket joins, CC rounds) pays
    that task count with no coalescing. Letting AQE size cached plans
    measured 1.8× on the LSH dedup chain at the 10× probe and shrinks
    cache memory on a real cluster; the trade (cached partitioning may
    not match a later join's expectation, costing one exchange) is the
    right default for this workload where caches are small relative to
    the tables they summarize."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Write-path commit protocol: every lake write here stages into a
        # PRIVATE directory whose visibility is controlled by the txn log
        # (or is a fixture/sink dir consumed whole), so the v1 committer's
        # sequential driver-side task-output renames buy nothing — v2
        # commits task outputs directly (the standard object-store-era
        # setting; Delta-style logs provide the atomicity instead), and
        # nothing in the repo reads _SUCCESS markers.
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs": "false",
    }
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    return confs


def release_caches(spark) -> None:
    """Release every DataFrame cache the library's query builders created.

    Builders persist() shared subtrees (LSH bucket explosions, shingle
    tables, PageRank edge lists) because several consumers read them within
    one query plan; the CALLER owns the consuming action, so the caller
    owns the release — run the action, then call this (bench.py and
    tools/check_oracle.py do, between queries). Without it a long-lived
    session accumulates cached blocks until LRU eviction churns."""
    spark.catalog.clearCache()


__all__ = [
    "recommended_confs",
    "ColumnMapping",
    "DuplicateMode",
    "ImportDefinition",
    "ImportMode",
    "ImportStatistics",
    "dedup",
    "merge",
    "release_caches",
]

__version__ = "0.1.0"
