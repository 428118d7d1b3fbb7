"""Isolate per-commit cost of each governance feature (r8 verdict item 5:
the lake CDC solo drift was never attributed). Identical workload per
config — N appends of the same batch, then one whole-snapshot UPSERT —
timed per feature flag. Run:  python tools/probe_commit_overhead.py
"""

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from dbimport_spark import recommended_confs, txnlog

N_APPENDS = 6
ROWS = 200_000


def build_spark():
    b = (
        SparkSession.builder.master("local[8]")
        .appName("probe_commit_overhead")
        .config("spark.ui.enabled", "false")
    )
    for k, v in recommended_confs(shuffle_partitions=8).items():
        b = b.config(k, v)
    s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    return s


def run_config(spark, name, setup):
    path = os.path.join(tempfile.gettempdir(), f"probe_commit_{name}")
    if os.path.isdir(path):
        shutil.rmtree(path)
    setup(path)
    batch = (
        spark.range(ROWS)
        .selectExpr("id AS k", "id * 3 AS val")
        .repartition(4)
        .cache()
    )
    batch.count()
    t0 = time.time()
    for b in range(N_APPENDS):
        txnlog.txn_append(
            spark,
            batch.selectExpr(f"k + {b * ROWS} AS k", "val"),
            path,
        )
    t_append = time.time() - t0
    upd = spark.range(1000).selectExpr("id * 37 AS k", "id AS val")
    t0 = time.time()
    txnlog.txn_upsert(spark, upd, path, ["k"])
    t_upsert = time.time() - t0
    batch.unpersist()
    shutil.rmtree(path, ignore_errors=True)
    return t_append / N_APPENDS, t_upsert


def main():
    spark = build_spark()
    configs = [
        ("baseline", lambda p: None),
        ("cdf", lambda p: txnlog.txn_set_property(p, "cdf.enabled", "true")),
        ("rowids", lambda p: txnlog.txn_enable_row_ids(p)),
        # declaring unique.* merges the key into write.statsColumns in
        # the same commit, so "unique" runs at the with-stats floor
        ("unique", lambda p: txnlog.txn_set_property(p, "unique.pk", "k")),
        ("uniq+stats", lambda p: (
            txnlog.txn_set_property(p, "unique.pk", "k"),
            txnlog.txn_set_property(p, "write.statsColumns", "k"),
        )),
        ("check", lambda p: txnlog.txn_add_check(spark, p, "pos", "k >= 0")),
        ("stats", lambda p: txnlog.txn_set_property(p, "write.statsColumns", "k")),
        ("all", lambda p: (
            txnlog.txn_set_property(p, "cdf.enabled", "true"),
            txnlog.txn_enable_row_ids(p),
            txnlog.txn_set_property(p, "unique.pk", "k"),
            txnlog.txn_add_check(spark, p, "pos", "k >= 0"),
            txnlog.txn_set_property(p, "write.statsColumns", "k"),
        )),
    ]
    # warm the JIT/plan caches once so config order doesn't bias
    run_config(spark, "warmup", lambda p: None)
    rows = []
    base_a = base_u = None
    for name, setup in configs:
        a, u = run_config(spark, name, setup)
        if name == "baseline":
            base_a, base_u = a, u
        rows.append((name, a, u))
    print(f"\n{N_APPENDS} appends x {ROWS} rows (4 files each) + 1 upsert")
    print(f"{'config':11} {'append s/commit':>16} {'vs base':>8} "
          f"{'upsert s':>9} {'vs base':>8}")
    for name, a, u in rows:
        print(f"{name:11} {a:16.3f} {a / base_a:7.2f}x {u:9.3f} "
              f"{u / base_u:7.2f}x")


if __name__ == "__main__":
    main()
