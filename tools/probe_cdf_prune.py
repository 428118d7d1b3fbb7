"""Plan evidence for the r11 key-pruned CDF diff (txnlog._change_delta).

Builds a cdf-style table from sf0.1 documents, performs the same UPSERT
shape as the stream_lake_cdc_cdf fixture (1/7th of keys touched), and
dumps the diff's formatted plan with and without the touched-keys prune,
plus the wall time and the shuffle row counts of each variant (separate
output dirs — nothing is committed to a real table).

Usage: python tools/probe_cdf_prune.py [sf_dir]
Writes plans/r11/cdf_diff_before.txt and cdf_diff_after.txt.
"""

from __future__ import annotations

import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    import shutil
    import tempfile

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from dbimport_spark import recommended_confs, txnlog
    from dbimport_spark.plans.registry import load

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("probe_cdf_prune")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
    )
    for k, v in recommended_confs(shuffle_partitions=int(cpus)).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    path = os.path.join(tempfile.gettempdir(), "dbimport_spark_txn", "probe_cdf_prune")
    if os.path.isdir(path):
        shutil.rmtree(path)
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    txnlog.txn_set_property(path, "cdf.enabled", "true")
    txnlog.txn_append(spark, d.filter(F.col("doc_id") % 3 == 0), path)
    txnlog.txn_append(spark, d.filter(F.col("doc_id") % 3 != 0), path)
    upd = d.filter(F.col("doc_id") % 7 == 0).withColumn(
        "n_chars", F.col("n_chars") + F.lit(1000)
    )

    # stage the merge exactly like txn_upsert, but keep the commit manual so
    # the SAME staged files feed both diff variants
    from dbimport_spark.operators.merge import upsert

    snap = txnlog.Snapshot.at(path)
    target = txnlog.read_snapshot(spark, path, snap.version)
    old_files = snap.names
    merged = upsert(target, upd, ["doc_id"])
    added = txnlog._stage_with_meta(merged, snap)

    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r11")
    os.makedirs(out_dir, exist_ok=True)
    results = {}
    for label, touched in (
        ("before", None),
        ("after", (["doc_id"], upd)),
    ):
        delta = txnlog._change_delta(
            spark, snap, old_files, added, touched_keys=touched
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            delta.explain("formatted")
        t0 = time.time()
        delta.write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        n = delta.count()
        results[label] = (wall, n)
        with open(os.path.join(out_dir, f"cdf_diff_{label}.txt"), "w") as fh:
            fh.write(
                f"# CDF multiset diff ({label} = "
                f"{'key-pruned' if touched else 'unpruned'}), sf0.1 fixture "
                f"shape (upsert touches doc_id % 7 == 0)\n"
                f"# noop wall {wall:.3f}s, delta rows {n}\n\n"
            )
            fh.write(buf.getvalue())
    print({k: {"wall_s": round(v[0], 3), "rows": v[1]} for k, v in results.items()})
    shutil.rmtree(path, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
