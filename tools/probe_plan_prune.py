"""Planning-memory probe for pruned scan planning.

Builds a table whose multi-part checkpoint holds N live entries with
range-clustered zone maps (names + stats are synthetic — planning never
opens data files), then measures DRIVER-side allocation (tracemalloc
peak) of three planning strategies for a selective read touching one
narrow key band:

* ``full_fold``   — snapshot_files: the O(live) driver fold every
  read_snapshot-based path pays;
* ``fold_prune``  — read_snapshot_skipping_multi's candidate loop:
  still folds all live entries, prunes after;
* ``frame_prune`` — scan_candidates_df + collect of survivors only:
  the checkpoint's parts stream through the candidate rule a record
  batch at a time, O(candidates + batch) driver memory.

tracemalloc sees Python allocations only (not Arrow's buffers, not the
JVM). Run:  python tools/probe_plan_prune.py [n_files] [band_files]
Prints one JSON line; the ratio frame/full is the claim being graded.
"""

import json
import os
import shutil
import sys
import tempfile
import tracemalloc
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dbimport_spark import txnlog

ROWS_PER_FILE = 10_000


def build(n_files: int, per_commit: int = 1000) -> str:
    table = os.path.join(
        tempfile.gettempdir(), f"probe_plan_{uuid.uuid4().hex[:8]}"
    )
    os.makedirs(os.path.join(table, "data"))
    added = 0
    while added < n_files:
        batch = []
        for i in range(added, min(added + per_commit, n_files)):
            lo = i * ROWS_PER_FILE
            batch.append(
                {
                    "n": f"part-{i:07d}.parquet",
                    "stats": {
                        "__rows__": ROWS_PER_FILE,
                        "k": [lo, lo + ROWS_PER_FILE - 1],
                    },
                }
            )
        txnlog.commit(table, batch, [], txnlog.current_version(table))
        added += len(batch)
    txnlog.write_checkpoint(table)
    return table


def peak(fn):
    tracemalloc.start()
    out = fn()
    _, p = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    return out, p


def run(spark, n_files=100_000, band_files=20):
    table = build(n_files)
    lo = (n_files // 2) * ROWS_PER_FILE
    hi = lo + band_files * ROWS_PER_FILE - 1
    bounds = {"k": (lo, hi)}

    # warm the Spark/py4j/Arrow import machinery once so the measured
    # peaks are the strategies' own allocations, not first-use costs
    txnlog.scan_candidates_df(spark, table, bounds).select("n").collect()

    full, p_full = peak(lambda: len(txnlog.snapshot_files(table)))
    pruned, p_fold = peak(
        lambda: len(
            [
                n
                for n, st in txnlog.snapshot_stats(table).items()
                if st.get("k")
                and not (st["k"][1] < lo or st["k"][0] > hi)
            ]
        )
    )
    cand, p_frame = peak(
        lambda: [
            r["n"]
            for r in txnlog.scan_candidates_df(spark, table, bounds)
            .select("n")
            .collect()
        ]
    )
    assert full == n_files
    assert len(cand) == pruned == band_files, (len(cand), pruned)
    out = {
        "metric": "plan_prune_probe",
        "n_files": n_files,
        "candidates": len(cand),
        "peak_full_fold_mb": round(p_full / 1e6, 2),
        "peak_fold_prune_mb": round(p_fold / 1e6, 2),
        "peak_frame_prune_mb": round(p_frame / 1e6, 2),
        "frame_over_full": round(p_frame / p_full, 4),
    }
    shutil.rmtree(table, ignore_errors=True)
    return out


if __name__ == "__main__":
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("probe_plan_prune")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    band = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    print(json.dumps(run(spark, n, band)))
    spark.stop()
