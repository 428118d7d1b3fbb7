"""Churn probe for vacuum and log retention on a long-lived table.

Simulates a long-lived compaction-churned table: every round commits a
batch of fresh data files and removes the previous batch, so files-EVER
grows without bound while files-LIVE stays small. Vacuum (with
``logRetention.cleanup=auto``) takes its candidates from the retained
log alone, so both of these must stay FLAT:

* vacuum's tracemalloc peak tracks O(live + retained suffix + one
  record batch), not files-ever — measured early vs late;
* the log directory's footprint (entries, checkpoints, horizon
  markers: every byte under ``_txn_log``) stops growing — counted
  early vs late;
* correctness is re-asserted at the end: live files all on disk, every
  version >= horizon resolves, foreign files survive, and
  ``dead_on_disk`` counts the dead files vacuum left behind (0 when it
  is exact).

Data files are zero-byte placeholders (vacuum never reads data bytes;
the accounting only tracks NAMES), which makes a 100k-files-ever run
take seconds. Run:  python tools/probe_churn.py  [files_ever] [live]
Prints one JSON line with the measurements.
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


def _touch_batch(table, n):
    names = []
    for _ in range(n):
        name = f"part-{uuid.uuid4().hex}.parquet"
        open(os.path.join(table, "data", name), "wb").close()
        names.append(name)
    return names


def _commit_retry(table, added, removed):
    for _ in range(10):
        v = txnlog.current_version(table)
        try:
            return txnlog.commit(table, added, removed, v)
        except txnlog.TxnConflict:
            continue
    raise RuntimeError("commit kept conflicting")


def _vacuum_peak(table):
    """(result_len, tracemalloc peak bytes) of one vacuum+auto-cleanup."""
    tracemalloc.start()
    doomed = txnlog.vacuum(table, retain_versions=1)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    return len(doomed), peak


def _log_footprint(table):
    """Entry and horizon-marker counts of the log dir, and the bytes of
    every file under it."""
    d = os.path.join(table, "_txn_log")
    entries = markers = nbytes = 0
    for fn in os.listdir(d):
        if fn.endswith(".json") and fn[:-5].isdigit():
            entries += 1
        elif fn.startswith("_vacuum."):
            markers += 1
    for root, _, files in os.walk(d):
        nbytes += sum(os.path.getsize(os.path.join(root, fn)) for fn in files)
    return {"entries": entries, "markers": markers, "bytes": nbytes}


def run(files_ever_target=100_000, live=500, vacuum_every=5):
    table = os.path.join(tempfile.gettempdir(), f"probe_churn_{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(table, "data"))
    txnlog.txn_set_property(table, "logRetention.cleanup", "auto")
    foreign = os.path.join(table, "data", "foreign.parquet")
    open(foreign, "wb").close()

    prev = []
    ever = 0
    rounds = 0
    early = None
    while ever < files_ever_target:
        batch = _touch_batch(table, live)
        _commit_retry(table, batch, prev)
        prev, ever, rounds = batch, ever + live, rounds + 1
        if rounds % vacuum_every == 0:
            _, peak = _vacuum_peak(table)
            if early is None and ever >= 4 * live * vacuum_every:
                early = {"ever": ever, "peak": peak, **_log_footprint(table)}
    _, late_peak = _vacuum_peak(table)
    late = {"ever": ever, "peak": late_peak, **_log_footprint(table)}

    # correctness: live files present, foreign untouched, snapshot resolves
    on_disk = set(os.listdir(os.path.join(table, "data")))
    assert set(prev) <= on_disk, "live files were vacuumed"
    assert os.path.exists(foreign), "foreign file was vacuumed"
    h = txnlog.vacuum_horizon(table)
    cur = txnlog.current_version(table)
    for v in range(h, cur + 1):
        names = {os.path.basename(f) for f in txnlog.snapshot_files(table, v)}
        assert names <= on_disk, f"version {v} references vacuumed files"
    dead_on_disk = len(on_disk) - len(prev) - 1
    out = {
        "metric": "churn_probe",
        "files_ever": ever,
        "files_live": len(prev),
        "dead_on_disk": dead_on_disk,
        "early": early,
        "late": late,
        "peak_ratio_late_over_early": round(late_peak / early["peak"], 2),
        "log_bytes_ratio": round(late["bytes"] / early["bytes"], 2),
    }
    shutil.rmtree(table, ignore_errors=True)
    return out


if __name__ == "__main__":
    ever = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    live = int(sys.argv[2]) if len(sys.argv) > 2 else 500
    print(json.dumps(run(ever, live)))
