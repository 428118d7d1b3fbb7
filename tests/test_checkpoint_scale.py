"""Scale probe: multi-part checkpoints keep the DRIVER flat at large
live-file counts. The checkpoint writer streams the previous
checkpoint's parts plus the suffix into the next checkpoint's parts, so
its driver peak does not grow with the live set, while the dict fold
(_fold_log3) does.

The log is synthesized (file names only; no data bytes are needed for
log resolution), so a 100k-live-file table costs milliseconds to build.
"""

import json
import os
import tracemalloc

import pytest

from dbimport_spark import txnlog

pytestmark = pytest.mark.slow  # opt in: SPARK_GRAFT_FULL_TESTS=1


def _synth_table(tmp_path, name, n_live, parts=8, suffix_commits=5):
    """A table whose log holds ``n_live`` live files: 8 bulk appends,
    a multi-part checkpoint, then a small suffix (adds + removes)."""
    table = str(tmp_path / name)
    per = n_live // parts
    v = -1
    for b in range(parts):
        v = txnlog.commit(
            table,
            [f"f{b:02d}-{i:06d}.parquet" for i in range(per)],
            [],
            v,
            op="APPEND",
        )
    txnlog.write_checkpoint(table, v)  # cold start: one driver fold, once
    for s in range(suffix_commits):
        v = txnlog.commit(
            table,
            [f"suf-{s}-{i}.parquet" for i in range(3)],
            [f"f00-{s:06d}.parquet"],
            v,
            op="UPSERT",
        )
    return table, v


def test_multipart_checkpoint_scale_probe(tmp_path, monkeypatch):
    monkeypatch.setattr(txnlog, "CHECKPOINT_ROWS_PER_PART", 20_000)
    big, vb = _synth_table(tmp_path, "big", 100_000)
    small, vs = _synth_table(tmp_path, "small", 10_000)

    # O(parts) resolution: the cold checkpoint split into ceil(live/part)
    man = txnlog._checkpoint_manifest(big, vb - 5)
    assert len(man["parts"]) == 5 and man["n_live"] == 100_000

    # the streamed state holds every live file once
    n_state = txnlog._stream_state(big, vb, lambda _h, bs: sum(map(len, bs)))
    assert n_state == 100_000 + 15 - 5

    def peak_of(fn):
        tracemalloc.start()
        fn()
        _, peak = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        return peak

    # streamed checkpoint: python-driver peak stays flat (O(suffix +
    # batch)) while the live set grows 10x; the dict fold grows O(live)
    peak_small = peak_of(lambda: txnlog.write_checkpoint(small, vs))
    peak_big = peak_of(lambda: txnlog.write_checkpoint(big, vb))
    peak_fold_big = peak_of(lambda: txnlog._fold_log3(big, vb))
    assert peak_big < 3 * max(peak_small, 1_000_000), (
        f"streamed checkpoint driver peak grew with live count: "
        f"{peak_small} -> {peak_big}"
    )
    assert peak_big < peak_fold_big / 3, (
        f"streamed checkpoint ({peak_big}) must stay well under the dict "
        f"fold ({peak_fold_big}) at 100k live files"
    )

    # the streamed checkpoint is CORRECT: fold through it == bypass
    man2 = txnlog._checkpoint_manifest(big, vb)
    assert man2 is not None and man2["n_live"] == 100_000 + 15 - 5
    assert len(man2["parts"]) == 6  # ceil(100_010 / 20_000)
    through = txnlog._fold_log3(big, vb)
    with monkeypatch.context() as m:
        m.setattr(txnlog, "_latest_checkpoint_at_or_below", lambda *_: -1)
        bypass = txnlog._fold_log3(big, vb)
    assert through == bypass

    # resolution through the new checkpoint replays ONLY the manifest's
    # parts + zero suffix JSONs at the checkpointed version
    opened = []
    import builtins
    import unittest.mock as mock

    real_open = open

    def counting_open(f, *a, **kw):
        opened.append(str(f))
        return real_open(f, *a, **kw)

    with mock.patch.object(builtins, "open", counting_open):
        live, _, _ = txnlog._fold_log3(big, vb)
    assert len(live) == 100_000 + 15 - 5
    json_reads = [
        f for f in opened if "_txn_log" in f and f.endswith(".json")
    ]
    # exactly the manifest — no per-version JSON replay needed
    assert all(f.endswith("manifest.json") for f in json_reads)
