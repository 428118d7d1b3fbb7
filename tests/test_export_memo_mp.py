"""Multi-process races over the memoized fixture export.

The r6 verdict flagged the pre-memoization export for racing concurrent
sessions (one session's stale-shard sweep deleting files another
session's reader had already indexed). The memoization closed the
common path; these tests drive the remaining window — two cold
processes exporting the SAME fixture concurrently — through the real
`_memoized_export` with an instrumented write_fn, asserting the
contract the production WARC/sitemap writers rely on: every committed
file is COMPLETE (temp-name + os.replace, never torn), the memo is
valid afterwards, and a process arriving after a valid memo does zero
write work even cross-process.

Spark-free on purpose: the memo layer never touches Spark (write_fn
does), so the race is reproducible with forked plain-Python writers —
the same pattern as tests/test_txnlog_mp.py.
"""

import json
import multiprocessing as mp
import os
import time

import pytest

from dbimport_spark.plans.warc_queries import _memoized_export

pytestmark = pytest.mark.slow  # opt in: SPARK_GRAFT_FULL_TESTS=1

N_FILES = 4
PAYLOAD = b"deterministic shard bytes\n" * 64


def _mk_source(tmp_path):
    """documents.parquet only needs to EXIST for the fingerprint (it
    stats names/sizes/mtimes, it never parses)."""
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"x" * 128)
    return str(sf)


def _record_fn(row):  # fingerprinted by bytecode, never called here
    return []


def _slow_write(out: str) -> list:
    """Deterministic writer with the production commit discipline
    (temp name + os.replace) and deliberate sleeps to widen the race
    window between files. Creates its own output dir, exactly like
    write_warc_shards / write_sitemap_shards."""
    os.makedirs(out, exist_ok=True)
    paths = []
    for i in range(N_FILES):
        p = os.path.join(out, f"shard-{i:02d}.bin")
        tmp = f"{p}.inprogress.{os.getpid()}"  # unique per attempt, like production
        with open(tmp, "wb") as fh:
            fh.write(PAYLOAD[: len(PAYLOAD) // 2])
            fh.flush()
            time.sleep(0.05)
            fh.write(PAYLOAD[len(PAYLOAD) // 2:])
        os.replace(tmp, p)
        paths.append(p)
        time.sleep(0.05)
    return paths


def _paths_ok(paths):
    return all(os.path.exists(p) for p in paths)


def _worker(sf, subdir, q, monkey_tmp):
    os.environ["TMPDIR"] = monkey_tmp  # isolate _export_dir per test
    import tempfile

    tempfile.tempdir = None  # re-evaluate TMPDIR in this process
    try:
        paths = _memoized_export(
            sf, subdir, _record_fn, _slow_write, _paths_ok
        )
        q.put(("ok", paths))
    except Exception as e:  # pragma: no cover - failure reporting
        q.put(("err", repr(e)))


def _run_procs(n, sf, subdir, monkey_tmp, stagger=0.0):
    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = []
    for _ in range(n):
        p = ctx.Process(target=_worker, args=(sf, subdir, q, monkey_tmp))
        p.start()
        procs.append(p)
        if stagger:
            time.sleep(stagger)
    results = [q.get(timeout=60) for _ in procs]
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0
    return results


@pytest.fixture()
def iso_tmp(tmp_path):
    """Per-test TMPDIR so _export_dir lands inside the test sandbox."""
    t = tmp_path / "tmp"
    t.mkdir()
    return str(t)


def _assert_committed_state(out_dir, expected_n):
    files = sorted(os.listdir(out_dir))
    assert not [f for f in files if f.endswith(".inprogress")], files
    shards = [f for f in files if f.startswith("shard-")]
    assert len(shards) == expected_n
    for f in shards:
        with open(os.path.join(out_dir, f), "rb") as fh:
            assert fh.read() == PAYLOAD, f"torn write in {f}"
    with open(os.path.join(out_dir, "_memo.json")) as fh:
        memo = json.load(fh)
    assert len(memo["paths"]) == expected_n
    assert all(os.path.exists(p) for p in memo["paths"])


def test_two_cold_processes_race_to_export(tmp_path, iso_tmp):
    sf = _mk_source(tmp_path)
    results = _run_procs(2, sf, "race_cold", iso_tmp)
    assert [s for s, _ in results] == ["ok", "ok"]
    a, b = (set(p) for _, p in results)
    assert a == b, "both processes must agree on the committed paths"
    out_dir = os.path.dirname(next(iter(a)))
    _assert_committed_state(out_dir, N_FILES)


def test_mid_write_joiner_sees_only_complete_files(tmp_path, iso_tmp):
    """Second process starts while the first is mid-export: whatever it
    observes (memo miss -> rewrite, or memo hit), every file it returns
    must be complete and the final state committed."""
    sf = _mk_source(tmp_path)
    results = _run_procs(2, sf, "race_mid", iso_tmp, stagger=0.12)
    assert [s for s, _ in results] == ["ok", "ok"]
    for _status, paths in results:
        for p in paths:
            with open(p, "rb") as fh:
                assert fh.read() == PAYLOAD
    out_dir = os.path.dirname(results[0][1][0])
    _assert_committed_state(out_dir, N_FILES)


def test_warm_process_is_pure_cache_hit_cross_process(tmp_path, iso_tmp):
    sf = _mk_source(tmp_path)
    first = _run_procs(1, sf, "warm", iso_tmp)
    assert first[0][0] == "ok"
    inodes = {p: os.stat(p).st_ino for p in first[0][1]}
    mtimes = {p: os.path.getmtime(p) for p in first[0][1]}
    second = _run_procs(1, sf, "warm", iso_tmp)
    assert second[0][0] == "ok"
    assert set(second[0][1]) == set(first[0][1])
    assert {p: os.stat(p).st_ino for p in second[0][1]} == inodes
    assert {p: os.path.getmtime(p) for p in second[0][1]} == mtimes
