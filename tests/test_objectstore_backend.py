"""Round-9: the object-store commit backend with REAL store semantics —
conditional PUT (no hard links) + a double injecting eventual
list-after-write visibility (dbimport_spark/txnlog.py
ObjectStoreClient / LocalObjectStoreEmulator / EventuallyConsistentStore
/ ObjectStoreCommitBackend).

Safety claim under stale LISTs: a writer whose current_version runs
behind only ever LOSES the conditional PUT and retries — no clobbered
entry, no version hole, no partial entry ever visible. Liveness: once
the listing converges, the writer lands.
"""

import json
import os
import threading

import pytest

from dbimport_spark import txnlog


@pytest.fixture()
def table(tmp_path):
    t = str(tmp_path / "tbl")
    os.makedirs(os.path.join(t, "_txn_log"))
    os.makedirs(os.path.join(t, "data"))
    return t


def _restore(prev):
    txnlog.set_commit_backend(prev)


def test_conditional_put_without_links_is_exclusive(tmp_path):
    store = txnlog.LocalObjectStoreEmulator()
    key = str(tmp_path / "ns" / "00000000.json")
    assert store.put_if_none_match(key, b'{"v": 1}')
    assert not store.put_if_none_match(key, b'{"v": 2}')  # loser refused
    assert store.get(key) == b'{"v": 1}'  # never clobbered
    assert store.list_prefix(str(tmp_path / "ns")) == ["00000000.json"]


def test_single_writer_converges_through_stale_lists(table):
    store = txnlog.EventuallyConsistentStore(lag=2)
    prev = txnlog.set_commit_backend(txnlog.ObjectStoreCommitBackend(store))
    try:
        conflicts = 0
        for i in range(5):
            for _ in range(50):
                try:
                    txnlog.commit(
                        table, [f"f{i}.parquet"], [], txnlog.current_version(table)
                    )
                    break
                except txnlog.TxnConflict:
                    conflicts += 1
            else:
                raise AssertionError("writer starved behind its own writes")
        # the lag made even read-your-own-writes fail: the retry path ran
        assert conflicts > 0
    finally:
        _restore(prev)
    # converged state: contiguous versions, every entry complete
    assert txnlog.current_version(table) == 4
    for v in range(5):
        entry = txnlog._read_entry_body(table, v)
        assert entry["added"] == [{"n": f"f{v}.parquet"}]


def test_racing_writers_linearize_under_stale_lists(table):
    store = txnlog.EventuallyConsistentStore(lag=3)
    prev = txnlog.set_commit_backend(txnlog.ObjectStoreCommitBackend(store))
    errors = []

    def writer(wid):
        try:
            for i in range(5):
                for _ in range(500):
                    try:
                        txnlog.commit(
                            table, [f"w{wid}_{i}.parquet"], [],
                            txnlog.current_version(table),
                        )
                        break
                    except txnlog.TxnConflict:
                        continue
                else:
                    raise AssertionError(f"writer {wid} starved")
        except Exception as e:  # surface thread failures to the test
            errors.append(e)

    try:
        threads = [threading.Thread(target=writer, args=(w,)) for w in range(3)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        _restore(prev)
    assert not errors
    # 15 commits -> versions 0..14, no holes, no clobbers, all complete
    assert txnlog.current_version(table) == 14
    seen = set()
    for v in range(15):
        fp = os.path.join(table, "_txn_log", f"{v:08d}.json")
        with open(fp) as fh:
            entry = json.load(fh)  # parses => never partial
        (name,) = entry["added"]
        assert name not in seen  # exactly-once: no entry landed twice
        seen.add(name)
    assert seen == {f"w{w}_{i}.parquet" for w in range(3) for i in range(5)}


def test_full_table_lifecycle_through_adapter(spark, table):
    """A Spark-level append/delete/compact/read cycle with the adapter
    installed — the deployment wiring, not just the log layer."""
    from pyspark.sql import functions as F

    prev = txnlog.set_commit_backend(
        txnlog.ObjectStoreCommitBackend(txnlog.LocalObjectStoreEmulator())
    )
    try:
        txnlog.txn_append(
            spark, spark.range(20).selectExpr("id AS k"), table
        )
        txnlog.txn_delete_dv(spark, F.col("k") % 4 == 0, table)
        txnlog.txn_compact(spark, table, min_files=1)
        assert txnlog.read_snapshot(spark, table).count() == 15
        # no hard links anywhere in the log dir (the claim is the marker)
        d = os.path.join(table, "_txn_log")
        for fn in os.listdir(d):
            fp = os.path.join(d, fn)
            if os.path.isfile(fp):
                assert os.stat(fp).st_nlink == 1, fn
    finally:
        _restore(prev)
