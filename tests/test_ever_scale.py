"""Bounded dead-file accounting (r9 verdict item 1).

The round-9 ``_ever.<v>.json`` consolidation was cumulative: every file
name EVER added stayed in one monolithic JSON that vacuum folded into
driver sets and every cleanup rewrote — O(files-ever) driver memory and
IO in the maintenance path a 100 TB deployment runs on a cadence. The
replacement is sharded (``_ever.<v>/`` parquet parts + manifest, the
multi-part checkpoint design), carried forward by hard link (cleanup is
O(new entries)), PRUNED by vacuum down to the keep set after deletion
(a name whose file is gone can never need reaping again), and
superseded consolidations are reaped. These tests pin the bound and
the exactness it must not cost; tools/probe_churn.py is the full
100k-files-ever probe (flat driver memory, flat log dir)."""

import os

import pytest

from dbimport_spark import txnlog
from tools.probe_churn import _commit_retry, _touch_batch, run as churn_run

pytestmark = pytest.mark.slow  # opt in: SPARK_GRAFT_FULL_TESTS=1


@pytest.fixture
def table(tmp_path):
    t = str(tmp_path / "tbl")
    os.makedirs(os.path.join(t, "data"))
    return t


def _churn(table, rounds, batch, vacuum_every=3):
    prev = []
    for r in range(rounds):
        cur = _touch_batch(table, batch)
        _commit_retry(table, cur, prev)
        prev = cur
        if (r + 1) % vacuum_every == 0:
            txnlog.vacuum(table, retain_versions=1)
    return prev


class TestBoundedAccounting:
    def test_consolidation_tracks_live_not_ever(self, table, monkeypatch):
        monkeypatch.setattr(txnlog, "CHECKPOINT_INTERVAL", 4)
        txnlog.txn_set_property(table, "logRetention.cleanup", "auto")
        live = _churn(table, rounds=30, batch=50)  # 1500 files ever, 50 live
        files, dvs, through = txnlog._read_ever(table)
        # pruned to the keep set: O(live), nowhere near files-ever
        assert len(files) <= 2 * 50 + 5
        assert set(live) <= files
        # exactly one consolidation survives (superseded ones reaped)
        assert len(txnlog._ever_versions(table)) == 1
        # horizon markers capped
        mks = [
            f
            for f in os.listdir(os.path.join(table, "_txn_log"))
            if f.startswith("_vacuum.")
        ]
        assert len(mks) <= 3

    def test_log_dir_stops_growing(self, table, monkeypatch):
        monkeypatch.setattr(txnlog, "CHECKPOINT_INTERVAL", 4)
        txnlog.txn_set_property(table, "logRetention.cleanup", "auto")

        def entry_count():
            return sum(
                1
                for f in os.listdir(os.path.join(table, "_txn_log"))
                if f.endswith(".json") and f[:-5].isdigit()
            )

        _churn(table, rounds=12, batch=20)
        early = entry_count()
        _churn(table, rounds=24, batch=20)
        late = entry_count()
        # retained window only: interval + retention, not O(versions)
        assert late <= early + 2
        assert late <= 12

    def test_vacuum_exact_after_pruning_rounds(self, table, monkeypatch):
        """The bound must not cost exactness: after many prune/reap
        cycles, live files and a foreign file survive, dead ones are
        gone, every readable version resolves."""
        monkeypatch.setattr(txnlog, "CHECKPOINT_INTERVAL", 3)
        txnlog.txn_set_property(table, "logRetention.cleanup", "auto")
        foreign = os.path.join(table, "data", "foreign.parquet")
        open(foreign, "wb").close()
        live = _churn(table, rounds=20, batch=10)
        on_disk = set(os.listdir(os.path.join(table, "data")))
        assert os.path.exists(foreign)
        assert set(live) <= on_disk
        # nothing dead beyond the retained window survives
        h = txnlog.vacuum_horizon(table)
        cur = txnlog.current_version(table)
        referenced = set()
        for v in range(h, cur + 1):
            names = {
                os.path.basename(f) for f in txnlog.snapshot_files(table, v)
            }
            assert names <= on_disk, f"version {v} references vacuumed files"
            referenced |= names
        assert on_disk - referenced - {"foreign.parquet"} == set()

    def test_churn_probe_small(self):
        out = churn_run(files_ever_target=3000, live=100, vacuum_every=3)
        assert out["files_live"] == 100
        assert out["late"]["consolidation_rows"] <= 2 * 100 + 5
        assert out["late"]["entries"] <= txnlog.CHECKPOINT_INTERVAL + 3
        # flat, not O(files-ever): late log dir within noise of early
        assert out["log_bytes_ratio"] < 1.5


class TestShardedFormat:
    def test_parts_and_hardlink_carry(self, table, monkeypatch):
        monkeypatch.setattr(txnlog, "CHECKPOINT_INTERVAL", 3)
        monkeypatch.setattr(txnlog, "EVER_ROWS_PER_PART", 8)
        prev = []
        for r in range(9):
            cur = _touch_batch(table, 6)
            _commit_retry(table, cur, prev)
            prev = cur
        txnlog.vacuum(table, retain_versions=2)
        assert txnlog.txn_cleanup_log(table) > 0
        v1 = txnlog._ever_best(table)
        man1 = txnlog._ever_manifest(table, v1)
        assert man1 is not None and len(man1["parts"]) >= 1
        # chunked iteration streams the parts
        total = sum(len(fs) for fs, _ in txnlog._iter_ever_chunks(table, v1))
        files1, _, _ = txnlog._read_ever(table)
        assert total == len(files1)
        # grow further; next cleanup carries prior parts by hard link
        for r in range(6):
            cur = _touch_batch(table, 6)
            _commit_retry(table, cur, prev)
            prev = cur
        txnlog.vacuum(table, retain_versions=2)
        txnlog.txn_cleanup_log(table)
        v2 = txnlog._ever_best(table)
        assert v2 > v1
        man2 = txnlog._ever_manifest(table, v2)
        assert man2 is not None
        assert len(txnlog._ever_versions(table)) == 1  # v1 reaped


def test_cleanup_reaps_unreachable_change_data(spark, table, monkeypatch):
    """cdf.enabled churn: change dirs for versions below the log floor
    are unreachable (their entries are gone — resume below the floor
    already raises) and must be reaped by cleanup; dirs at/above the
    floor stay streamable."""
    monkeypatch.setattr(txnlog, "CHECKPOINT_INTERVAL", 2)
    txnlog.txn_set_property(table, "cdf.enabled", "true")
    df = spark.createDataFrame([(i, i * 10) for i in range(20)], "k long, v long")
    txnlog.txn_append(spark, df, table)
    for r in range(6):  # rewrite commits materialize _change_data/v<N>
        txnlog.txn_upsert(
            spark,
            spark.createDataFrame([(r, r * 100)], "k long, v long"),
            table,
            ["k"],
        )
    cdf_root = os.path.join(table, "_change_data")
    before = sorted(os.listdir(cdf_root))
    assert len(before) >= 4
    txnlog.vacuum(table, retain_versions=2)
    txnlog.txn_cleanup_log(table)
    floor = txnlog.log_floor(table)
    assert floor > 0
    after = sorted(os.listdir(cdf_root))
    assert after == [d for d in before if int(d[1:]) >= floor]
    # streaming from the floor still works end to end
    from dbimport_spark.sources.lakecdc import register_lake_cdc

    register_lake_cdc(spark)
    q = (
        spark.readStream.format("lake_cdc")
        .option("path", table)
        .option("startingVersion", str(floor))
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("memory")
        .queryName("reten_cdf_tail")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.table("reten_cdf_tail").count() > 0
