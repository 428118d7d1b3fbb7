"""One scan for txnlog: every pruned read, partitioned read and pruned
DML opens exactly the files the one candidate rule (``_candidates``)
names, and returns what ``read_snapshot`` plus the exact predicate
returns (dbimport_spark/txnlog.py)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from dbimport_spark import txnlog


def _names(paths) -> set:
    return {os.path.basename(p) for p in paths}


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def _build_flat(spark, path):
    """Zone maps + blooms on ``k`` (one file per key band), a stat-less
    file, a log-proven empty file, row ids, ``k`` renamed to ``key``
    (stats and sidecars stay keyed by the physical ``k``), then DVs."""
    txnlog.txn_enable_row_ids(path)
    df = spark.range(100).selectExpr("id AS k", "CAST(id % 3 AS STRING) AS v")
    for b in range(4):
        band = df.filter((F.col("k") >= b * 25) & (F.col("k") < (b + 1) * 25))
        txnlog.txn_append_indexed(
            spark, band.coalesce(1), path, stats_cols=["k"], bloom_col="k"
        )
    txnlog.txn_append(
        spark, spark.createDataFrame([(200, "x"), (205, "y")], "k long, v string")
        .coalesce(1), path,
    )
    txnlog.txn_append_stats(spark, df.limit(0), path, ["k"])
    txnlog.txn_rename_column(spark, path, "k", "key")
    txnlog.txn_delete_dv(spark, F.col("key") % 7 == 0, path)


def _build_partitioned(spark, path):
    """The partitioned twin: the same rows split by ``region``, ``v``
    renamed to ``val``, then DVs."""
    df = spark.range(100).selectExpr(
        "id AS key",
        "CAST(id % 3 AS STRING) AS v",
        "CASE WHEN id % 2 = 0 THEN 'eu' ELSE 'us' END AS region",
    )
    for b in range(2):
        txnlog.txn_append_partitioned(
            spark, df.filter(F.col("key") % 2 == b), path, "region"
        )
    txnlog.txn_rename_column(spark, path, "v", "val")
    txnlog.txn_delete_dv(spark, F.col("key") % 7 == 0, path)


@pytest.fixture(scope="module")
def flat(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("scan") / "flat")
    _build_flat(spark, path)
    return path


@pytest.fixture(scope="module")
def parted(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("scan") / "parted")
    _build_partitioned(spark, path)
    return path


def _reads_like_read_snapshot(spark, path, df, pred, want_files):
    full = txnlog.read_snapshot(spark, path)
    assert sorted(df.columns) == sorted(full.columns)
    cols = sorted(full.columns)
    assert _rows(df.filter(pred).select(*cols)) == _rows(
        full.filter(pred).select(*cols)
    )
    assert _names(df.inputFiles()) == set(want_files)


def test_fixture_has_every_kind_of_file(spark, flat, parted):
    snap = txnlog.Snapshot.at(flat)
    stats = [d["stats"] for d in snap.live.values()]
    assert sum(1 for st in stats if st.get("__rows__") == 0) == 1
    assert sum(1 for st in stats if not st) == 1
    assert sum(1 for st in stats if "__bloom__" in st) == 4
    assert snap.dvs and txnlog.Snapshot.at(parted).dvs
    assert "key" in txnlog.read_snapshot(spark, flat).columns
    assert "val" in txnlog.read_snapshot(spark, parted).columns


def test_every_reader_opens_the_candidates(spark, flat):
    snap = txnlog.Snapshot.at(flat)
    band = F.col("key").between(20, 30)
    zone = txnlog._candidates(snap, bounds={"key": (20, 30)})
    bloom = txnlog._candidates(snap, bloom=("key", [5, 60]))
    # the band's two files and the stat-less one; never the empty file
    assert len(zone) == 3 and len(bloom) == 3
    point = F.col("key").isin(5, 60)
    for df, pred, want in [
        (txnlog.read_snapshot(spark, flat), band, snap.names),
        (txnlog.read_snapshot_skipping(spark, flat, "key", 20, 30), band, zone),
        (
            txnlog.read_snapshot_skipping_multi(spark, flat, {"key": (20, 30)}),
            band, zone,
        ),
        (txnlog.read_snapshot_pruned(spark, flat, {"key": (20, 30)}), band, zone),
        (txnlog.read_snapshot_bloom(spark, flat, "key", [5, 60]), point, bloom),
        (
            txnlog.read_snapshot_rowids(spark, flat).drop("_row_id"),
            band, snap.names,
        ),
    ]:
        _reads_like_read_snapshot(spark, flat, df, pred, want)
    assert _names(txnlog.bloom_candidate_files(flat, "key", [5, 60])) == set(bloom)
    planned = txnlog.scan_candidates_df(spark, flat, {"key": (20, 30)})
    assert {r["n"] for r in planned.select("n").collect()} == set(zone)
    handed = txnlog.read_snapshot_pruned(
        spark, flat, {"key": (20, 30)},
        candidates=planned.select("n", "p", "dv").collect(),
    )
    _reads_like_read_snapshot(spark, flat, handed, band, zone)


def test_every_reader_opens_the_candidates_partitioned(spark, parted):
    snap = txnlog.Snapshot.at(parted)
    eu = F.col("region") == "eu"
    cand = txnlog._candidates(snap, partitions=["eu"])
    assert 0 < len(cand) < len(snap.names)
    band = F.col("key").between(20, 30)
    for df, pred, want in [
        (txnlog.read_snapshot(spark, parted), eu, snap.names),
        (
            txnlog.read_snapshot_partitioned(
                spark, parted, "region", partition_values=["eu"]
            ),
            eu, cand,
        ),
        (
            txnlog.read_snapshot_pruned(
                spark, parted, partition_col="region", partition_values=["eu"]
            ),
            eu, cand,
        ),
        # no zone maps or blooms on the partitioned files: every file is
        # a candidate, read with the partition column re-attached
        (txnlog.read_snapshot_skipping(spark, parted, "key", 20, 30), band, snap.names),
        (
            txnlog.read_snapshot_skipping_multi(spark, parted, {"key": (20, 30)}),
            band, snap.names,
        ),
        (txnlog.read_snapshot_bloom(spark, parted, "key", [5]), band, snap.names),
    ]:
        _reads_like_read_snapshot(spark, parted, df, pred, want)
    planned = txnlog.scan_candidates_df(spark, parted, partition_values=["eu"])
    assert {r["n"] for r in planned.select("n").collect()} == set(cand)
    assert _names(txnlog.bloom_candidate_files(parted, "key", [5])) == set(snap.names)


def _copy(base, tmp_path) -> str:
    path = str(tmp_path / "t")
    shutil.copytree(base, path)
    return path


@pytest.mark.parametrize(
    "base, spec",
    [
        ("flat", {"bounds": {"key": (20, 30)}}),
        ("parted", {"partition_col": "region", "partition_values": ["eu"]}),
    ],
)
def test_pruned_planning_over_a_checkpoint_and_a_suffix(
    spark, request, tmp_path, base, spec
):
    """Planned over a checkpoint plus a suffix that re-points the DV of a
    checkpointed file, removes a checkpointed candidate and adds a file,
    scan_candidates_df and read_snapshot_pruned keep the files the one
    rule keeps on the folded Snapshot, and read their rows."""
    path = _copy(request.getfixturevalue(base), tmp_path)
    txnlog.write_checkpoint(path)
    ckpt = txnlog.Snapshot.at(path)
    rule = {"bounds": spec.get("bounds"), "partitions": spec.get("partition_values")}
    txnlog.txn_delete_dv(spark, F.col("key") == 28, path)
    entry = txnlog._read_entry_body(path, ckpt.version + 1)
    (repointed,) = {d["n"] for d in entry["dv"]}
    assert repointed in ckpt.dvs
    victim = next(n for n in txnlog._candidates(ckpt, **rule) if n != repointed)
    txnlog.commit(path, [], [victim], ckpt.version + 1, op="DELETE")
    if base == "flat":
        df = spark.createDataFrame([(27, "n")], "key long, v string")
        txnlog.txn_append_stats(spark, df, path, ["key"])
    else:
        df = spark.createDataFrame(
            [(26, "n", "eu")], "key long, val string, region string"
        )
        txnlog.txn_append_partitioned(spark, df, path, "region")
    snap = txnlog.Snapshot.at(path)
    assert txnlog._latest_checkpoint_at_or_below(path, snap.version) == ckpt.version
    want = txnlog._candidates(snap, **rule)
    assert repointed in want and victim not in want
    assert len(set(want) - set(ckpt.names)) == 1
    scan = {k: v for k, v in spec.items() if k != "partition_col"}
    planned = txnlog.scan_candidates_df(spark, path, **scan)
    assert [r["n"] for r in planned.collect()] == want
    pred = F.col("key").between(20, 30) if base == "flat" else F.col("region") == "eu"
    _reads_like_read_snapshot(
        spark, path, txnlog.read_snapshot_pruned(spark, path, **spec), pred, want
    )


def _hit_scans(monkeypatch, path) -> list:
    """Record the files each DV writer's marked hit scan of ``path``
    opens (the merge-on-read core persists its matched rows, and a
    persisted frame names no input files, so the scan is read where it
    is built)."""
    seen = []
    orig = txnlog._read_snapshot

    def spy(spark, snap, *a, **k):
        df = orig(spark, snap, *a, **k)
        if k.get("marked") and snap.path == path:
            seen.append(_names(df.inputFiles()))
        return df

    monkeypatch.setattr(txnlog, "_read_snapshot", spy)
    return seen


_SRC = [(5, "five"), (60, "sixty"), (300, "new")]
_CLAUSES = [
    ("matched_update", None, {"v": "s.v"}),
    ("not_matched_insert", None, {"key": "s.key", "v": "s.v"}),
]


@pytest.mark.parametrize(
    "op", ["delete_cow", "delete_dv", "merge_cow", "merge_into_cow", "merge_dv"]
)
def test_every_pruned_dml_touches_the_candidates(
    spark, flat, tmp_path, monkeypatch, op
):
    path = _copy(flat, tmp_path)
    ref = str(tmp_path / "ref")
    shutil.copytree(flat, ref)
    before = txnlog.Snapshot.at(path)
    band = F.col("key").between(20, 30)
    src = spark.createDataFrame(_SRC, "key long, v string")
    keys = [k for k, _ in _SRC]
    hits = _hit_scans(monkeypatch, path)
    if op.startswith("delete"):
        want = txnlog._candidates(before, bounds={"key": (20, 30)})
        fn = txnlog.txn_delete_cow if op == "delete_cow" else txnlog.txn_delete_dv
        fn(spark, band, path, zone=("key", 20, 30))
        txnlog.txn_delete(spark, band, ref)
    else:
        want = txnlog._candidates(
            before, keys=("key", keys), bloom=("key", keys)
        )
        if op == "merge_cow":
            txnlog.txn_merge_cow(spark, src, path, ["key"], use_bloom=True)
        elif op == "merge_dv":
            txnlog.txn_merge_dv(spark, src, path, ["key"], use_bloom=True)
        else:
            txnlog.txn_merge_into_cow(
                spark, src, path, ["key"], _CLAUSES, use_bloom=True
            )
        txnlog.txn_upsert(spark, src, ref, ["key"])
    assert 0 < len(want) < len(before.names)
    if op.endswith("_dv"):
        assert hits == [set(want)]
    else:
        entry = txnlog._read_entry_body(path, txnlog.current_version(path))
        assert set(entry["removed"]) == set(want)
    cols = ["key", "v"]
    assert _rows(txnlog.read_snapshot(spark, path).select(*cols)) == _rows(
        txnlog.read_snapshot(spark, ref).select(*cols)
    )


def test_every_pruned_dml_touches_the_candidates_partitioned(
    spark, parted, tmp_path, monkeypatch
):
    path = _copy(parted, tmp_path)
    hits = _hit_scans(monkeypatch, path)
    # a region predicate would let Spark drop the other value's union
    # branch itself; this one needs every candidate scanned
    pred = (F.col("key") < 30) & (F.col("val") != "1")
    before = txnlog.read_snapshot(spark, path)
    want = _rows(before.filter(~pred))
    cand = txnlog._candidates(txnlog.Snapshot.at(path))
    txnlog.txn_delete_dv(spark, pred, path)
    assert hits == [set(cand)]
    assert _rows(txnlog.read_snapshot(spark, path).select(*before.columns)) == want


def test_log_proven_empty_files_are_never_opened(spark, tmp_path):
    """One 1-row indexed file and two empty ones: every pruned reader of
    a range holding the row opens the one file, whichever metadata its
    rule reads."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(5, "a")], "k long, v string")
    txnlog.txn_append_indexed(spark, df.coalesce(1), path, ["k"], "k")
    for _ in range(2):
        txnlog.txn_append_stats(spark, df.limit(0), path, ["k"])
    snap = txnlog.Snapshot.at(path)
    assert [d["stats"]["__rows__"] for d in snap.live.values()].count(0) == 2
    (one,) = [n for n, d in snap.live.items() if d["stats"]["__rows__"] == 1]
    for df in [
        txnlog.read_snapshot_skipping(spark, path, "k", 0, 9),
        txnlog.read_snapshot_skipping_multi(spark, path, {"k": (0, 9)}),
        txnlog.read_snapshot_pruned(spark, path, {"k": (0, 9)}),
        txnlog.read_snapshot_bloom(spark, path, "k", [5]),
    ]:
        assert _names(df.inputFiles()) == {one}
        assert df.count() == 1
    assert _names(txnlog.bloom_candidate_files(path, "k", [5])) == {one}
    planned = txnlog.scan_candidates_df(spark, path, {"k": (0, 9)})
    assert [r["n"] for r in planned.select("n").collect()] == [one]


def test_every_public_reader_refuses_a_vacuumed_version(spark, tmp_path):
    path = str(tmp_path / "t")
    txnlog.txn_enable_row_ids(path)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    txnlog.txn_append_indexed(spark, df, path, ["k"], "k")
    txnlog.txn_append_indexed(spark, df, path, ["k"], "k")
    txnlog.txn_upsert(spark, df, path, ["k"])
    txnlog.vacuum(path, retain_versions=1)
    v = txnlog.current_version(path) - 1
    assert txnlog.vacuum_horizon(path) > v
    cand = [{"n": n, "p": None, "dv": None} for n in txnlog.snapshot_files(path)]
    for read in [
        lambda: txnlog.read_snapshot(spark, path, v),
        lambda: txnlog.read_snapshot_partitioned(spark, path, "k", v),
        lambda: txnlog.read_snapshot_skipping(spark, path, "k", 0, 9, v),
        lambda: txnlog.read_snapshot_skipping_multi(spark, path, {"k": (0, 9)}, v),
        lambda: txnlog.read_snapshot_bloom(spark, path, "k", [1], v),
        lambda: txnlog.read_snapshot_rowids(spark, path, v),
        lambda: txnlog.read_snapshot_pruned(spark, path, {"k": (0, 9)}, version=v),
        lambda: txnlog.read_snapshot_pruned(spark, path, version=v, candidates=cand),
        lambda: txnlog.bloom_candidate_files(path, "k", [1], v),
        lambda: txnlog.scan_candidates_df(spark, path, {"k": (0, 9)}, version=v),
    ]:
        with pytest.raises(ValueError, match="vacuumed"):
            read()


def test_bounds_that_do_not_compare_keep_the_file(spark, tmp_path):
    """A zone map whose values do not compare with the caller's (string
    stats against int bounds or int source keys) cannot prune: every
    pruned reader and DML keeps the file."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    txnlog.txn_append_stats(spark, df.coalesce(1), path, ["v"])
    (one,) = txnlog.Snapshot.at(path).names
    for read in [
        txnlog.read_snapshot_skipping(spark, path, "v", 0, 10),
        txnlog.read_snapshot_skipping_multi(spark, path, {"v": (0, 10)}),
        txnlog.read_snapshot_pruned(spark, path, {"v": (0, 10)}),
    ]:
        assert _names(read.inputFiles()) == {one}
    planned = txnlog.scan_candidates_df(spark, path, {"v": (0, 10)})
    assert [r["n"] for r in planned.collect()] == [one]
    # int source keys get past planning to the write, which refuses the
    # type as any write does
    src = spark.createDataFrame([(2, 7)], "k long, v long")
    with pytest.raises(ValueError, match="not a widening"):
        txnlog.txn_merge_cow(spark, src, path, ["k"], prune_key="v")
    txnlog.txn_delete_cow(spark, F.col("k") == 2, path, zone=("v", 0, 10))
    entry = txnlog._read_entry_body(path, txnlog.current_version(path))
    assert entry["removed"] == [one]
    assert _rows(txnlog.read_snapshot(spark, path)) == [(1, "a")]
