"""Driver-built frames are Arrow local relations (``frames.local_frame``):
none plans as a ``LogicalRDD`` over a Python RDD, so none starts a Python
worker. Also: source-row numbering without a window, and the DML calls
that persist their source release it."""

import ast
import datetime as dt
import os
import types

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbimport_spark import txnlog
from dbimport_spark.frames import local_frame
from dbimport_spark.operators.order import with_src_order, with_src_order_by_file

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "dbimport_spark")


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _no_python_rdd(df):
    plan = _analyzed(df)
    assert "LogicalRDD" not in plan, plan


# ------------------------------------------------------------ the helper

ROUND_TRIP_DDL = "s string, i int, b bigint, d double, day date, ts timestamp"
ROUND_TRIP_ROWS = [
    ("x", 1, 2**40, 1.5, dt.date(2020, 1, 2), dt.datetime(2021, 3, 4, 5, 6, 7, 123456)),
    (None, None, None, None, None, None),
    ("", -7, -(2**62), -0.25, dt.date(1969, 12, 31), dt.datetime(1970, 1, 1)),
]


@pytest.mark.parametrize("form", ["ddl", "struct"])
@pytest.mark.parametrize("rows", [ROUND_TRIP_ROWS, []], ids=["rows", "empty"])
def test_local_frame_round_trip(spark, form, rows):
    schema = (
        ROUND_TRIP_DDL
        if form == "ddl"
        else T.StructType(
            [
                T.StructField("s", T.StringType()),
                T.StructField("i", T.IntegerType()),
                T.StructField("b", T.LongType()),
                T.StructField("d", T.DoubleType()),
                T.StructField("day", T.DateType()),
                T.StructField("ts", T.TimestampType()),
            ]
        )
    )
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect() == [tuple(r) for r in rows]
    assert "LocalRelation" in _analyzed(got)


def test_local_frame_takes_dicts_by_field_name(spark):
    got = local_frame(spark, [{"rid": 3, "n": "a"}, {"n": "b"}], "n string, rid bigint")
    assert [tuple(r) for r in got.collect()] == [("a", 3), ("b", None)]


# ------------------------------------------------- source-row numbering

def _write_files(tmp_path, sizes):
    """One ;-CSV per (name, line count) with globally unique ids; the
    expected (file name, line number) order, computed from the files."""
    d = tmp_path / "src"
    d.mkdir()
    nxt = 1000
    for name, n in sizes:
        lines = []
        for _ in range(n):
            lines.append(f"{nxt};{'v' * (nxt % 7)}")
            nxt += 37
        (d / name).write_text("\n".join(lines) + "\n")
    expected = []
    for name in sorted(os.listdir(d)):
        expected += [int(line.split(";")[0]) for line in (d / name).read_text().splitlines()]
    return str(d), expected


def _ids_in_order(df):
    rows = df.orderBy("_src_order").collect()
    assert [r["_src_order"] for r in rows] == list(range(len(rows)))
    return [int(r["_c0"]) for r in rows]


def test_src_order_by_file_across_three_files(spark, tmp_path):
    # sizes deliberately not in name order: Spark packs splits by size
    d, expected = _write_files(tmp_path, [("b.csv", 5), ("a.csv", 40), ("c.csv", 12)])
    df = with_src_order_by_file(spark.read.option("sep", ";").csv(os.path.join(d, "*.csv")))
    assert _ids_in_order(df) == expected


def test_src_order_by_file_with_a_file_split_over_partitions(spark, tmp_path):
    d, expected = _write_files(tmp_path, [("z.csv", 400), ("m.csv", 30), ("k.csv", 3)])
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "512")
    try:
        src = spark.read.option("sep", ";").csv(os.path.join(d, "*.csv"))
        assert src.rdd.getNumPartitions() > 6  # z.csv alone spans several
        df = with_src_order_by_file(src)
        assert _ids_in_order(df) == expected
        _no_python_rdd(df)
    finally:
        spark.conf.set(key, prev)


def test_src_order_is_gap_free_and_plans_no_python_rdd(spark, tmp_path):
    d, expected = _write_files(tmp_path, [("a.csv", 20), ("b.csv", 9)])
    src = spark.read.option("sep", ";").csv(os.path.join(d, "*.csv"))
    df = with_src_order(src)
    assert sorted(_ids_in_order(df)) == sorted(expected)
    _no_python_rdd(df)
    _no_python_rdd(with_src_order_by_file(src))


# ------------------------------------- no driver-built frame is a Python RDD

def test_cli_created_target_is_a_local_relation(spark, tmp_path):
    from dbimport_spark.__main__ import _created_target

    p = tmp_path / "t.csv"
    p.write_text("id;day;amount;name\n1;2020-01-02;1.5;x\n2;2020-01-03;2;y\n")
    source = spark.read.option("sep", ";").option("header", True).csv(str(p))
    target = _created_target(spark, types.SimpleNamespace(mappings=None), source)
    assert target.count() == 0 and target.columns == ["id", "day", "amount", "name"]
    _no_python_rdd(target)


def _dv_table(spark, path):
    txnlog.txn_append(spark, spark.range(0, 50).selectExpr("id AS k").coalesce(1), path)
    txnlog.txn_append(spark, spark.range(50, 90).selectExpr("id AS k").coalesce(1), path)
    txnlog.txn_delete_dv(spark, F.col("k").isin(3, 60, 61), path)


def test_read_snapshot_with_dvs_is_a_local_relation(spark, tmp_path):
    path = str(tmp_path / "dv")
    _dv_table(spark, path)
    df = txnlog.read_snapshot(spark, path)
    _no_python_rdd(df)
    assert sorted(r.k for r in df.collect()) == [k for k in range(90) if k not in (3, 60, 61)]


def test_snapshot_state_suffix_after_multipart_checkpoint(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(txnlog, "CHECKPOINT_ROWS_PER_PART", 1)
    path = str(tmp_path / "st")
    _dv_table(spark, path)
    v = txnlog.current_version(path)
    txnlog.write_checkpoint(path, v)
    assert len(txnlog._checkpoint_manifest(path, v)["parts"]) >= 2
    # suffix: an added file and a DV on a checkpointed file
    txnlog.txn_append(spark, spark.range(90, 95).selectExpr("id AS k").coalesce(1), path)
    txnlog.txn_delete_dv(spark, F.col("k") == 10, path)
    state = txnlog.scan_candidates_df(spark, path)
    _no_python_rdd(state)
    snap = txnlog.Snapshot.at(path, txnlog.current_version(path))
    got = {r.n: r.dv for r in state.collect()}
    assert set(got) == set(snap.live)
    assert {n for n, d in got.items() if d} == set(snap.dvs)


def test_read_snapshot_rowids_is_a_local_relation(spark, tmp_path):
    path = str(tmp_path / "rid")
    txnlog.txn_enable_row_ids(path)
    _dv_table(spark, path)
    df = txnlog.read_snapshot_rowids(spark, path)
    _no_python_rdd(df)
    assert sorted(r._row_id for r in df.collect()) == [i for i in range(90) if i not in (3, 60, 61)]


# ----------------------------------------- DML calls release their source

def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_txn_merge_cow_releases_its_source(spark, tmp_path):
    path = str(tmp_path / "cow")
    txnlog.txn_append(spark, spark.range(0, 100).selectExpr("id AS k", "0 AS v").coalesce(1), path)
    before = _persistent_rdds(spark)
    for i in range(3):
        src = spark.createDataFrame([(k, i + 1) for k in (5, 50, 200 + i)], "k long, v int")
        txnlog.txn_merge_cow(spark, src, path, ["k"])
    assert _persistent_rdds(spark) == before
    got = {r.k: r.v for r in txnlog.read_snapshot(spark, path).collect()}
    assert (got[5], got[50], got[200], got[202], len(got)) == (3, 3, 1, 3, 103)


def test_txn_upsert_partitioned_releases_its_source(spark, tmp_path):
    path = str(tmp_path / "part")
    txnlog.txn_append_partitioned(
        spark, spark.range(0, 40).selectExpr("id AS k", "id % 4 AS p", "0 AS v"), path, "p"
    )
    before = _persistent_rdds(spark)
    for i in range(3):
        src = spark.createDataFrame(
            [(k, k % 4, i + 1) for k in (1, 6, 100 + i)], "k long, p long, v int"
        )
        txnlog.txn_upsert_partitioned(spark, src, path, ["k"], "p")
    assert _persistent_rdds(spark) == before
    got = {r.k: r.v for r in txnlog.read_snapshot_partitioned(spark, path, "p").collect()}
    assert (got[1], got[6], got[100], got[102], len(got)) == (3, 3, 1, 3, 43)


# ------------------------------------------------------------ guard

#: Readers that build frames from user records, relying on
#: createDataFrame's Python-side type checks or inference.
USER_RECORD_READERS = {"sources/inline.py", "sources/excel.py", "sources/yaml.py"}


def test_no_create_dataframe_outside_the_helper():
    """Every library frame built from driver-side values goes through
    ``frames.local_frame``. The query fixtures under ``plans/`` (hashed by
    the oracle sweep) and the user-record readers are exempt."""
    allowed = USER_RECORD_READERS | {"frames.py"}
    offenders = []
    for root, dirs, files in os.walk(PKG):
        rel_root = os.path.relpath(root, PKG)
        if rel_root.split(os.sep)[0] in ("plans", "__pycache__"):
            dirs[:] = []
            continue
        for name in files:
            if not name.endswith(".py"):
                continue
            rel = os.path.normpath(os.path.join(rel_root, name)).replace(os.sep, "/")
            if rel in allowed:
                continue
            with open(os.path.join(root, name), encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), rel)
            offenders += [
                f"{rel}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ]
    assert offenders == [], f"createDataFrame outside frames.local_frame: {offenders}"
    for rel in USER_RECORD_READERS:
        assert os.path.exists(os.path.join(PKG, rel)), rel
