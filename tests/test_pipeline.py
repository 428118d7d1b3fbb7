"""End-to-end pipeline tests: CSV file → coercion → dedup → merge → stats,
pinned to the reference golden flows (FIXTURES.md F3/F4/F5/F8)."""

import pytest
from pyspark.sql import functions as F

from dbimport_spark.config import (
    ColumnMapping,
    DuplicateMode,
    ImportDefinition,
    ImportMode,
    KeyColumn,
    parse_key_column,
)
from dbimport_spark.pipeline import ImportError_, run_import
from dbimport_spark.schema.infer import create_table_ddl, infer_schema
from dbimport_spark.schema.mapping import automap
from dbimport_spark.sources.csv import CsvSource

# FIXTURES.md F3: 8 rows, dup keys {1,1,2,2,3,3,4,5}, second occurrence of
# each dup has NULL varchar and distinct clob
F3_CSV = (
    "column integer; column_double; column_varchar; column_clob\n"
    "1; 123.456; aBcDeF123_1; aBcDeF1234\n"
    "1; 123.456; ; aBcDeF1235_1\n"
    "2; 123.456; aBcDeF123_2; aBcDeF1234\n"
    "2; 123.456; ; aBcDeF1235_2\n"
    "3; 123.456; aBcDeF123_3; aBcDeF1234\n"
    "3; 123.456; ; aBcDeF1235_3\n"
    "4; 123.456; ; aBcDeF1235_4\n"
    "5; 123.456; aBcDeF123_5; aBcDeF1234\n"
)

F3_MAPPINGS = [
    ColumnMapping("column_integer", "column integer"),
    ColumnMapping("column_double", "column_double"),
    ColumnMapping("column_varchar", "column_varchar"),
    ColumnMapping("column_clob", "column_clob"),
]


@pytest.fixture()
def f3_source(spark, tmp_path):
    p = tmp_path / "f3.csv"
    p.write_text(F3_CSV)
    return CsvSource(trim=True).read(spark, str(p))


@pytest.fixture()
def f1_target(spark):
    rows = [
        (1, 1, None, "<TEXT>_1", None),
        (2, 3, None, "<TEXT>_3", None),
        (3, 999, None, "<TEXT>_999", None),
    ]
    return spark.createDataFrame(
        rows, "id long, column_integer int, column_double double, column_varchar string, column_clob string"
    )


def by_key(df):
    return {r["column_integer"]: r for r in df.collect()}


def test_upsert_f3(f3_source, f1_target):
    d = ImportDefinition(
        import_mode=ImportMode.UPSERT,
        duplicate_mode=DuplicateMode.UPDATE_ALL_JOIN,
        key_columns=[KeyColumn("column_integer")],
        mappings=F3_MAPPINGS + [ColumnMapping("id", None)],
    )
    result, invalid, stats = run_import(d, f3_source, f1_target)
    rows = by_key(result)
    # golden DbImportTest_HSQL.java:553-594
    assert set(rows) == {1, 2, 3, 4, 5, 999}
    assert rows[1]["column_varchar"] is None and rows[1]["column_clob"] == "aBcDeF1235_1"
    assert rows[5]["column_varchar"] == "aBcDeF123_5"
    assert rows[999]["column_varchar"] == "<TEXT>_999"
    assert stats.items_found == 8 and stats.items_valid == 8
    assert stats.items_duplicate == 3   # 8 rows → 5 keys
    assert stats.items_updated == 2     # keys 1, 3
    assert stats.items_inserted == 3    # keys 2, 4, 5
    assert invalid.count() == 0


def test_nocheck_dispatch_matrix(f3_source, f1_target):
    """NO_CHECK / CKECK_SOURCE_ONLY never touch existing target rows
    (DbImportWorker.java:495-543): UPDATE does nothing, UPSERT and keyed
    INSERT append ALL rows without an existence check — and crucially a
    duplicate-keyed source must never multiply target rows via the join
    update."""
    def run(mode, dmode):
        d = ImportDefinition(
            import_mode=mode,
            duplicate_mode=dmode,
            key_columns=[KeyColumn("column_integer")],
            mappings=F3_MAPPINGS + [ColumnMapping("id", None)],
        )
        return run_import(d, f3_source, f1_target)

    # UPDATE + NO_CHECK: target unchanged (no row multiplication, no update)
    result, _, stats = run(ImportMode.UPDATE, DuplicateMode.NO_CHECK)
    assert result.count() == 3
    assert by_key(result)[1]["column_varchar"] == "<TEXT>_1"  # original target row
    assert stats.items_updated == 0

    # UPSERT + NO_CHECK: insertAllItems — 3 target + all 8 source rows
    result, _, stats = run(ImportMode.UPSERT, DuplicateMode.NO_CHECK)
    assert result.count() == 11
    assert stats.items_inserted == 8 and stats.items_updated == 0

    # UPSERT + CKECK_SOURCE_ONLY_DROP: source collapsed to 5, all appended
    result, _, stats = run(ImportMode.UPSERT, DuplicateMode.CKECK_SOURCE_ONLY_DROP)
    assert result.count() == 8
    assert stats.items_inserted == 5 and stats.items_duplicate == 3

    # INSERT + NO_CHECK: append all 8, even keys already present
    result, _, stats = run(ImportMode.INSERT, DuplicateMode.NO_CHECK)
    assert result.count() == 11 and stats.items_inserted == 8

    # INSERT + UPDATE_ALL_JOIN (non-source-only): existence check kept
    result, _, stats = run(ImportMode.INSERT, DuplicateMode.UPDATE_ALL_JOIN)
    assert set(by_key(result)) == {1, 2, 3, 4, 5, 999}
    assert stats.items_inserted == 3  # keys 2, 4, 5


def test_update_skip_nulls(f3_source, f1_target):
    d = ImportDefinition(
        import_mode=ImportMode.UPDATE,
        duplicate_mode=DuplicateMode.UPDATE_ALL_JOIN,
        key_columns=[KeyColumn("column_integer")],
        mappings=F3_MAPPINGS + [ColumnMapping("id", None)],
        update_with_null_values=False,  # -u
    )
    result, _, stats = run_import(d, f3_source, f1_target)
    rows = by_key(result)
    # golden :511-550 — varchar keeps earlier non-null value
    assert rows[1]["column_varchar"] == "aBcDeF123_1"
    assert rows[1]["column_clob"] == "aBcDeF1235_1"
    assert set(rows) == {1, 3, 999}
    assert stats.items_inserted == 0


def test_invalid_rows_skipped_and_complete_commit(spark, tmp_path, f1_target):
    # F4: bad datatype row in the middle (DbImportTest_HSQL.java:340-424)
    p = tmp_path / "bad.csv"
    p.write_text(
        "column integer; column_double\n121; 123.456\n122; 123x456\n123; 789.012\n"
    )
    src = CsvSource(trim=True).read(spark, str(p))
    maps = [
        ColumnMapping("column_integer", "column integer"),
        ColumnMapping("column_double", "column_double"),
    ]
    d = ImportDefinition(import_mode=ImportMode.INSERT, mappings=maps)
    result, invalid, stats = run_import(d, src, f1_target.select("column_integer", "column_double"))
    assert stats.items_invalid == 1 and stats.items_valid == 2
    assert result.count() == 3 + 2  # prefill + two valid rows
    d_c = ImportDefinition(import_mode=ImportMode.INSERT, mappings=maps, complete_commit=True)
    with pytest.raises(ImportError_):
        run_import(d_c, src, f1_target.select("column_integer", "column_double"))


def test_additional_insert_update_values(f3_source, f1_target):
    # F8 (DbImportTest_HSQL.java:642-684)
    d = ImportDefinition(
        import_mode=ImportMode.UPSERT,
        duplicate_mode=DuplicateMode.UPDATE_ALL_JOIN,
        key_columns=[KeyColumn("column_integer")],
        mappings=F3_MAPPINGS + [ColumnMapping("id", None)],
        additional_insert_values={"column_varchar": "'Insert'"},
        additional_update_values={"column_varchar": "'Update'"},
    )
    result, _, _ = run_import(d, f3_source, f1_target)
    rows = by_key(result)
    assert rows[1]["column_varchar"] == "Update"
    assert rows[3]["column_varchar"] == "Update"
    assert rows[2]["column_varchar"] == "Insert"
    assert rows[5]["column_varchar"] == "Insert"
    assert rows[999]["column_varchar"] == "<TEXT>_999"


def test_update_first_pipeline(spark, f3_source):
    rows = [
        (1, 1, "<TEXT>_1"), (2, 3, "<TEXT>_3"), (3, 999, "<TEXT>_999"),
        (4, 1, "<TEXT>_1"), (5, 3, "<TEXT>_3"), (6, 999, "<TEXT>_999"),
    ]
    target = spark.createDataFrame(rows, "id long, column_integer int, column_varchar string")
    d = ImportDefinition(
        import_mode=ImportMode.UPDATE,
        duplicate_mode=DuplicateMode.UPDATE_FIRST_JOIN,
        key_columns=[KeyColumn("column_integer")],
        mappings=[
            ColumnMapping("column_integer", "column integer"),
            ColumnMapping("column_varchar", "column_varchar"),
        ],
    )
    result, _, _ = run_import(d, f3_source, target, target_order_col="id")
    got = {r["id"]: r for r in result.collect()}
    assert got[1]["column_varchar"] is None       # first occurrence updated (null overwrote)
    assert got[4]["column_varchar"] == "<TEXT>_1"  # duplicate untouched
    assert got[6]["column_varchar"] == "<TEXT>_999"


def test_clearinsert(f3_source, f1_target):
    d = ImportDefinition(
        import_mode=ImportMode.CLEARINSERT,
        duplicate_mode=DuplicateMode.CKECK_SOURCE_ONLY_JOIN,
        key_columns=[KeyColumn("column_integer")],
        mappings=F3_MAPPINGS + [ColumnMapping("id", None)],
    )
    result, _, stats = run_import(d, f3_source, f1_target)
    assert stats.items_deleted == 3
    assert result.count() == 5  # 8 rows joined to 5 keys
    assert set(by_key(result)) == {1, 2, 3, 4, 5}


def test_key_function_case_insensitive(spark, tmp_path):
    # F5 case-insensitive key variant (DbImportTest_MariaDB.java:1044-1089)
    p = tmp_path / "ci.csv"
    p.write_text("column_varchar\nAbcÄ123\nABCÄ123\nabcä123\n")
    src = CsvSource(trim=True).read(spark, str(p))
    target = spark.createDataFrame([], "column_varchar string")
    d = ImportDefinition(
        import_mode=ImportMode.INSERT,
        duplicate_mode=DuplicateMode.CKECK_SOURCE_ONLY_DROP,
        key_columns=[parse_key_column("lower(column_varchar)")],
        mappings=[ColumnMapping("column_varchar", "column_varchar", "lc")],
    )
    result, _, stats = run_import(d, src, target)
    assert result.count() == 1
    assert result.collect()[0]["column_varchar"] == "abcä123"
    assert stats.items_duplicate == 2 and stats.items_inserted == 1


def test_schema_inference_f5(spark, tmp_path):
    # FIXTURES.md F5 (DbImportTest_HSQL.java:726-789)
    p = tmp_path / "infer.csv"
    p.write_text(
        "column_integer;column_varchar;column_double;column_bool;column_ts\n"
        "001;AbcÄ123;1.2300;true;2003-02-01 11:12:13\n"
        "17;Xy;4;false;2004-03-02 10:00:00\n"
    )
    src = CsvSource().read(spark, str(p), with_order=False)
    inferred = {c.name: c for c in infer_schema(src)}
    assert inferred["column_integer"].data_type == "INTEGER"
    assert inferred["column_varchar"].data_type == "VARCHAR"
    assert inferred["column_varchar"].size >= 7  # UTF-8 byte length of AbcÄ123
    assert inferred["column_double"].data_type == "DOUBLE"
    assert inferred["column_bool"].data_type == "BOOLEAN"
    assert inferred["column_ts"].data_type == "TIMESTAMP"
    ddl = create_table_ddl("t_inferred", list(inferred.values()))
    assert "`column_integer` INT" in ddl


def test_blob_threshold_inference(spark):
    df = spark.createDataFrame([("x" * 4001,), ("short",)], "v string")
    assert infer_schema(df)[0].data_type == "BLOB"


def test_automap():
    maps = automap(["Column_Integer", "missing"], ["column_integer", "other"])
    assert len(maps) == 1
    assert maps[0].target == "column_integer" and maps[0].source == "column_integer"


def test_sink_parquet_roundtrip(spark, tmp_path):
    from dbimport_spark.sinks import SinkConfig, write_target

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    out = str(tmp_path / "t")
    write_target(df, SinkConfig(kind="parquet", path_or_table=out, mode="overwrite"))
    assert spark.read.parquet(out).count() == 2
    write_target(df, SinkConfig(kind="parquet", path_or_table=out, mode="append"))
    assert spark.read.parquet(out).count() == 4


def test_connection_test(spark):
    from dbimport_spark.sinks import connection_test

    assert connection_test(spark, iterations=2) == [True, True]
    assert connection_test(spark, check_sql="SELECT * FROM no_such_table_xyz") == [False]


def test_sink_jdbc_roundtrip_derby(spark, tmp_path):
    """Live JDBC vendor probe: end-to-end df.write.jdbc at the
    reference's batchsize 1000 (DbImportWorker.java:127) against the
    Apache Derby embedded engine bundled with Spark's jars — the one
    real-database counterpart of the reference's 10 vendor suites this
    container can execute. Covers append (2.5k rows > 2 batches) and
    overwrite (CLEARINSERT, DbImportWorker.java:411-415) plus readback
    through spark.read.jdbc."""
    from dbimport_spark.sinks import SinkConfig, write_target

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.createDataFrame(
        [(i, f"name{i}", i * 1.5) for i in range(2500)],
        "k long, name string, v double",
    )
    sink = SinkConfig(
        kind="jdbc", path_or_table="t1", jdbc_url=url, jdbc_properties=props
    )
    write_target(df, sink)
    back = spark.read.jdbc(url, "t1", properties=props)
    assert back.count() == 2500
    assert dict(back.dtypes) == {"k": "bigint", "name": "string", "v": "double"}
    row = back.filter("k = 7").collect()[0]
    assert row["name"] == "name7" and row["v"] == 10.5
    # append doubles; overwrite (CLEARINSERT) restores
    write_target(df, sink)
    assert spark.read.jdbc(url, "t1", properties=props).count() == 5000
    write_target(df.limit(10), SinkConfig(
        kind="jdbc", path_or_table="t1", jdbc_url=url,
        jdbc_properties=props, mode="overwrite",
    ))
    assert spark.read.jdbc(url, "t1", properties=props).count() == 10


def test_golden_readout_upsert_f3(spark, f3_source, f1_target):
    """F9 golden-readout canonicalization: the full UPSERT of the F3
    dataset into the F1 target, compared as ONE canonical string (the
    reference's TestDbUtilities.readoutTable comparison style)."""
    from dbimport_spark.testing import readout_table

    definition = ImportDefinition(
        import_mode=ImportMode.UPSERT,
        duplicate_mode=DuplicateMode.UPDATE_ALL_JOIN,
        key_columns=[KeyColumn("column_integer")],
        mappings=F3_MAPPINGS,
    )
    target = f1_target.drop("id")
    result, _invalid, _stats = run_import(definition, f3_source, target)
    got = readout_table(result, ["column_integer"])
    assert got == (
        "column_integer;column_clob;column_double;column_varchar\n"
        "1;aBcDeF1235_1;123.456;\n"
        "2;aBcDeF1235_2;123.456;\n"
        "3;aBcDeF1235_3;123.456;\n"
        "4;aBcDeF1235_4;123.456;\n"
        "5;aBcDeF1234;123.456;aBcDeF123_5\n"
        "999;;;<TEXT>_999\n"
    )


def test_readout_formats(spark):
    import datetime

    from dbimport_spark.testing import readout_table

    df = spark.createDataFrame(
        [
            (2, b"\x01\x02", datetime.datetime(2024, 1, 2, 3, 4, 5), True, 'se;mi"co'),
            (1, None, datetime.datetime(2024, 1, 2, 3, 4, 5, 123456), False, None),
            (10, None, None, None, "plain"),
        ],
        "k int, b binary, ts timestamp, flag boolean, s string",
    )
    got = readout_table(df, ["k"])
    assert got == (
        "k;b;flag;s;ts\n"
        "1;;false;;2024-01-02 03:04:05.123456\n"
        '2;AQI=;true;"se;mi""co";2024-01-02 03:04:05\n'
        "10;;;plain;\n"
    )


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """Both sides bucketed on the join key -> SortMergeJoin with NO
    hash-partitioning Exchange in the physical plan."""
    import shutil

    from dbimport_spark.sinks import write_bucketed_table

    # self-heal from a previous crashed run: saveAsTable(overwrite) refuses
    # a leftover warehouse dir that has no catalog entry
    for t in ("b_cust", "b_orders"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    write_bucketed_table(cust, "b_cust", 8, ["c_custkey"], ["c_custkey"])
    write_bucketed_table(
        orders.withColumnRenamed("o_custkey", "c_custkey"),
        "b_orders", 8, ["c_custkey"], ["c_custkey"],
    )
    a = spark.table("b_cust").hint("merge")
    b = spark.table("b_orders")
    joined = a.join(b, "c_custkey")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert joined.count() > 0


def test_partitioned_sink_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-partitioned parquet sink + a partition-key filter -> the scan's
    PartitionFilters carry the predicate and only the matching directory is
    read (partition pruning: the 100-TB reason to partition by a coarse
    key at write time)."""
    from dbimport_spark.plans.registry import load_events
    from dbimport_spark.sinks import SinkConfig, write_target

    e = load_events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    out = str(tmp_path / "events_by_day")
    write_target(e, SinkConfig(kind="parquet", path_or_table=out,
                               mode="overwrite", partition_by=["day"]))
    n_days = e.select("day").distinct().count()
    assert n_days > 1

    back = spark.read.parquet(out)
    one = back.filter(F.col("day") == "2024-01-02")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters", 1)[1][:200]
    # the pruned scan reads exactly the one day's rows
    want = e.filter(F.col("day") == "2024-01-02").count()
    assert one.count() == want and want > 0


@pytest.mark.slow
def test_compact_parquet_restores_file_sizes(spark, tmp_path):
    """1000 rows scattered over 32 tiny files compact into the planned
    ceil(bytes/target) file count with identical content."""
    from dbimport_spark.sinks import compact_parquet, compaction_partitions, input_bytes

    src = str(tmp_path / "small_files")
    dst = str(tmp_path / "compacted")
    spark.range(1000).selectExpr("id", "id * 2 AS v").repartition(32).write.parquet(src)
    total = input_bytes(spark, src)
    target = max(1, total // 3)  # force a small multi-file plan
    n = compact_parquet(spark, src, dst, target_file_bytes=target)
    assert n == compaction_partitions(total, target) and 1 <= n < 32
    import glob
    files = glob.glob(f"{dst}/part-*.parquet")
    assert len(files) == n
    a = spark.read.parquet(src).orderBy("id").collect()
    b = spark.read.parquet(dst).orderBy("id").collect()
    assert a == b


def test_incremental_append_boundary(spark):
    """Strictly-newer semantics: boundary-timestamp rows do not re-append."""
    import datetime as dt

    from dbimport_spark.operators.merge import incremental_append

    t0, t1, t2 = (dt.datetime(2024, 1, d) for d in (1, 2, 3))
    target = spark.createDataFrame([(1, t0), (2, t1)], "id long, ts timestamp")
    source = spark.createDataFrame(
        [(1, t0), (2, t1), (3, t1), (4, t2)], "id long, ts timestamp"
    )
    out = {r["id"] for r in incremental_append(target, source, "ts").collect()}
    assert out == {1, 2, 4}  # id=3 shares the watermark ts -> not appended


def test_incremental_append_empty_target_bootstraps(spark):
    """First run against an empty target: max(watermark) is NULL, which must
    mean 'import everything', not '> NULL drops everything'."""
    import datetime as dt

    from dbimport_spark.operators.merge import incremental_append

    target = spark.createDataFrame([], "id long, ts timestamp")
    source = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1)), (2, dt.datetime(2024, 1, 2))],
        "id long, ts timestamp",
    )
    out = {r["id"] for r in incremental_append(target, source, "ts").collect()}
    assert out == {1, 2}


def test_clustered_write_produces_disjoint_ranges(spark, sf_dir, tmp_path):
    """Range-clustered files own pairwise-disjoint [min, max] spans of the
    cluster column (parquet footer stats), so a range filter can skip
    whole files; maxRecordsPerFile caps file sizes."""
    import glob

    import pyarrow.parquet as pq

    from dbimport_spark.sinks import write_clustered_parquet

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = str(tmp_path / "orders_by_date")
    write_clustered_parquet(orders, out, ["o_orderdate"], n_files=4)

    spans = []
    for f in glob.glob(f"{out}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index("o_orderdate")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        spans.append((min(mins), max(maxs)))
    assert len(spans) == 4
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # disjoint up to the boundary value

    # row-count preserved and file-size capping kicks in
    assert spark.read.parquet(out).count() == orders.count()
    capped = str(tmp_path / "orders_capped")
    write_clustered_parquet(orders, capped, ["o_orderdate"], n_files=2,
                            max_records_per_file=1000)
    n_files = len(glob.glob(f"{capped}/part-*.parquet"))
    assert n_files >= orders.count() // 1000  # 15k rows / 1000 -> >= 15 files


def test_bucketed_upsert_merge_is_shuffle_free(spark, sf_dir):
    """THE core merge operator on bucketed target+source: both sides of the
    update join and the anti-join insert read bucket-aligned tables, so the
    physical plan has NO hash-partitioning Exchange — at 100 TB this is the
    difference between re-shuffling the fact table on every periodic import
    and never shuffling it at all."""
    import shutil

    from dbimport_spark.operators import merge
    from dbimport_spark.sinks import write_bucketed_table

    for t in ("bm_target", "bm_source"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    updates = cust.withColumn("c_acctbal", F.col("c_acctbal") + 1).filter(
        F.col("c_custkey") % 2 == 0
    )
    write_bucketed_table(cust, "bm_target", 8, ["c_custkey"], ["c_custkey"])
    write_bucketed_table(updates, "bm_source", 8, ["c_custkey"], ["c_custkey"])

    target = spark.table("bm_target").hint("merge")
    source = spark.table("bm_source").hint("merge")
    out = merge.update_all_existing(target, source, ["c_custkey"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert out.count() == cust.count()

    upserted = merge.upsert(target, source, ["c_custkey"], materialize_source=False)
    plan2 = upserted._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan2
    assert upserted.count() == cust.count()  # all source keys exist


def test_merge_into_partitioned_selective_rewrite(spark, tmp_path):
    """Selective-rewrite merge: equals the full upsert row-for-row, but
    physically rewrites ONLY the partitions the source touches — untouched
    partition files keep identical bytes and mtimes (the lake analogue of
    the reference's in-place UPDATE leaving other rows on disk)."""
    import glob
    import hashlib
    import os

    from dbimport_spark.operators.merge import upsert
    from dbimport_spark.sinks import merge_into_partitioned

    path = str(tmp_path / "tgt")
    # key k, partition p = k % 4 (stable function of the key)
    rows = [(k, k % 4, f"v{k}") for k in range(40)]
    spark.createDataFrame(rows, "k long, p long, v string").coalesce(1).write.partitionBy(
        "p"
    ).parquet(path)

    def snap(part):
        return {
            f: (os.path.getmtime(f), hashlib.sha256(open(f, "rb").read()).hexdigest())
            for f in glob.glob(f"{path}/p={part}/*")
        }

    before = {part: snap(part) for part in range(4)}
    # source touches only partitions 1 and 3: updates k=1,3,5 + new keys 41,43
    src = spark.createDataFrame(
        [(1, 1, "u1"), (3, 3, "u3"), (5, 1, "u5"), (41, 1, "n41"), (43, 3, "n43")],
        "k long, p long, v string",
    )
    original = spark.read.parquet(path).select("k", "p", "v").collect()
    parts = merge_into_partitioned(spark, path, src, ["k"], "p")
    assert sorted(parts) == [1, 3]

    got = {(r["k"], r["p"], r["v"]) for r in spark.read.parquet(path).collect()}
    want_df = upsert(
        spark.createDataFrame(original, "k long, p long, v string"), src, ["k"]
    )
    want = {(r["k"], r["p"], r["v"]) for r in want_df.collect()}
    assert got == want
    assert len(got) == 42

    after = {part: snap(part) for part in range(4)}
    assert after[0] == before[0]  # untouched: same files, bytes, mtimes
    assert after[2] == before[2]
    assert set(after[1]) != set(before[1]) or after[1] != before[1]  # rewritten


def test_merge_into_partitioned_bootstrap(spark, tmp_path):
    """First load against a nonexistent target path writes the source
    partitioned (no merge)."""
    from dbimport_spark.sinks import merge_into_partitioned

    path = str(tmp_path / "fresh")
    src = spark.createDataFrame([(1, 0, "a"), (2, 1, "b")], "k long, p long, v string")
    parts = merge_into_partitioned(spark, path, src, ["k"], "p")
    assert sorted(parts) == [0, 1]
    got = {(r["k"], r["p"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {(1, 0, "a"), (2, 1, "b")}


def test_merge_into_partitioned_releases_what_it_persists(spark, tmp_path):
    """Nothing a selective-rewrite merge persists outlives the call:
    three merges into a 40-row, 4-partition table leave the count of
    persisted RDDs where it was (the source stayed cached once per call
    while upsert materialized it, and the local checkpoint until a GC)."""
    from dbimport_spark.sinks import merge_into_partitioned

    path = str(tmp_path / "tgt")
    rows = [(k, k % 4, f"v{k}") for k in range(40)]
    spark.createDataFrame(rows, "k long, p long, v string").write.partitionBy(
        "p"
    ).parquet(path)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    counts = []
    for i in range(3):
        src = spark.createDataFrame(
            [(1, 1, f"u{i}"), (41 + i, 1, "n")], "k long, p long, v string"
        )
        merge_into_partitioned(spark, path, src, ["k"], "p")
        assert not src.storageLevel.useMemory
        counts.append(jsc.getPersistentRDDs().size())
    assert counts == [before] * 3
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got[1] == "u2" and {41, 42, 43} <= set(got) and len(got) == 43


def test_zorder_write_files_cover_rectangles(spark, sf_dir, tmp_path):
    """Z-order clustering must make every written file a small RECTANGLE
    of the 2-D space so min/max stats prune on either column, where a
    single-column sort gives full-width stripes (second dimension
    unpruned). Proven on real parquet footers."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from dbimport_spark.functions.zorder import zorder_write

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", (F.col("o_totalprice").cast("bigint")).alias("price")
    )
    lo, hi = orders.agg(F.min("price"), F.max("price")).collect()[0]
    span_all = hi - lo + 1

    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    zorder_write(orders, zpath, "o_custkey", "price", n_files=16)
    (
        orders.repartitionByRange(16, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(spath)
    )

    def price_span_fractions(path):
        import os

        out = []
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            mn, mx = None, None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    if col.path_in_schema == "price" and col.statistics:
                        s = col.statistics
                        mn = s.min if mn is None else min(mn, s.min)
                        mx = s.max if mx is None else max(mx, s.max)
            if mn is not None:
                out.append((mx - mn + 1) / span_all)
        return out

    z_frac = price_span_fractions(zpath)
    s_frac = price_span_fractions(spath)
    assert len(z_frac) >= 8 and len(s_frac) >= 8
    z_mean = sum(z_frac) / len(z_frac)
    s_mean = sum(s_frac) / len(s_frac)
    # single-column sort leaves ~full price range per file; z-order
    # shrinks it to the rectangle width (16 files → ~1/4 per dimension)
    assert s_mean > 0.8, s_mean
    assert z_mean < 0.55 * s_mean, (z_mean, s_mean)
