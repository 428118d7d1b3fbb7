"""Dedup + merge semantics pinned by the reference golden tests.

Fixture shapes from FIXTURES.md F1/F3 (DbImportTest_HSQL.java:553-640,
1010-1152): 8-row keyed dataset with duplicate keys {1,1,2,2,3,3,4,5},
second occurrence of each duplicate has NULL varchar and a distinct clob;
target prefilled with keys {1,3,999}.
"""

import pytest
from pyspark.sql import functions as F

from dbimport_spark.config import KeyColumn
from dbimport_spark.operators import dedup, merge

SRC_SCHEMA = "k int, varch string, clob string, _src_order long"
TGT_SCHEMA = "id long, k int, varch string, clob string"


@pytest.fixture()
def source(spark):
    rows = [
        (1, "aBcDeF123_1", "aBcDeF1234", 0),
        (1, None, "aBcDeF1235_1", 1),
        (2, "aBcDeF123_2", "aBcDeF1234", 2),
        (2, None, "aBcDeF1235_2", 3),
        (3, "aBcDeF123_3", "aBcDeF1234", 4),
        (3, None, "aBcDeF1235_3", 5),
        (4, None, "aBcDeF1235_4", 6),
        (5, "aBcDeF123_5", "aBcDeF1234", 7),
    ]
    return spark.createDataFrame(rows, SRC_SCHEMA)


@pytest.fixture()
def target(spark):
    rows = [(1, 1, "<TEXT>_1", None), (2, 3, "<TEXT>_3", None), (3, 999, "<TEXT>_999", None)]
    return spark.createDataFrame(rows, TGT_SCHEMA)


def by_key(df, extra=()):
    return {r["k"]: r for r in df.collect()}


def test_drop_duplicates_keep_first(source):
    out = dedup.drop_duplicates_keep_first(source, ["k"])
    rows = by_key(out)
    assert len(rows) == 5
    assert rows[1]["varch"] == "aBcDeF123_1" and rows[1]["clob"] == "aBcDeF1234"
    assert rows[4]["varch"] is None


def test_join_duplicates_null_overwrite(source):
    # later NULL varchar overwrites; later clob wins (DbImportTest_HSQL.java:427-467)
    out = dedup.join_duplicates(source, ["k"], update_with_null_values=True)
    rows = by_key(out)
    assert rows[1]["varch"] is None and rows[1]["clob"] == "aBcDeF1235_1"
    assert rows[5]["varch"] == "aBcDeF123_5"


def test_join_duplicates_skip_nulls(source):
    # -u: earlier non-null varchar survives (DbImportTest_HSQL.java:597-640)
    out = dedup.join_duplicates(source, ["k"], update_with_null_values=False)
    rows = by_key(out)
    assert rows[1]["varch"] == "aBcDeF123_1" and rows[1]["clob"] == "aBcDeF1235_1"
    assert rows[2]["varch"] == "aBcDeF123_2"


def test_detect_duplicates(source):
    d = dedup.detect_duplicates(source, ["k"])
    assert {r["__key_0"]: r["dup_count"] for r in d.collect()} == {1: 2, 2: 2, 3: 2}
    assert dedup.has_duplicates(source, ["k"])


def test_insert_not_existing(source, target):
    # INSERT mode: keys 1,3 dropped (exist); 2,4,5 inserted (joined last-wins)
    merged_src = dedup.join_duplicates(source, ["k"]).withColumn("id", F.lit(None).cast("long"))
    out = merge.insert_not_existing(target, merged_src.select("id", "k", "varch", "clob"), ["k"])
    rows = by_key(out)
    assert set(rows) == {1, 3, 999, 2, 4, 5}
    assert rows[1]["varch"] == "<TEXT>_1"  # untouched
    assert rows[2]["varch"] is None and rows[2]["clob"] == "aBcDeF1235_2"


def test_update_all_existing_null_overwrite(source, target):
    merged_src = dedup.join_duplicates(source, ["k"])
    out = merge.update_all_existing(target, merged_src, ["k"], update_with_null_values=True)
    rows = by_key(out)
    assert set(rows) == {1, 3, 999}
    assert rows[1]["varch"] is None and rows[1]["clob"] == "aBcDeF1235_1"
    assert rows[999]["varch"] == "<TEXT>_999"


def test_update_all_skip_nulls(source, target):
    merged_src = dedup.join_duplicates(source, ["k"], update_with_null_values=False)
    out = merge.update_all_existing(target, merged_src, ["k"], update_with_null_values=False)
    rows = by_key(out)
    assert rows[1]["varch"] == "aBcDeF123_1"  # earlier non-null survives
    assert rows[999]["varch"] == "<TEXT>_999"


def test_upsert(source, target):
    merged_src = (
        dedup.join_duplicates(source, ["k"])
        .withColumn("id", F.lit(None).cast("long"))
        .select("id", "k", "varch", "clob")
    )
    out = merge.upsert(target, merged_src, ["k"])
    rows = by_key(out)
    assert set(rows) == {1, 2, 3, 4, 5, 999}
    assert rows[1]["varch"] is None            # updated, null overwrote
    assert rows[5]["varch"] == "aBcDeF123_5"   # inserted, kept non-null
    assert rows[999]["varch"] == "<TEXT>_999"  # untouched


def test_update_first_existing(spark, source):
    # doubly-prefilled target: only first occurrence per key updated
    # (DbImportTest_HSQL.java:1055-1102)
    rows = [
        (1, 1, "<TEXT>_1", None), (2, 3, "<TEXT>_3", None), (3, 999, "<TEXT>_999", None),
        (4, 1, "<TEXT>_1", None), (5, 3, "<TEXT>_3", None), (6, 999, "<TEXT>_999", None),
    ]
    target2 = spark.createDataFrame(rows, TGT_SCHEMA)
    merged_src = dedup.join_duplicates(source, ["k"])
    out = merge.update_first_existing(target2, merged_src, ["k"], target_order_col="id")
    got = {r["id"]: r for r in out.collect()}
    assert got[1]["clob"] == "aBcDeF1235_1" and got[4]["clob"] is None
    assert got[2]["clob"] == "aBcDeF1235_3" and got[5]["clob"] is None
    assert got[3]["varch"] == "<TEXT>_999" and got[6]["varch"] == "<TEXT>_999"


def test_make_unique_join(spark):
    rows = [
        (1, 1, "<TEXT>_1", None), (2, 3, "<TEXT>_3", None), (3, 999, "<TEXT>_999", None),
        (4, 1, None, "c1"), (5, 3, None, "c3"), (6, 999, None, "c999"),
    ]
    target2 = spark.createDataFrame(rows, TGT_SCHEMA)
    out = merge.make_unique(target2, ["k"], mode="join", target_order_col="id")
    rows = by_key(out)
    assert len(rows) == 3
    assert rows[1]["varch"] is None and rows[1]["clob"] == "c1"  # last wins incl. null
    out_drop = merge.make_unique(target2, ["k"], mode="drop", target_order_col="id")
    rows = by_key(out_drop)
    assert rows[1]["varch"] == "<TEXT>_1" and rows[1]["clob"] is None


def test_key_function_lower(spark):
    # -k "lower(column_varchar)": 3 case-variant rows collapse to 1
    # (DbImportTest_MariaDB.java:1044-1089)
    src = spark.createDataFrame(
        [("AbcÄ123", 0), ("ABCÄ123", 1), ("abcä123", 2)], "v string, _src_order long"
    )
    key = KeyColumn(column="v", expression="lower(v)")
    out = dedup.drop_duplicates_keep_first(src, [key])
    assert out.count() == 1
    assert out.collect()[0]["v"] == "AbcÄ123"


class TestSkewOps:
    def test_salted_join_equals_plain_join(self, spark):
        from dbimport_spark.operators import skew

        big = spark.createDataFrame(
            [(k, i) for i in range(50) for k in (1, 1, 2)], "k int, v int"
        )
        dim = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, name string")
        got = skew.salted_join(big, dim, ["k"], salt_buckets=4)
        want = big.join(dim, "k")
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    def test_salted_join_left_keeps_unmatched(self, spark):
        from dbimport_spark.operators import skew

        big = spark.createDataFrame([(1, 10), (9, 90)], "k int, v int")
        dim = spark.createDataFrame([(1, "a")], "k int, name string")
        got = skew.salted_join(big, dim, ["k"], how="left", salt_buckets=4)
        rows = {tuple(r) for r in got.collect()}
        assert (9, 90, None) in rows and (1, 10, "a") in rows

    def test_salted_aggregate_equals_plain(self, spark):
        import pyspark.sql.functions as F

        from dbimport_spark.operators import skew

        df = spark.createDataFrame(
            [("x", i) for i in range(100)] + [("y", 5)], "g string, v int"
        )
        got = skew.salted_aggregate(
            df, ["g"], {"n": ("v", "count"), "s": ("v", "sum"), "mx": ("v", "max")},
            salt_buckets=4,
        ).orderBy("g").collect()
        want = (
            df.groupBy("g")
            .agg(F.count("v").alias("n"), F.sum("v").alias("s"), F.max("v").alias("mx"))
            .orderBy("g")
            .collect()
        )
        assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_scd2_merge_semantics(spark):
    """Pin every SCD2 branch on a 5-key micro-history: changed key closes +
    reopens, unchanged key passes, absent key stays open, new key opens,
    null-safe compare treats NULL->NULL as unchanged and value->NULL as a
    change; historical rows pass through untouched."""
    from pyspark.sql import types as T

    hist_schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("valid_from", T.TimestampType()),
        T.StructField("valid_to", T.TimestampType()),
        T.StructField("is_current", T.BooleanType()),
    ])
    import datetime as dt

    t0 = dt.datetime(2023, 1, 1)
    t1 = dt.datetime(2024, 1, 1)
    hist = spark.createDataFrame(
        [
            (1, "a", t1, None, True),     # will change -> close + reopen
            (1, "a0", t0, t1, False),     # historical, untouched
            (2, "b", t1, None, True),     # unchanged
            (3, "c", t1, None, True),     # absent from snapshot -> stays open
            (4, None, t1, None, True),    # NULL -> NULL unchanged (null-safe)
        ],
        hist_schema,
    )
    src = spark.createDataFrame(
        [(1, "a2"), (2, "b"), (4, None), (5, "e"), (6, None)],
        T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]),
    )
    out = merge.scd2_merge(hist, src, ["k"], ["v"], "2024-06-01 00:00:00")
    rows = sorted(out.collect(), key=lambda r: (r["k"], r["valid_from"]))
    by = {}
    for r in rows:
        by.setdefault(r["k"], []).append(r)

    assert [(r["v"], r["is_current"]) for r in by[1]] == [
        ("a0", False), ("a", False), ("a2", True)
    ]
    closed = by[1][1]
    assert closed["valid_to"] == dt.datetime(2024, 6, 1)
    assert by[1][2]["valid_from"] == dt.datetime(2024, 6, 1)
    assert by[1][2]["valid_to"] is None
    assert [(r["v"], r["is_current"], r["valid_to"]) for r in by[2]] == [("b", True, None)]
    assert [(r["v"], r["is_current"]) for r in by[3]] == [("c", True)]
    assert [(r["v"], r["is_current"]) for r in by[4]] == [(None, True)]  # no spurious churn
    assert [(r["v"], r["is_current"]) for r in by[5]] == [("e", True)]
    assert [(r["v"], r["is_current"]) for r in by[6]] == [(None, True)]  # new key, NULL value
    assert len(rows) == 8


def test_scd2_merge_null_is_current_row_survives(spark):
    """A history row with NULL is_current is neither current nor droppable:
    it must pass through with the non-current slice, not vanish."""
    from pyspark.sql import types as T
    import datetime as dt

    hist_schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("valid_from", T.TimestampType()),
        T.StructField("valid_to", T.TimestampType()),
        T.StructField("is_current", T.BooleanType()),
    ])
    t0 = dt.datetime(2023, 1, 1)
    hist = spark.createDataFrame(
        [
            (1, "weird", t0, None, None),  # NULL is_current -> history slice
            (1, "a", t0, None, True),
        ],
        hist_schema,
    )
    src = spark.createDataFrame(
        [(1, "a")],
        T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]),
    )
    out = merge.scd2_merge(hist, src, ["k"], ["v"], "2024-06-01 00:00:00").collect()
    assert len(out) == 2  # nothing vanished
    vals = sorted((r["v"], r["is_current"]) for r in out)
    assert vals == [("a", True), ("weird", None)]


@pytest.mark.slow
def test_scd2_merge_matches_model_on_random_inputs(spark):
    """Model-based check: scd2_merge equals a pure-Python reference on
    seeded random histories/snapshots — keys with only closed history,
    NULL tracked values, multi-version keys, and absent keys all appear.
    Also asserts the structural invariants: at most one open row per key
    and closed rows keep their original valid_from."""
    import datetime as dt
    import random

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("valid_from", T.TimestampType()),
        T.StructField("valid_to", T.TimestampType()),
        T.StructField("is_current", T.BooleanType()),
    ])
    load_ts = dt.datetime(2024, 6, 1)
    vals = ["a", "b", "c", None]

    for seed in range(5):
        rng = random.Random(seed)
        hist, model_cur = [], {}
        for k in range(1, 13):
            shape = rng.choice(["none", "open", "closed_only", "closed_plus_open"])
            t0, t1 = dt.datetime(2023, 1, 1), dt.datetime(2024, 1, 1)
            if shape in ("closed_only", "closed_plus_open"):
                hist.append((k, rng.choice(vals), t0, t1, False))
            if shape in ("open", "closed_plus_open"):
                v = rng.choice(vals)
                hist.append((k, v, t1, None, True))
                model_cur[k] = v
        src = [
            (k, rng.choice(vals))
            for k in range(1, 16)
            if rng.random() < 0.7
        ]
        if not hist or not src:
            continue

        # python reference model
        want = {r for r in hist if not r[4]}          # closed pass through
        src_by_k = dict(src)
        for k, v, vf, vt, cur in [r for r in hist if r[4]]:
            if k in src_by_k and src_by_k[k] != v:
                want.add((k, v, vf, load_ts, False))  # closed now
            else:
                want.add((k, v, vf, None, True))      # kept
        for k, v in src:
            if k not in model_cur or model_cur[k] != v:
                want.add((k, v, load_ts, None, True))  # reopened or brand new

        hist_df = spark.createDataFrame(hist, schema)
        src_df = spark.createDataFrame(
            src, T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.StringType())])
        )
        got = {
            (r["k"], r["v"], r["valid_from"], r["valid_to"], r["is_current"])
            for r in merge.scd2_merge(hist_df, src_df, ["k"], ["v"], "2024-06-01 00:00:00").collect()
        }
        assert got == want, f"seed {seed}: {got ^ want}"
        open_per_key = {}
        for k, *_rest, cur in got:
            if cur:
                open_per_key[k] = open_per_key.get(k, 0) + 1
        assert all(n == 1 for n in open_per_key.values())


def test_aqe_skew_join_splits_planted_hot_key(spark):
    """A planted ~1000× hot key must go through AQE's skew-join split
    (plan-asserted: the final adaptive SMJ is marked ``skew=true``), with
    the thresholds scaled down to test-data sizes.

    When to prefer which skew defense (dbimport_spark/operators/skew.py):
    AQE splitting is the default — free, runtime-decided, and exactly this
    mechanism; explicit salting (salted_join/salted_aggregate, equality
    pinned by the tests above and the skew_salted_* oracle queries) is for
    the cases AQE cannot split — skewed AGGREGATIONS feeding windows, and
    joins where the skewed side must stay co-partitioned with a later
    stage. The bench session runs with AQE skew-join on, so a degenerate
    key at 100 TB takes this path without any query-side code."""
    import pyspark.sql.functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.shuffle.partitions",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        # force a sort-merge join (broadcast would hide the skew machinery)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.shuffle.partitions", "8")

        # hot key 0: ~100k rows with a fat payload; 100 cold keys: 100 rows
        big = spark.range(100_000).select(
            F.lit(0).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pay"),
        ).unionByName(
            spark.range(100).select(
                (F.col("id") + 1).alias("k"),
                F.col("id").cast("string").alias("pay"),
            )
        )
        dim = spark.range(101).select(
            F.col("id").alias("k"), F.col("id").cast("string").alias("name")
        )
        joined = big.join(dim, "k")
        # collect() executes THIS df's queryExecution (count() would build
        # a different plan and leave joined's adaptive plan un-finalized)
        assert len(joined.collect()) == 100_100  # correctness first
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


class TestMergeIntoClauses:
    """Full MERGE INTO clause lattice (operators/merge.merge_into):
    first-match-wins order, all five clause kinds, SQL conditions over
    t/s aliases, one full-outer join + CASE projection."""

    def _tables(self, spark):
        target = spark.createDataFrame(
            [(1, "a", 10), (2, "b", -5), (3, "c", 30), (4, "d", 40)],
            "k long, tag string, val long",
        )
        source = spark.createDataFrame(
            [(1, "A", 100), (2, "B", 200), (9, "z", 90)],
            "k long, tag string, val long",
        )
        return target, source

    def test_matched_update_then_insert(self, spark):
        from dbimport_spark.operators.merge import merge_into

        t, s = self._tables(spark)
        out = merge_into(
            t, s, ["k"],
            [("matched_update", None, "all"), ("not_matched_insert", None, "all")],
        )
        rows = {r.k: (r.tag, r.val) for r in out.collect()}
        assert rows == {
            1: ("A", 100), 2: ("B", 200), 3: ("c", 30), 4: ("d", 40), 9: ("z", 90),
        }

    def test_first_match_wins_order(self, spark):
        from dbimport_spark.operators.merge import merge_into

        t, s = self._tables(spark)
        # delete-first: matched k=2 has t.val<0 -> deleted, never updated
        out = merge_into(
            t, s, ["k"],
            [
                ("matched_delete", "t.val < 0"),
                ("matched_update", None, "all"),
            ],
        )
        rows = {r.k: r.val for r in out.collect()}
        assert rows == {1: 100, 3: 30, 4: 40}
        # update-first: the same row is updated instead (clause order flipped)
        out2 = merge_into(
            t, s, ["k"],
            [
                ("matched_update", None, "all"),
                ("matched_delete", "t.val < 0"),
            ],
        )
        rows2 = {r.k: r.val for r in out2.collect()}
        assert rows2 == {1: 100, 2: 200, 3: 30, 4: 40}

    def test_not_matched_by_source_clauses(self, spark):
        from dbimport_spark.operators.merge import merge_into

        t, s = self._tables(spark)
        out = merge_into(
            t, s, ["k"],
            [
                ("not_matched_by_source_update", "t.k = 3", {"val": "t.val + 1"}),
                ("not_matched_by_source_delete", "t.k = 4"),
            ],
        )
        rows = {r.k: r.val for r in out.collect()}
        assert rows == {1: 10, 2: -5, 3: 31}  # 3 bumped, 4 deleted

    def test_partial_assignment_and_insert_null_fill(self, spark):
        from dbimport_spark.operators.merge import merge_into

        t, s = self._tables(spark)
        out = merge_into(
            t, s, ["k"],
            [
                ("matched_update", None, {"val": "s.val + t.val"}),
                ("not_matched_insert", None, {"k": "s.k", "val": "s.val"}),
            ],
        )
        rows = {r.k: (r.tag, r.val) for r in out.collect()}
        assert rows[1] == ("a", 110)   # tag kept from target on update
        assert rows[9] == (None, 90)   # unassigned column NULL on insert

    def test_conditional_insert_and_unmatched_source_dropped(self, spark):
        from dbimport_spark.operators.merge import merge_into

        t, s = self._tables(spark)
        out = merge_into(
            t, s, ["k"], [("not_matched_insert", "s.val > 1000", "all")]
        )
        assert out.count() == 4  # k=9 fails the condition -> dropped

    def test_unknown_clause_kind_raises(self, spark):
        from dbimport_spark.operators.merge import merge_into

        t, s = self._tables(spark)
        import pytest as _pytest

        with _pytest.raises(ValueError, match="unknown clause"):
            merge_into(t, s, ["k"], [("matched_upsert", None, "all")]).collect()

    def test_duplicate_source_keys_raise(self, spark):
        """ADVICE r8 + r9: a non-key-distinct source must RAISE (Delta's
        multiple-source-matches error) when the merge carries MATCHED
        clauses — never silently duplicate matched target rows. Delta
        parity (r9 ADVICE): an INSERT-ONLY merge succeeds instead — the
        multi-matched target row is kept exactly ONCE (not once per
        match pair) and unmatched source rows insert."""
        from py4j.protocol import Py4JJavaError

        from dbimport_spark.operators.merge import merge_into

        t, _ = self._tables(spark)
        dup_s = spark.createDataFrame(
            [(1, "A", 100), (1, "A2", 101), (9, "z", 90)],
            "k long, tag string, val long",
        )
        with pytest.raises((Py4JJavaError, Exception), match="multiple source rows"):
            merge_into(
                t, dup_s, ["k"], [("matched_update", None, "all")]
            ).collect()
        # insert-only: Delta succeeds; target k=1 kept once, k=9 inserts
        got = sorted(
            (r.k, r.tag)
            for r in merge_into(
                t, dup_s, ["k"], [("not_matched_insert", None, "all")]
            ).collect()
        )
        assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (9, "z")]
        # NULL source keys never match -> never trip the guard
        null_s = spark.createDataFrame(
            [(None, "n1", 1), (None, "n2", 2)], "k long, tag string, val long"
        )
        out = merge_into(
            t, null_s, ["k"],
            [("matched_update", None, "all"), ("not_matched_insert", None, "all")],
        )
        assert out.count() == 6  # 4 kept targets + 2 null-key inserts

    def test_equivalence_with_upsert(self, spark):
        """update-all + insert-all == the narrow upsert operator."""
        from dbimport_spark.operators.merge import merge_into, upsert

        t, s = self._tables(spark)
        a = sorted(
            (r.k, r.tag, r.val)
            for r in merge_into(
                t, s, ["k"],
                [("matched_update", None, "all"), ("not_matched_insert", None, "all")],
            ).collect()
        )
        b = sorted((r.k, r.tag, r.val) for r in upsert(t, s, ["k"]).collect())
        assert a == b
