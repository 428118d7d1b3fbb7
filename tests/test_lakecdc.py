"""lake_cdc streaming-source tests: incremental offsets across restarts,
append-only contract enforcement, schema derivation."""

import os

import pytest
from pyspark.sql import functions as F

from dbimport_spark import txnlog
from dbimport_spark.sources.lakecdc import register_lake_cdc


def _append(spark, path, m, n=10):
    df = spark.range(n).select(
        (F.col("id") * 3 + m).alias("k"), F.lit(f"v{m}").alias("tag")
    )
    return txnlog.txn_append(spark, df, path)


def _drain(spark, path, checkpoint, sink_dir):
    """availableNow run appending every new commit's rows to a parquet
    sink (memory sink can't resume from a checkpoint)."""
    register_lake_cdc(spark)
    s = spark.readStream.format("lake_cdc").option("path", path).load()
    q = (
        s.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(sink_dir)


def test_streams_every_commit_with_version_column(spark, tmp_path):
    path = str(tmp_path / "t")
    for m in range(3):
        _append(spark, path, m)
    got = _drain(spark, path, str(tmp_path / "cp"), str(tmp_path / "sink"))
    per = {
        r.version: r.n
        for r in got.groupBy(F.col("_commit_version").alias("version"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per == {0: 10, 1: 10, 2: 10}


def test_checkpoint_restart_reads_only_new_commits(spark, tmp_path):
    path = str(tmp_path / "t")
    cp, sink = str(tmp_path / "cp"), str(tmp_path / "sink")
    _append(spark, path, 0)
    _append(spark, path, 1)
    first = _drain(spark, path, cp, sink)
    assert first.count() == 20

    _append(spark, path, 2)
    second = _drain(spark, path, cp, sink)  # same checkpoint: resume
    per = {
        r.v: r.n
        for r in second.groupBy(F.col("_commit_version").alias("v"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # versions 0/1 appear ONCE (not re-read), version 2 arrived in run 2
    assert per == {0: 10, 1: 10, 2: 10}


def test_remove_carrying_commit_rejected_without_ignore_changes(spark, tmp_path):
    path = str(tmp_path / "t")
    _append(spark, path, 0)
    src = spark.range(5).select(
        (F.col("id") * 3).alias("k"), F.lit("UP").alias("tag")
    )
    txnlog.txn_upsert(spark, src, path, ["k"])  # whole-snapshot rewrite
    register_lake_cdc(spark)
    s = spark.readStream.format("lake_cdc").option("path", path).load()
    q = (
        s.writeStream.format("memory")
        .queryName("cdc_reject")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="ignoreChanges"):
        q.awaitTermination()


_UPSERT_CLAUSES = [
    ("matched_update", None, {"tag": "s.tag"}),
    ("not_matched_insert", None, {"k": "s.k", "tag": "s.tag"}),
]


def test_ignore_changes_streams_rewritten_files(spark, tmp_path):
    path = str(tmp_path / "t")
    _append(spark, path, 0)
    src = spark.range(5).select(
        (F.col("id") * 3).alias("k"), F.lit("UP").alias("tag")
    )
    # a whole-snapshot rewrite (txn_upsert is merge-on-read: its added
    # files hold only the replacement rows)
    txnlog.txn_merge_into(spark, src, path, ["k"], _UPSERT_CLAUSES)
    register_lake_cdc(spark)
    s = (
        spark.readStream.format("lake_cdc")
        .option("path", path)
        .option("ignoreChanges", "true")
        .load()
    )
    q = (
        s.writeStream.format("memory")
        .queryName("cdc_ign")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("cdc_ign")
    # v0's 10 rows + v1's full rewritten snapshot (10 rows, 5 updated)
    assert got.filter(F.col("_commit_version") == 0).count() == 10
    v1 = got.filter(F.col("_commit_version") == 1)
    assert v1.count() == 10
    assert v1.filter(F.col("tag") == "UP").count() == 5


def test_schema_includes_commit_version(spark, tmp_path):
    path = str(tmp_path / "t")
    _append(spark, path, 0)
    register_lake_cdc(spark)
    s = spark.readStream.format("lake_cdc").option("path", path).load()
    assert s.columns == ["k", "tag", "_commit_version"]
    assert dict(s.dtypes)["_commit_version"] == "bigint"


def test_empty_table_raises_loudly(spark, tmp_path):
    register_lake_cdc(spark)
    with pytest.raises(Exception, match="empty table|no added"):
        spark.readStream.format("lake_cdc").option(
            "path", str(tmp_path / "missing")
        ).load()


def test_skip_change_commits_drops_rewrites_but_keeps_later_appends(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    _append(spark, path, 0)  # v0 append
    src = spark.range(5).select(
        (F.col("id") * 3).alias("k"), F.lit("UP").alias("tag")
    )
    txnlog.txn_upsert(spark, src, path, ["k"])  # v1 rewrite (skipped)
    _append(spark, path, 2)  # v2 append
    register_lake_cdc(spark)
    s = (
        spark.readStream.format("lake_cdc")
        .option("path", path)
        .option("skipChangeCommits", "true")
        .load()
    )
    q = (
        s.writeStream.format("memory")
        .queryName("cdc_skip")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("cdc_skip")
    per = {
        r.v: r.n
        for r in got.groupBy(F.col("_commit_version").alias("v"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per == {0: 10, 2: 10}  # v1's rewrite never streamed


def test_partitioned_table_requires_and_honors_partition_column(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("lang")
    )
    txnlog.txn_append_partitioned(spark, df, path, "lang")
    register_lake_cdc(spark)
    # without the option: loud error at planning time
    s = spark.readStream.format("lake_cdc").option("path", path).load()
    q = (
        s.writeStream.format("memory").queryName("cdc_part_err")
        .outputMode("append").trigger(availableNow=True).start()
    )
    with pytest.raises(Exception, match="partitionColumn"):
        q.awaitTermination()
    # with it: partition value re-attached per file, typed per the log
    s2 = (
        spark.readStream.format("lake_cdc")
        .option("path", path)
        .option("partitionColumn", "lang")
        .load()
    )
    assert s2.columns == ["k", "lang", "_commit_version"]
    q2 = (
        s2.writeStream.format("memory").queryName("cdc_part_ok")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q2.awaitTermination()
    got = spark.table("cdc_part_ok")
    per = {
        r.lang: r.n
        for r in got.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per == {"0": 7, "1": 7, "2": 6}
    assert got.filter(F.col("_commit_version") != 0).count() == 0


def test_schema_evolved_table_streams_with_null_fill(spark, tmp_path):
    """Old narrow files must conform to the merged stream schema with
    null-fill — the streaming spelling of read_snapshot's mergeSchema
    (this exact case crashed the reader before the conform step)."""
    path = str(tmp_path / "t")
    txnlog.txn_append(
        spark, spark.createDataFrame([(1, "a")], "k long, v string"), path
    )
    txnlog.txn_append(
        spark,
        spark.createDataFrame([(2, "b", 20)], "k long, v string, extra long"),
        path,
    )
    register_lake_cdc(spark)
    s = spark.readStream.format("lake_cdc").option("path", path).load()
    assert s.columns == ["k", "v", "extra", "_commit_version"]
    q = (
        s.writeStream.format("memory").queryName("cdc_evo")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = {r.k: (r.v, r.extra, r._commit_version)
            for r in spark.table("cdc_evo").collect()}
    assert rows == {1: ("a", None, 0), 2: ("b", 20, 1)}


def test_dv_commit_is_change_data(spark, tmp_path):
    """A deletion-vector commit alters visible rows of already-streamed
    files — the reader must treat it exactly like a remove-carrying
    rewrite: loud by default, droppable with skipChangeCommits."""
    path = str(tmp_path / "t")
    _append(spark, path, 0)
    assert txnlog.txn_delete_dv(spark, F.col("k") == 3, path) == 1
    register_lake_cdc(spark)
    s = spark.readStream.format("lake_cdc").option("path", path).load()
    q = (
        s.writeStream.format("memory")
        .queryName("cdc_dv_reject")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="deletion vectors"):
        q.awaitTermination()
    # skipChangeCommits: the DV commit is dropped, appends still stream
    _append(spark, path, 100)
    s2 = (
        spark.readStream.format("lake_cdc")
        .option("path", path)
        .option("skipChangeCommits", "true")
        .load()
    )
    q2 = (
        s2.writeStream.format("memory")
        .queryName("cdc_dv_skip")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    got = spark.sql("SELECT count(*) AS n FROM cdc_dv_skip").first()["n"]
    assert got == 20  # both append commits, nothing from the DV commit


def test_max_versions_per_trigger_paces_the_stream(spark, tmp_path):
    """Admission control: with maxVersionsPerTrigger=1, a micro-batch
    stream over 3 commits takes 3 one-commit batches instead of one
    three-commit gulp — every row still arrives exactly once. (An
    availableNow drain fixes its end offset up front and is exempt by
    design — pacing is for the continuous micro-batch path.)"""
    import time

    path = str(tmp_path / "t")
    for m in range(3):
        _append(spark, path, m)
    register_lake_cdc(spark)
    s = (
        spark.readStream.format("lake_cdc")
        .option("path", path)
        .option("maxVersionsPerTrigger", "1")
        .load()
    )
    seen = []  # sorted commit versions per non-empty batch

    def collect(bdf, bid):
        vs = sorted(
            r["_commit_version"]
            for r in bdf.select("_commit_version").distinct().collect()
        )
        if vs:
            seen.append(vs)

    q = (
        s.writeStream.foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline and len(seen) < 3:
            time.sleep(0.25)
    finally:
        q.stop()
    assert seen == [[0], [1], [2]]  # one commit per batch, in order


def test_paced_stream_survives_checkpoint_restart(spark, tmp_path):
    """Pacing must never wedge a restarted stream: after draining 2
    commits under maxVersionsPerTrigger=1 and stopping, two MORE commits
    arrive and the stream restarts from the checkpoint — every new commit
    must arrive exactly once (pacing on the first post-restart batch is
    best-effort; losing or duplicating data is not)."""
    import time

    path = str(tmp_path / "t")
    cp = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    register_lake_cdc(spark)

    def run(expect_versions):
        s = (
            spark.readStream.format("lake_cdc")
            .option("path", path)
            .option("maxVersionsPerTrigger", "1")
            .load()
        )
        q = (
            s.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(processingTime="250 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 90
            while time.time() < deadline:
                try:
                    got = {
                        r["_commit_version"]
                        for r in spark.read.parquet(sink)
                        .select("_commit_version").distinct().collect()
                    }
                except Exception:
                    got = set()
                if got >= expect_versions:
                    break
                time.sleep(0.25)
        finally:
            q.stop()

    _append(spark, path, 0)
    _append(spark, path, 1)
    run({0, 1})
    _append(spark, path, 2)
    _append(spark, path, 3)
    run({0, 1, 2, 3})
    per = {
        r.v: r.n
        for r in spark.read.parquet(sink)
        .groupBy(F.col("_commit_version").alias("v"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per == {0: 10, 1: 10, 2: 10, 3: 10}  # exactly once each


# ------------------------------------------------------- change feed (CDF)


def _drain_cdf(spark, path, checkpoint, sink_dir, **opts):
    register_lake_cdc(spark)
    r = (
        spark.readStream.format("lake_cdc")
        .option("path", path)
        .option("readChangeFeed", "true")
    )
    for k, v in opts.items():
        r = r.option(k, v)
    q = (
        r.load()
        .writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(sink_dir)


def test_change_feed_schema_and_inserts(spark, tmp_path):
    path = str(tmp_path / "t")
    _append(spark, path, 0)
    register_lake_cdc(spark)
    s = (
        spark.readStream.format("lake_cdc")
        .option("path", path)
        .option("readChangeFeed", "true")
        .load()
    )
    assert s.columns == ["k", "tag", "_commit_version", "_change_type"]
    got = _drain_cdf(spark, path, str(tmp_path / "cp"), str(tmp_path / "sink"))
    assert got.count() == 10
    assert {r._change_type for r in got.collect()} == {"insert"}


def test_change_feed_dv_delete_emits_delete_rows(spark, tmp_path):
    """A DV commit streams the DELETED ROWS THEMSELVES (preimages) with
    _change_type='delete' — Delta's modern CDF contract, not the legacy
    ignoreChanges arm."""
    path = str(tmp_path / "t")
    _append(spark, path, 0)                                  # k = 0,3,..,27
    txnlog.txn_delete_dv(spark, F.col("k").isin(3, 6), path)  # v1
    _append(spark, path, 100)                                 # v2
    got = _drain_cdf(spark, path, str(tmp_path / "cp"), str(tmp_path / "sink"))
    per = {
        (r.v, r.ct): r.n
        for r in got.groupBy(
            F.col("_commit_version").alias("v"),
            F.col("_change_type").alias("ct"),
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per == {(0, "insert"): 10, (1, "delete"): 2, (2, "insert"): 10}
    deleted = {
        (r.k, r.tag)
        for r in got.filter(F.col("_change_type") == "delete").collect()
    }
    assert deleted == {(3, "v0"), (6, "v0")}  # original row values ride along


def test_change_feed_second_dv_commit_emits_only_new_deletes(spark, tmp_path):
    """DV sidecars are cumulative (new = old ∪ fresh positions); the feed
    must emit only the DELTA, never re-emit earlier deletions."""
    path = str(tmp_path / "t")
    _append(spark, path, 0)
    txnlog.txn_delete_dv(spark, F.col("k") == 3, path)   # v1: 1 delete
    txnlog.txn_delete_dv(spark, F.col("k").isin(3, 9), path)  # v2: only k=9 new
    got = _drain_cdf(spark, path, str(tmp_path / "cp"), str(tmp_path / "sink"))
    dels = {
        (r._commit_version, r.k)
        for r in got.filter(F.col("_change_type") == "delete").collect()
    }
    assert dels == {(1, 3), (2, 9)}


def test_change_feed_cow_rewrite_emits_delete_insert_pairs(spark, tmp_path):
    """A whole-snapshot UPSERT streams as the keyless multiset diff:
    updated rows surface as delete+insert pairs, untouched rows cancel."""
    path = str(tmp_path / "t")
    _append(spark, path, 0)  # k = 0,3,...,27 tag v0
    src = spark.range(5).select(
        (F.col("id") * 3).alias("k"), F.lit("UP").alias("tag")
    )
    txnlog.txn_upsert(spark, src, path, ["k"])  # v1 rewrite: 5 updates
    got = _drain_cdf(spark, path, str(tmp_path / "cp"), str(tmp_path / "sink"))
    v1 = got.filter(F.col("_commit_version") == 1)
    pre = {(r.k, r.tag) for r in v1.filter(F.col("_change_type") == "delete").collect()}
    post = {(r.k, r.tag) for r in v1.filter(F.col("_change_type") == "insert").collect()}
    assert pre == {(k, "v0") for k in (0, 3, 6, 9, 12)}
    assert post == {(k, "UP") for k in (0, 3, 6, 9, 12)}


def test_change_feed_optimize_is_content_invariant(spark, tmp_path):
    path = str(tmp_path / "t")
    _append(spark, path, 0)
    _append(spark, path, 1)
    txnlog.txn_compact(spark, path)  # v2: OPTIMIZE, no visible-row change
    got = _drain_cdf(spark, path, str(tmp_path / "cp"), str(tmp_path / "sink"))
    assert got.filter(F.col("_commit_version") == 2).count() == 0
    assert got.count() == 20


def test_change_feed_restart_exactly_once_across_dv_commit(spark, tmp_path):
    """Checkpoint restart with a DV commit landing mid-stream: every
    change row arrives exactly once across the two runs."""
    path = str(tmp_path / "t")
    cp, sink = str(tmp_path / "cp"), str(tmp_path / "sink")
    _append(spark, path, 0)
    first = _drain_cdf(spark, path, cp, sink)
    assert first.count() == 10
    txnlog.txn_delete_dv(spark, F.col("k") == 12, path)  # v1 after run 1
    _append(spark, path, 50)                              # v2
    second = _drain_cdf(spark, path, cp, sink)  # same checkpoint: resume
    per = {
        (r.v, r.ct): r.n
        for r in second.groupBy(
            F.col("_commit_version").alias("v"),
            F.col("_change_type").alias("ct"),
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per == {(0, "insert"): 10, (1, "delete"): 1, (2, "insert"): 10}


def test_change_feed_restore_resurfaces_dv_deleted_rows(spark, tmp_path):
    """RESTORE past a DV delete rolls the deletion back — the feed emits
    the resurfaced rows as inserts (the DV rollback direction)."""
    path = str(tmp_path / "t")
    _append(spark, path, 0)
    txnlog.txn_delete_dv(spark, F.col("k") == 3, path)  # v1
    txnlog.txn_restore(path, 0)                          # v2: undo the delete
    got = _drain_cdf(spark, path, str(tmp_path / "cp"), str(tmp_path / "sink"))
    v2 = {(r.ct): r.n for r in got.filter(F.col("_commit_version") == 2)
          .groupBy(F.col("_change_type").alias("ct"))
          .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert v2 == {"insert": 1}
    back = got.filter(
        (F.col("_commit_version") == 2) & (F.col("_change_type") == "insert")
    ).collect()
    assert [(r.k, r.tag) for r in back] == [(3, "v0")]


def test_change_feed_partitioned_dv_delete(spark, tmp_path):
    """Partitioned table: CDF delete rows carry the log-resident
    partition value, typed per the recorded DDL."""
    path = str(tmp_path / "t")
    df = spark.range(12).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("lang")
    )
    txnlog.txn_append_partitioned(spark, df, path, "lang")
    txnlog.txn_delete_dv(spark, F.col("k") == 4, path)  # lang "1"
    got = _drain_cdf(
        spark, path, str(tmp_path / "cp"), str(tmp_path / "sink"),
        partitionColumn="lang",
    )
    dels = got.filter(F.col("_change_type") == "delete").collect()
    assert [(r.k, r.lang, r._commit_version) for r in dels] == [(4, "1", 1)]
    assert got.filter(F.col("_change_type") == "insert").count() == 12


def test_change_feed_respects_admission_control(spark, tmp_path):
    """CDF + maxVersionsPerTrigger: commits split across micro-batches at
    version granularity and every change row still arrives exactly once
    (the _partitions_cdf fold is per-batch, so the DV delta computation
    must be correct from ANY starting offset, not just 0)."""
    import time

    path = str(tmp_path / "t")
    _append(spark, path, 0)                               # v0
    txnlog.txn_delete_dv(spark, F.col("k") == 3, path)    # v1
    _append(spark, path, 50)                              # v2
    register_lake_cdc(spark)
    s = (
        spark.readStream.format("lake_cdc")
        .option("path", path)
        .option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", "1")
        .load()
    )
    got = []

    def collect(bdf, bid):
        got.extend(
            (r["_commit_version"], r["_change_type"], r["k"])
            for r in bdf.collect()
        )

    q = (
        s.writeStream.foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline and len(got) < 21:
            time.sleep(0.25)
    finally:
        q.stop()
    from collections import Counter

    per = Counter((v, ct) for v, ct, _ in got)
    assert per == {(0, "insert"): 10, (1, "delete"): 1, (2, "insert"): 10}
    assert [(v, k) for v, ct, k in got if ct == "delete"] == [(1, 3)]


def test_change_feed_translates_column_mapping(spark, tmp_path):
    """CDF over a column-mapped table: insert rows AND DV-delete
    preimages stream under the LOGICAL schema (physical file names
    translated by the conform step)."""
    path = str(tmp_path / "t")
    _append(spark, path, 0)  # columns (k, tag)
    txnlog.txn_rename_column(spark, path, "tag", "label")
    txnlog.txn_delete_dv(spark, F.col("k") == 6, path)
    got = _drain_cdf(spark, path, str(tmp_path / "cp"), str(tmp_path / "sink"))
    assert set(got.columns) == {"k", "label", "_commit_version", "_change_type"}
    dels = got.filter(F.col("_change_type") == "delete").collect()
    assert [(r.k, r.label) for r in dels] == [(6, "v0")]
    assert got.filter(F.col("_change_type") == "insert").count() == 10


def test_change_feed_uses_writer_materialized_change_files(spark, tmp_path):
    """cdf.enabled=true: a rewrite commit writes _change_data/v<N> change
    files at commit time (Delta's design), the stream plans ONE task per
    change file instead of the single-task on-read diff, and the rows
    are identical to the fallback's."""
    import glob

    path = str(tmp_path / "t")
    txnlog.txn_set_property(path, "cdf.enabled", "true")
    _append(spark, path, 0)
    src = spark.range(5).select(
        (F.col("id") * 3).alias("k"), F.lit("UP").alias("tag")
    )
    txnlog.txn_upsert(spark, src, path, ["k"])  # v2 rewrite
    v = txnlog.current_version(path)
    cdf_dir = os.path.join(path, "_change_data", f"v{v:08d}")
    assert glob.glob(os.path.join(cdf_dir, "*.parquet"))
    got = _drain_cdf(spark, path, str(tmp_path / "cp"), str(tmp_path / "sink"))
    rewrite = got.filter(F.col("_commit_version") == v)
    pre = {(r.k, r.tag) for r in rewrite.filter(F.col("_change_type") == "delete").collect()}
    post = {(r.k, r.tag) for r in rewrite.filter(F.col("_change_type") == "insert").collect()}
    assert pre == {(k, "v0") for k in (0, 3, 6, 9, 12)}
    assert post == {(k, "UP") for k in (0, 3, 6, 9, 12)}

    # control table WITHOUT the property: same rows through the fallback
    other = str(tmp_path / "u")
    _append(spark, other, 0)
    txnlog.txn_upsert(spark, src, other, ["k"])
    assert not os.path.isdir(os.path.join(other, "_change_data"))
    got2 = _drain_cdf(spark, other, str(tmp_path / "cp2"), str(tmp_path / "sink2"))
    r2 = got2.filter(F.col("_change_type") == "delete")
    assert {(r.k, r.tag) for r in r2.collect()} == pre


def test_change_data_write_failure_degrades_to_fallback(spark, tmp_path):
    """A crash between the commit and the change-file write must leave
    the feed correct: the reader silently takes the on-read diff for
    that version."""
    import shutil

    path = str(tmp_path / "t")
    txnlog.txn_set_property(path, "cdf.enabled", "true")
    _append(spark, path, 0)
    txnlog.txn_delete(spark, F.col("k") == 6, path)
    v = txnlog.current_version(path)
    shutil.rmtree(os.path.join(path, "_change_data", f"v{v:08d}"))
    got = _drain_cdf(spark, path, str(tmp_path / "cp"), str(tmp_path / "sink"))
    dels = got.filter(F.col("_change_type") == "delete").collect()
    assert [(r.k, r.tag) for r in dels] == [(6, "v0")]


def test_cdf_rewrite_plans_one_task_per_change_file(spark, tmp_path):
    """The 100 TB assert the r8 verdict asked for: a cdf.enabled rewrite
    with MULTIPLE materialized change files plans >1 input partition —
    one _CdfFile task per parquet — never the single-task _CowDiff
    fallback. (AQE coalescing right-sizes change-file COUNT at write
    time; here it is pinned off so the tiny fixture still yields several
    files.)"""
    from dbimport_spark.sources.lakecdc import (
        LakeCdcStreamReader,
        _CdfFile,
        _CowDiff,
    )

    path = str(tmp_path / "t")
    txnlog.txn_set_property(path, "cdf.enabled", "true")
    _append(spark, path, 0)  # v1: 10 rows
    src = spark.range(10).select(
        F.col("id").alias("k"), F.lit("UP").alias("tag")
    )
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key)
    spark.conf.set(coalesce_key, "false")
    try:
        txnlog.txn_upsert(spark, src, path, ["k"])  # v2 rewrite
    finally:
        spark.conf.set(coalesce_key, prev)
    v = txnlog.current_version(path)
    cdf_dir = os.path.join(path, "_change_data", f"v{v:08d}")
    n_files = len([f for f in os.listdir(cdf_dir) if f.endswith(".parquet")])
    assert n_files > 1, "fixture must materialize several change files"
    reader = LakeCdcStreamReader(
        path, {"path": path, "readChangeFeed": "true"}
    )
    parts = reader.partitions({"version": v - 1}, {"version": v})
    assert all(isinstance(p, _CdfFile) for p in parts)
    assert not any(isinstance(p, _CowDiff) for p in parts)
    assert len(parts) == n_files > 1


def test_stream_reads_widened_table(spark, tmp_path):
    """CDC over a WIDENED table: the stream's schema is the widened
    logical schema and pre-widen int32 files conform (arrow upcast in
    the per-file read) — both the plain and change-feed forms."""
    path = str(tmp_path / "t")
    txnlog.txn_append(
        spark, spark.range(4).selectExpr("id AS k", "CAST(id * 2 AS int) AS v"),
        path,
    )
    txnlog.txn_widen_column(spark, path, "v", "bigint")
    txnlog.txn_append(
        spark,
        spark.range(4, 6).selectExpr(
            "id AS k", "CAST(id + 10000000000 AS bigint) AS v"
        ),
        path,
    )
    got = _drain(spark, path, str(tmp_path / "cp"), str(tmp_path / "sink"))
    assert dict(got.dtypes)["v"] == "bigint"
    rows = {r.k: r.v for r in got.collect()}
    assert rows[3] == 6 and rows[5] == 10000000005


def test_stream_resume_below_cleanup_floor_fails_loudly(spark, tmp_path):
    """A stream whose checkpoint predates a log cleanup must get the
    actionable truncation error, not a bare missing-file crash."""
    from dbimport_spark.sources.lakecdc import LakeCdcStreamReader

    path = str(tmp_path / "t")
    for i in range(9):
        txnlog.txn_append(
            spark, spark.createDataFrame([(i, f"v{i}")], "k long, tag string"),
            path,
        )
    txnlog.write_checkpoint(path, 6)
    txnlog.vacuum(path, retain_versions=3)  # horizon 6
    assert txnlog.txn_cleanup_log(path) == 6
    reader = LakeCdcStreamReader(path, {"path": path})
    with pytest.raises(Exception, match="truncated by .?log cleanup"):
        list(reader.partitions({"version": 1}, {"version": 8}))
    # resuming at/above the floor still plans normally
    parts = reader.partitions({"version": 6}, {"version": 8})
    assert {p.version for p in parts} == {7, 8}


def _change_file_rows(spark, t, v=None):
    """The materialized change rows of version ``v`` (default: latest)
    as a sorted list of (k, tag, _change_type)."""
    v = txnlog.current_version(t) if v is None else v
    d = os.path.join(t, "_change_data", f"v{v:08d}")
    assert os.path.isdir(d), "change files must be materialized"
    return _sorted_changes(spark.read.parquet(d).collect())


def _sorted_changes(rows):
    return sorted(
        ((r["k"], r["tag"], r["_change_type"]) for r in rows),
        key=lambda x: (x[0] is None, x),
    )


def _snapshot_diff(spark, t, v0, v1):
    """The multiset diff of two whole snapshots, as change rows."""
    from collections import Counter

    old, new = (
        Counter(
            tuple(r)
            for r in txnlog.read_snapshot(spark, t, v).select("k", "tag").collect()
        )
        for v in (v0, v1)
    )
    rows = [
        {"k": k, "tag": tag, "_change_type": ct}
        for diff, ct in ((old - new, "delete"), (new - old, "insert"))
        for (k, tag), n in diff.items()
        for _ in range(n)
    ]
    return _sorted_changes(rows)


def test_pruned_change_data_matches_unpruned(spark, tmp_path):
    """txn_upsert's change files, computed from its matched rows against
    their replacement, equal the whole-snapshot multiset diff — including a
    NULL-keyed source row (always an insert: null keys never match the
    merge join) and a no-op update (identical row on both sides:
    cancels, appears in neither)."""
    t = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k int, tag string"
    )
    src = spark.createDataFrame(
        # k=2 changed, k=3 no-op (same values), k=9 fresh, k=NULL fresh
        [(2, "B"), (3, "c"), (9, "i"), (None, "n")], "k int, tag string"
    )
    txnlog.txn_set_property(t, "cdf.enabled", "true")
    txnlog.txn_append(spark, base, t)
    v = txnlog.txn_upsert(spark, src, t, ["k"])

    got = _change_file_rows(spark, t)
    assert got == _snapshot_diff(spark, t, v - 1, v)
    # and the diff is exactly the touched keys: 2 update pair, 9 + NULL inserts
    assert got == sorted(
        [
            (2, "b", "delete"),
            (2, "B", "insert"),
            (9, "i", "insert"),
            (None, "n", "insert"),
        ],
        key=lambda x: (x[0] is None, x),
    )


def test_change_feed_reads_upsert_change_files(spark, tmp_path):
    """A merge-on-read upsert commit carries DVs and added files but no
    removes; on a cdf table the change feed must still read the writer's
    change files, where a no-op update cancels — the per-file DV-delta
    path would emit a delete+insert pair for it. Duplicate target keys
    are all replaced."""
    from dbimport_spark.sources.lakecdc import LakeCdcStreamReader, _CdfFile

    path = str(tmp_path / "t")
    txnlog.txn_set_property(path, "cdf.enabled", "true")
    txnlog.txn_append(
        spark,
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (2, "b2"), (3, "c")], "k long, tag string"
        ),
        path,
    )
    src = spark.createDataFrame(
        [(2, "B"), (3, "c"), (7, "g")], "k long, tag string"  # k=3 no-op
    )
    v = txnlog.txn_upsert(spark, src, path, ["k"])
    reader = LakeCdcStreamReader(path, {"path": path, "readChangeFeed": "true"})
    parts = reader.partitions({"version": v - 1}, {"version": v})
    assert parts and all(isinstance(p, _CdfFile) for p in parts)

    got = _drain_cdf(spark, path, str(tmp_path / "cp"), str(tmp_path / "sink"))
    streamed = _sorted_changes(got.filter(F.col("_commit_version") == v).collect())
    assert streamed == _change_file_rows(spark, path, v)
    assert streamed == _snapshot_diff(spark, path, v - 1, v)
    assert streamed == [
        (2, "B", "insert"), (2, "B", "insert"),
        (2, "b", "delete"), (2, "b2", "delete"),
        (7, "g", "insert"),
    ]


def test_change_feed_streams_partitioned_change_files(spark, tmp_path):
    """A partitioned cdf table: the partitioned upsert and the pruned CoW
    delete write change files, and the change feed streams each commit's
    files with the partition column taken from the file — the same
    multiset of (row, _change_type) as the diff of the two snapshots."""
    from collections import Counter

    from dbimport_spark.sources.lakecdc import LakeCdcStreamReader, _CdfFile

    path = str(tmp_path / "t")
    schema = "k long, tag string, p int"
    txnlog.txn_set_property(path, "cdf.enabled", "true")
    txnlog.txn_append_partitioned(
        spark,
        spark.createDataFrame(
            [(1, "a", 1), (2, "b", 1), (3, "c", 2), (4, "d", None)], schema
        ),
        path, "p",
    )
    v_up = txnlog.txn_upsert_partitioned(
        spark,
        spark.createDataFrame([(2, "B", 1), (5, "e", None)], schema),
        path, ["k"], "p",
    )
    v_del = txnlog.txn_delete_cow(spark, F.col("k").isin(3, 4), path)
    opts = {"path": path, "readChangeFeed": "true", "partitionColumn": "p"}
    reader = LakeCdcStreamReader(path, opts)
    parts = reader.partitions({"version": v_up - 1}, {"version": v_del})
    assert parts and all(isinstance(x, _CdfFile) for x in parts)

    got = _drain_cdf(
        spark, path, str(tmp_path / "cp"), str(tmp_path / "sink"),
        partitionColumn="p",
    )
    for v in (v_up, v_del):
        snap = txnlog.Snapshot.at(path, v - 1)
        want = txnlog._change_delta(
            snap,
            txnlog.read_snapshot(spark, path, v - 1),
            txnlog.read_snapshot(spark, path, v),
        )
        cols = ["k", "tag", "p", "_change_type"]
        streamed = got.filter(F.col("_commit_version") == v).select(*cols)
        assert Counter(map(tuple, streamed.collect())) == Counter(
            map(tuple, want.select(*cols).collect())
        )
    assert dict(got.dtypes)["p"] == "int"
    assert got.filter("p IS NULL AND _change_type = 'delete'").count() == 1


def test_stream_start_reads_no_data_file_footer(spark, tmp_path, monkeypatch):
    """Starting a stream plans from the log alone: the schema (evolved,
    widened, renamed), the reader and the first micro-batch's partitions
    open no data-file footer — the log carries the table schema."""
    import pyarrow.parquet as pq

    from pyspark.sql.types import _parse_datatype_string

    from dbimport_spark.sources.lakecdc import LakeCdcDataSource

    path = str(tmp_path / "t")
    txnlog.txn_append(
        spark, spark.range(3).selectExpr("id AS k", "CAST(id AS int) AS v"), path
    )
    txnlog.txn_append(
        spark,
        spark.range(3, 5).selectExpr(
            "id AS k", "CAST(id + 10000000000 AS bigint) AS v", "'x' AS tag"
        ),
        path,
    )
    txnlog.txn_rename_column(spark, path, "tag", "label")
    footers = []
    real = pq.read_schema
    monkeypatch.setattr(
        pq, "read_schema", lambda *a, **kw: footers.append(a) or real(*a, **kw)
    )
    for opts in ({}, {"readChangeFeed": "true"}):
        source = LakeCdcDataSource({"path": path, **opts})
        ddl = source.schema()
        assert ddl.startswith("k bigint, v bigint, label string, _commit_version")
        reader = source.streamReader(_parse_datatype_string(ddl))
        start, end = reader.initialOffset(), reader.latestOffset()
        assert reader.partitions(start, end)
    assert footers == []
