"""Structured Streaming queries, driven to completion with availableNow so
the driver can grade them like batch queries.

The reference is strictly batch (SURVEY.md §2.8); these are the
beyond-reference streaming operators a training-data pipeline needs:
watermarked windowed aggregation, watermark-bounded streaming dedup, and a
foreachBatch upsert sink that reuses the batch merge library (the
exactly-once-sink pattern).

Determinism notes (why these CAN carry SQL oracles):
* events.parquet is a single file → a single micro-batch; the watermark
  only advances AFTER a batch, so no in-batch state eviction or late-drop
  happens and the processed set equals the batch-query set.
* append-mode window emission: a window is emitted iff
  window_end <= final watermark = max(ts) (delay 0s) — the oracle applies
  the same cutoff predicate.
* streaming dedup emits an arbitrary FIRST row per key (partition race),
  so the query projects the key columns only, where first == any.

Multi-file sources (the production shape) change the watermark story:
each file becomes its own micro-batch under maxFilesPerTrigger, files are
ordered by modification time, the watermark advances BETWEEN batches, and
append-mode windows finalize when a later file's event time passes them —
late rows arriving after their window was finalized+evicted are dropped,
while a late row landing in the SAME batch that finalizes its window is
still admitted (state flushes at end-of-batch). That lifecycle is pinned
by tests/test_streaming.py::test_multifile_watermark_advancement; the
registered queries deliberately use single-file dirs so their output
stays batch-equivalent and SQL-oracle-checkable.
"""

from __future__ import annotations

import contextlib
import os
import tempfile
import uuid

# module-level so pandas_udf type hints resolve under postponed annotations
# (get_type_hints evaluates hint strings in MODULE globals)
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbimport_spark.plans.registry import register
from dbimport_spark.streaming.ops import (
    read_events_stream,
    stream_dedup,
    stream_upsert_sink,
    windowed_event_agg,
)


def _events_path(sf_dir: str) -> str:
    """readStream requires a FLAT DIRECTORY of data files; expose
    events.parquet through a symlinked temp dir. The source is a single
    file in the driver-generated testdata but a Spark-written DIRECTORY
    in inflated scale-probe corpora — link the part files individually
    in that case (a dir-inside-dir symlink breaks schema inference)."""
    d = os.path.join(
        tempfile.gettempdir(),
        "dbimport_spark_stream_src",
        sf_dir.rstrip("/").replace("/", "_"),
    )
    os.makedirs(d, exist_ok=True)
    src = f"{sf_dir}/events.parquet"
    if os.path.isdir(src):
        parts = sorted(
            f for f in os.listdir(src) if f.endswith(".parquet")
        )
        targets = {
            f"events-{i:05d}.parquet": os.path.join(src, f)
            for i, f in enumerate(parts)
        }
    else:
        targets = {"events.parquet": src}
    # A regenerated corpus gets fresh UUID part names: old links dangle
    # (os.path.exists is False on a broken symlink → symlink() would then
    # raise FileExistsError) and a SHRUNKEN part count leaves stale extra
    # links feeding the stream. Rebuild the link dir whenever its content
    # set differs from the expected target map (ADVICE r6: lexists +
    # clear-before-relink).
    current = {
        f: os.readlink(os.path.join(d, f))
        for f in os.listdir(d)
        if os.path.islink(os.path.join(d, f))
    }
    if current != targets:
        for f in os.listdir(d):
            p = os.path.join(d, f)
            if os.path.islink(p) or os.path.isfile(p):
                os.remove(p)
        for name, target in targets.items():
            os.symlink(target, os.path.join(d, name))
    return d


def _src_bytes(*paths) -> int:
    """Total bytes of the data files under the given paths (symlinks
    followed — _events_path dirs are symlink farms)."""
    total = 0
    for p in paths:
        if not p:
            continue
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p, followlinks=True):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
        elif os.path.isfile(p):
            try:
                total += os.path.getsize(p)
            except OSError:
                pass
    return total


@contextlib.contextmanager
def _stream_parallelism(spark: SparkSession, src):
    """Scale-adaptive shuffle width for ONE streaming query run.

    Batch plans get their post-shuffle partition count right-sized by AQE
    coalescing; streaming plans do not — the shuffle-partition count at
    query start becomes the stateful operator's state-store partition
    count (one state store instance + checkpoint dir per partition, baked
    into the checkpoint for the query's lifetime). Guide §2: make
    partitioning scale-adaptive, derive from input size. This derives the
    width from the source's actual bytes at the AQE advisory size
    (64 MB/partition, Spark's spark.sql.adaptive.advisoryPartitionSizeInBytes
    default), clamped to [4, session spark.sql.shuffle.partitions]: a
    cluster keeps its configured width for big inputs, a small source
    stops paying one state store per configured partition. ``src`` is a
    path or list of paths approximating the stream's input; None keeps
    the session value untouched.

    Streams whose per-row work runs IN PYTHON (transformWithStateInPandas,
    applyInPandasWithState, mapInPandas kernels, pandas_udfs) deliberately
    pass src=None: for them the shuffle width is the Python-compute
    parallelism, and narrowing it serializes the expensive part (measured
    1.3-1.6x slower on the TWS family at width 4 vs 32). The bytes-derived
    width only fits streams whose cost is state-store/task count."""
    if src is None:
        yield
        return
    paths = [src] if isinstance(src, str) else list(src)
    n_bytes = _src_bytes(*paths)
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    adaptive = max(4, min(cap, -(-n_bytes // (64 << 20))))
    if adaptive >= cap:
        yield
        return
    spark.conf.set("spark.sql.shuffle.partitions", str(adaptive))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(cap))


def _run_to_memory(
    df: DataFrame, spark: SparkSession, output_mode: str = "append",
    src=None,
) -> DataFrame:
    name = "strm_" + uuid.uuid4().hex[:12]
    with _stream_parallelism(spark, src):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = spark.table(name)
    # Drop the catalog registration NOW (r10 verdict "what's wrong" #3):
    # the memory sink registers a session-lifetime temp view per stream
    # run, so a bench sweep leaked 100+ buffered result tables into the
    # driver heap (unbounded in a long-lived production session). The
    # DataFrame above resolved the sink relation at creation, so dropping
    # the view only releases the catalog reference — `out` stays fully
    # consumable and the buffered rows are freed when it is GC'd.
    spark.catalog.dropTempView(name)
    return out


@register(
    "stream_window_agg",
    """WITH wm AS (SELECT max(ts) AS w FROM events)
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_value
FROM events
GROUP BY 1, 2
HAVING date_trunc('hour', min(ts)) + INTERVAL 1 HOUR <= (SELECT w FROM wm)""",
)
def stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window streaming aggregation run to completion
    (readStream → window agg → memory sink). Append mode emits exactly the
    windows closed by the final watermark — the oracle's HAVING cutoff."""
    stream = read_events_stream(spark, _events_path(sf_dir))
    agg = windowed_event_agg(stream, window="1 hour", watermark="0 seconds")
    return _run_to_memory(agg, spark, src=sf_dir)


@register(
    "stream_dedup_keys",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup (dropDuplicatesWithinWatermark):
    one emission per (user_id, event_type); single-batch availableNow run →
    emitted key set == batch DISTINCT."""
    stream = read_events_stream(spark, _events_path(sf_dir))
    deduped = stream_dedup(stream, ["user_id", "event_type"], watermark="2 hours")
    return _run_to_memory(
        deduped.select("user_id", "event_type"), spark, src=sf_dir
    )


@register(
    "stream_upsert_events",
    "SELECT event_id, user_id, event_type, value FROM events",
)
def stream_upsert_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch upsert sink: the target is pre-seeded with half the
    keys (values shifted +1000); the stream upserts every event through the
    batch merge library, so matched keys are overwritten and missing keys
    inserted — the final target equals the source stream exactly."""
    work = tempfile.mkdtemp(prefix="dbimport_stream_upsert_")
    target_path = os.path.join(work, "target")
    checkpoint = os.path.join(work, "ckpt")

    from dbimport_spark.plans.registry import load_events

    seed = (
        load_events(spark, sf_dir)
        .filter(F.col("event_id") % 2 == 0)
        .select("event_id", "user_id", "event_type", (F.col("value") + 1000).alias("value"))
    )
    seed.write.mode("overwrite").parquet(target_path)

    stream = read_events_stream(spark, _events_path(sf_dir)).select(
        "event_id", "user_id", "event_type", "value"
    )
    q = stream_upsert_sink(stream, target_path, ["event_id"], checkpoint)
    q.awaitTermination()
    return spark.read.parquet(target_path)


@register(
    "stream_sessionize",
    """WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, event_id,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       count(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end
FROM s GROUP BY user_id, session_id""",
)
def stream_sessionize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    gap-based sessionization with two-scalar per-key state. Single-batch
    availableNow run == the batch sessionize — shares its oracle."""
    from dbimport_spark.streaming.ops import stream_sessionize

    stream = read_events_stream(spark, _events_path(sf_dir)).select(
        "user_id", "ts", "event_id"
    )
    return _run_to_memory(
        stream_sessionize(stream, gap_minutes=30), spark
    )


def _docs_path(sf_dir: str) -> str:
    """Directory source exposing documents.parquet for readStream."""
    d = os.path.join(
        tempfile.gettempdir(),
        "dbimport_spark_stream_docs",
        sf_dir.rstrip("/").replace("/", "_"),
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "documents.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/documents.parquet", link)
    return d


def _register_stream_pii():
    # shares the batch oracle: a stateless streaming map processes exactly
    # the rows a batch scan does
    from dbimport_spark.plans.curation_queries import pii_transform
    from dbimport_spark.plans.registry import ORACLES

    @register("stream_pii_redact", ORACLES["pii_redact_docs"])
    def stream_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming PII redaction: the batch plant-then-redact projection
        applied unchanged to a readStream source (stateless map — no
        watermark, no state store), driven to completion with availableNow.
        The graded proof that expression-only curation operators compose
        onto Structured Streaming without modification."""
        sch = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
        stream = spark.readStream.schema(sch).parquet(_docs_path(sf_dir))
        return _run_to_memory(pii_transform(stream), spark, src=sf_dir)


_register_stream_pii()


def _register_stream_dedup_static():
    from dbimport_spark.plans.registry import ORACLES
    from dbimport_spark.plans.text_queries import NORM_SQL

    oracle = f"""WITH fp AS (SELECT doc_id, md5({NORM_SQL}) AS fingerprint FROM documents),
hist AS (SELECT DISTINCT md5({NORM_SQL}) AS fingerprint FROM documents WHERE doc_id % 2 = 0)
SELECT f.doc_id, f.fingerprint
FROM fp f LEFT JOIN hist h ON h.fingerprint = f.fingerprint
WHERE f.doc_id % 2 <> 0 AND h.fingerprint IS NULL"""

    @register("stream_dedup_static", oracle)
    def stream_dedup_static(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming dedup against a HISTORICAL corpus: the incoming doc
        stream (odd doc_ids) is anti-joined on content fingerprint
        against a static fingerprint table (even doc_ids — 'already
        ingested'), so only genuinely-new content passes. Stream-static
        joins are stateless on the stream side (the static side is
        broadcast/re-read per micro-batch, no state store), which is the
        production shape for incremental ingestion dedup at scale.
        """
        from dbimport_spark.plans.text_queries import norm_col

        static_fp = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(F.col("doc_id") % 2 == 0)
            .select(F.md5(norm_col()).alias("fingerprint"))
            .distinct()
        )
        sch = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
        stream = (
            spark.readStream.schema(sch)
            .parquet(_docs_path(sf_dir))
            .filter(F.col("doc_id") % 2 != 0)
            .select("doc_id", F.md5(norm_col()).alias("fingerprint"))
        )
        fresh = stream.join(static_fp, "fingerprint", "left_anti").select(
            "doc_id", "fingerprint"
        )
        return _run_to_memory(fresh, spark, src=sf_dir)


_register_stream_dedup_static()


def _register_stream_dedup_bloom():
    from dbimport_spark.plans.registry import ORACLES

    @register("stream_dedup_bloom", ORACLES["dedup_bloom_static"])
    def stream_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming Bloom-filter dedup: the batch-built bitmap over the
        historical (even-doc_id) corpus probes a readStream of incoming
        docs as a STATELESS map-side filter — no stream-static join, no
        state store, constant memory per executor regardless of history
        size. The incoming stream is the odd half plus a planted-parquet
        file of 50 re-keyed historical copies (written into the stream
        source dir), which the filter must drop; shares
        dedup_bloom_static's exact NOT EXISTS oracle.
        """
        from dbimport_spark.functions import bloom

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        hist = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")

        # stream source dir: symlinked documents.parquet + planted dupes
        d = os.path.join(
            tempfile.gettempdir(),
            "dbimport_spark_stream_bloom",
            sf_dir.rstrip("/").replace("/", "_"),
        )
        planted_path = os.path.join(d, "planted.parquet")
        if not os.path.exists(planted_path):
            os.makedirs(d, exist_ok=True)
            link = os.path.join(d, "documents.parquet")
            if not os.path.exists(link):
                os.symlink(f"{sf_dir}/documents.parquet", link)
            planted = docs.filter(
                (F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 100)
            ).withColumn("doc_id", F.col("doc_id") + 1000000)
            planted.coalesce(1).write.mode("overwrite").parquet(planted_path)

        m_bits, k = 1 << 23, 7
        h1, h2 = bloom.fingerprint_cols(F.col("text"))
        bitmap = bloom.build_bloom(
            hist.select(h1.alias("h1"), h2.alias("h2")), m_bits=m_bits, k=k
        )
        contains = bloom.bloom_contains_udf(spark, bitmap, m_bits=m_bits, k=k)

        sch = docs.schema
        stream = (
            spark.readStream.schema(sch)
            .option("recursiveFileLookup", "true")
            .parquet(d)
            .filter((F.col("doc_id") % 2 == 1) | (F.col("doc_id") >= 1000000))
            .filter(~contains(h1, h2))
            .select("doc_id")
        )
        return _run_to_memory(stream, spark, src=sf_dir)


_register_stream_dedup_bloom()


@register(
    "stream_interval_join",
    """SELECT p.event_id AS purchase_id, s.event_id AS signup_id,
       p.user_id, p.ts AS purchase_ts, s.ts AS signup_ts
FROM events p JOIN events s
  ON p.user_id = s.user_id
 AND p.event_type = 'purchase' AND s.event_type = 'signup'
 AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 24 HOUR""",
)
def stream_interval_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases matched to the same user's
    signups within 24 h, both sides live streams. The time-bounded
    condition + watermarks let Spark evict join state beyond the horizon —
    the bounded-memory requirement for joining two unbounded streams.
    Single-batch availableNow run == the batch interval join (inner joins
    emit each pair exactly once)."""
    from dbimport_spark.streaming.ops import stream_interval_join

    purchases = read_events_stream(spark, _events_path(sf_dir)).filter(
        F.col("event_type") == "purchase"
    ).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    signups = read_events_stream(spark, _events_path(sf_dir)).filter(
        F.col("event_type") == "signup"
    ).select(
        F.col("event_id").alias("signup_id"),
        F.col("user_id").alias("s_user_id"),
        F.col("ts").alias("signup_ts"),
    )
    joined = stream_interval_join(
        purchases,
        signups,
        left_key="user_id",
        right_key="s_user_id",
        left_ts="purchase_ts",
        right_ts="signup_ts",
        max_delay="24 hours",
    ).select("purchase_id", "signup_id", "user_id", "purchase_ts", "signup_ts")
    return _run_to_memory(joined, spark, src=sf_dir)


def _register_stream_scd2():
    from dbimport_spark.plans.registry import ORACLES

    @register("stream_scd2_sink", ORACLES["merge_scd2"])
    def stream_scd2_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming SCD2 sink (the CDC-ingestion shape): snapshot change
        rows arrive as a stream; each micro-batch runs the batch
        scd2_merge via foreachBatch against a parquet history target —
        changed keys close + reopen, new keys open, history accumulates
        versions. Seeded with merge_scd2's fixture history and fed its
        snapshot as a single availableNow batch, the final target equals
        the batch merge, so it shares that oracle."""
        import shutil

        from dbimport_spark.operators.merge import scd2_merge
        from dbimport_spark.plans.merge_queries import (
            _SCD2_LOAD_TS,
            scd2_history_df,
            scd2_source_df,
        )

        work = tempfile.mkdtemp(prefix="dbimport_stream_scd2_")
        target_path = os.path.join(work, "history")
        src_dir = os.path.join(work, "src")
        checkpoint = os.path.join(work, "ckpt")
        scd2_history_df(spark, sf_dir).write.mode("overwrite").parquet(target_path)
        scd2_source_df(spark, sf_dir).coalesce(1).write.mode("overwrite").parquet(src_dir)

        src_schema = spark.read.parquet(src_dir).schema
        stream = spark.readStream.schema(src_schema).parquet(src_dir)

        def apply_batch(batch_df, batch_id):
            s = batch_df.sparkSession
            hist = s.read.parquet(target_path)
            merged = scd2_merge(
                hist, batch_df, keys=["c_custkey"],
                tracked=["c_acctbal", "c_mktsegment"], load_ts=_SCD2_LOAD_TS,
            )
            tmp = target_path + f".next{batch_id}"
            merged.write.mode("overwrite").parquet(tmp)
            shutil.rmtree(target_path)
            os.rename(tmp, target_path)

        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(target_path)


_register_stream_scd2()


@register(
    "stream_session_window",
    """WITH wm AS (SELECT max(ts) AS w FROM events),
g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM g
)
SELECT user_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS last_event_ts
FROM s GROUP BY user_id, sid
HAVING max(ts) + INTERVAL 30 MINUTE <= (SELECT w FROM wm)""",
)
def stream_session_window_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window streaming aggregation (Spark's built-in
    gap-session operator — state and merging handled by the engine, vs
    stream_sessionize's hand-rolled applyInPandasWithState). A session's
    window.start is its first event and every session closed by the final
    watermark is emitted once, so the availableNow run matches the batch
    lag+cumsum sessionization (session ids dropped: the native operator
    doesn't number sessions).

    Two deliberate semantic edges vs events_sessionize: (1) the native
    operator merges only on STRICT window overlap, so a gap of exactly
    the session duration starts a new session (>= in the oracle; the
    hand-rolled variants use >); (2) append mode emits a session only
    when the watermark passes its end (last event + gap), so sessions
    still open at end-of-stream are withheld — the oracle's HAVING
    cutoff, which excludes 7 tail sessions at sf0.01."""
    stream = read_events_stream(spark, _events_path(sf_dir)).select("user_id", "ts")
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("last_event_ts"),
        )
        .select("user_id", "n_events", "session_start", "last_event_ts")
    )
    return _run_to_memory(agg, spark, src=sf_dir)


def _register_stream_chunk():
    from dbimport_spark.plans.registry import ORACLES

    @register("stream_chunk_windows", ORACLES["text_chunk_windows"])
    def stream_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming context-window chunking: the batch sliding-window
        chunker applied unchanged to a readStream of documents (stateless
        generator map — no watermark, no state store), availableNow to
        completion. With stream_pii_redact this pins the rule that every
        expression-only curation operator composes onto Structured
        Streaming as-is; chunking is the one with a row-EXPANDING
        (posexplode) shape rather than 1:1."""
        from dbimport_spark.plans.text_queries import _CHUNK_SIZE, _CHUNK_STRIDE

        sch = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
        stream = spark.readStream.schema(sch).parquet(_docs_path(sf_dir))
        toks = stream.select(
            "doc_id",
            F.expr(
                "transform(array(array_remove(split(trim(lower("
                "regexp_replace(text, '[^a-zA-Z0-9]+', ' '))), ' '), '')), ww -> ww)[0]"
            ).alias("w"),
        ).filter(F.size("w") > 0)
        chunks = toks.select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"sequence(0, (size(w) + {_CHUNK_STRIDE} - 1) div {_CHUNK_STRIDE} - 1)"
                )
            ).alias("chunk_idx", "__start"),
            F.col("w"),
        ).select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.expr(
                f"concat_ws(' ', slice(w, chunk_idx * {_CHUNK_STRIDE} + 1, {_CHUNK_SIZE}))"
            ).alias("chunk_text"),
            F.expr(
                f"CAST(least(chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_SIZE}, size(w))"
                f" - chunk_idx * {_CHUNK_STRIDE} AS INT)"
            ).alias("n_chunk_tokens"),
        )
        return _run_to_memory(chunks, spark, src=sf_dir)


_register_stream_chunk()


def _register_stream_dsir():
    from dbimport_spark.plans.registry import ORACLES

    @register("stream_dsir_score", ORACLES["sample_dsir"])
    def stream_dsir_score(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming DSIR scoring — continuous-ingest curation: documents
        arrive on a readStream source and are scored against the
        hashed-n-gram importance models trained on the STATIC corpus
        (≤4096-row broadcast tables; see sample_dsir). The stream side is
        the same built-in gram explode + two stream-static broadcast
        joins + one grouped aggregation (complete output mode — keyed on
        doc_id, no watermark needed under availableNow). Output equals
        the batch query, so it shares sample_dsir's oracle verbatim."""
        from dbimport_spark.plans.curation_queries import (
            dsir_gram_buckets,
            dsir_models,
        )
        from dbimport_spark.plans.registry import load

        static = load(spark, sf_dir, "documents")
        tmodel, rmodel, totals = dsir_models(dsir_gram_buckets(static))
        sch = static.schema
        stream = spark.readStream.schema(sch).parquet(_docs_path(sf_dir))
        hb = dsir_gram_buckets(stream)
        scored = (
            hb.filter(~(F.col("doc_id") % 50 == 0))
            .join(F.broadcast(tmodel), "b", "left")
            .join(F.broadcast(rmodel), "b")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.sum(F.coalesce("ct", F.lit(0))).alias("sum_target_cnt"),
                F.sum("cr").alias("sum_raw_cnt"),
            )
        )
        out = scored.crossJoin(F.broadcast(totals)).select(
            "doc_id",
            "n_grams",
            "sum_target_cnt",
            "sum_raw_cnt",
            (
                F.col("sum_target_cnt").cast("decimal(38,0)") * F.col("nr")
                > F.col("sum_raw_cnt").cast("decimal(38,0)") * F.col("nt")
            ).alias("keep"),
        )
        return _run_to_memory(out, spark, output_mode="complete", src=sf_dir)


_register_stream_dsir()


def _register_stream_funnel():
    @register(
        "stream_funnel_state",
        """WITH f AS (
  SELECT user_id, min(ts) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(ts) AS t_click
  FROM events e JOIN f USING (user_id)
  WHERE event_type = 'click' AND ts > t_view
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(ts) AS t_purchase
  FROM events e JOIN s2 USING (user_id)
  WHERE event_type = 'purchase' AND ts > t_click
  GROUP BY e.user_id
)
SELECT u.user_id,
       CASE WHEN s3.user_id IS NOT NULL THEN 3
            WHEN s2.user_id IS NOT NULL THEN 2
            WHEN f.user_id IS NOT NULL THEN 1
            ELSE 0 END AS stage
FROM (SELECT DISTINCT user_id FROM events) u
LEFT JOIN f USING (user_id)
LEFT JOIN s2 USING (user_id)
LEFT JOIN s3 USING (user_id)""",
    )
    def stream_funnel_state(spark: SparkSession, sf_dir: str) -> DataFrame:
        """CUSTOM stateful streaming operator via applyInPandasWithState —
        the escape hatch for semantics Spark's built-in streaming
        aggregates can't express (SURVEY.md §2.8's custom-operator path;
        every other streaming query here uses built-ins). Per-user funnel
        progression (view → click-after-first-view → purchase-after-that-
        click) is tracked as 3 timestamps of keyed state; each micro-batch
        folds its events in time order on top of the carried state, so the
        operator is incremental across batches by construction — at 100 TB
        /day the state per user is 24 bytes, bounded, and a real
        deployment would add a state TTL via GroupStateTimeout.

        The availableNow single-file source makes the run deterministic
        (one batch, full timeline — same reasoning as the module
        docstring); the oracle is the batch funnel decorrelated into
        chained min-aggs, emitting the per-user stage reached (0-3)."""
        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        stream = read_events_stream(spark, _events_path(sf_dir)).filter(
            F.col("event_type").isin("view", "click", "purchase")
        )

        def fold(key, pdfs, state: GroupState):
            import pandas as pd

            if state.exists:
                tv, tc, tp = state.get
            else:
                tv = tc = tp = None
            evs = pd.concat(list(pdfs), ignore_index=True)
            evs = evs.sort_values(["ts", "event_type"])
            for ts, et in zip(evs["ts"], evs["event_type"]):
                if tv is None and et == "view":
                    tv = ts
                elif tc is None and et == "click" and tv is not None and ts > tv:
                    tc = ts
                elif tp is None and et == "purchase" and tc is not None and ts > tc:
                    tp = ts
            state.update((tv, tc, tp))
            stage = 3 if tp is not None else 2 if tc is not None else 1 if tv is not None else 0
            yield pd.DataFrame({"user_id": [key[0]], "stage": [stage]})

        out = stream.groupBy("user_id").applyInPandasWithState(
            fold,
            outputStructType="user_id bigint, stage int",
            stateStructType="tv timestamp, tc timestamp, tp timestamp",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        return _run_to_memory(out, spark, output_mode="update")


_register_stream_funnel()


def _orders_path(sf_dir: str) -> str:
    """Directory source exposing orders.parquet for readStream."""
    d = os.path.join(
        tempfile.gettempdir(),
        "dbimport_spark_stream_orders",
        sf_dir.rstrip("/").replace("/", "_"),
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "orders.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/orders.parquet", link)
    return d


def _register_stream_outlier():
    # importing the batch module registers its oracle first (same pattern
    # as the curation import inside _register_stream_pii; the final
    # driver-facing order is re-keyed by plans/_order.py regardless)
    from dbimport_spark.plans import relational_queries  # noqa: F401
    from dbimport_spark.plans.registry import ORACLES

    @register("stream_outlier_score", ORACLES["outlier_orders_zscore"])
    def stream_outlier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming data-quality screen: incoming order rows are flagged
        against per-group sufficient statistics TRAINED ON THE STATIC
        table (one tiny broadcast), using the same exact-integer
        cross-multiplied z-test as the batch query — a completely
        STATELESS stream (broadcast join + filter, no watermark, no
        state store), the cheapest possible streaming operator shape.
        Scoring new arrivals against reference-window statistics is the
        production form of continuous anomaly screening; here the
        reference window IS the graded batch table, so the batch oracle
        applies verbatim."""
        from pyspark.sql import functions as F

        from dbimport_spark.plans.registry import load

        static = load(spark, sf_dir, "orders")
        cents_of = lambda c: F.round(c * 100).cast("bigint")
        dec = lambda c: c.cast("decimal(38,0)")
        st = static.groupBy(F.col("o_orderpriority").alias("pr")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents_of(F.col("o_totalprice"))).cast("bigint").alias("s"),
            F.sum(
                dec(cents_of(F.col("o_totalprice")))
                * dec(cents_of(F.col("o_totalprice")))
            ).alias("ss"),
        )
        stream = spark.readStream.schema(static.schema).parquet(
            _orders_path(sf_dir)
        )
        cents = cents_of(F.col("o_totalprice"))
        dev = dec(F.col("n") * cents - F.col("s"))
        var_n2 = dec(F.col("n")) * F.col("ss") - dec(F.col("s")) * dec(F.col("s"))
        out = (
            stream.join(
                F.broadcast(st), F.col("o_orderpriority") == F.col("pr")
            )
            .withColumn("cents", cents)
            .filter(
                F.lit(100).cast("decimal(38,0)") * dev * dev
                > F.lit(289).cast("decimal(38,0)") * var_n2
            )
            .select("o_orderkey", "o_orderpriority", "cents")
        )
        return _run_to_memory(out, spark, src=sf_dir)


_register_stream_outlier()


def _register_stream_media():
    # shares the batch oracle: the media kernels are stateless Arrow maps,
    # so an availableNow streaming run over the same files must produce
    # byte-identical pixel statistics
    from dbimport_spark.functions import multimodal
    from dbimport_spark.plans.registry import ORACLES

    @register("stream_media_stats", ORACLES["multimodal_png_roundtrip"])
    def stream_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming MEDIA ingest: the PNG fixture-encode and the full
        image-decode kernels (two mapInPandas Arrow stages) applied
        UNCHANGED to a readStream source — the graded proof that the
        multimodal codec path composes onto Structured Streaming (the
        shape of a continuously-arriving image-corpus ingest: decode,
        stat, fingerprint per micro-batch; stateless, so no watermark or
        state store). Shares multimodal_png_roundtrip's byte-exact
        oracle."""
        sch = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
        stream = spark.readStream.schema(sch).parquet(_docs_path(sf_dir))
        media = multimodal.documents_as_png_media(stream, width=16)
        stats = multimodal.extract_image_stats(media)
        out = stats.select(
            "media_id", "width", "height", "channels", "px_sum", "pixel_sha256"
        )
        return _run_to_memory(out, spark)


_register_stream_media()


def _register_stream_decontam():
    # shares decontam_minhash's exact all-pairs train×eval oracle: the
    # stream side recomputes the identical xxhash64 MinHash family per
    # row, and the broadcast-probe verify is exact Jaccard
    from dbimport_spark.plans.registry import ORACLES

    @register("stream_decontam_minhash", ORACLES["decontam_minhash"])
    def stream_decontam_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
        """STREAMING fuzzy decontamination — the production shape of
        benchmark-leak filtering on a continuous ingest: the eval suite
        (static, tiny) is indexed ONCE into {(band, band_hash) → eval
        docs} plus per-eval shingle sets, both BROADCAST; every incoming
        training doc then computes its own MinHash banding IN-ROW
        (array HOFs over the shingle array — the same xxhash64(h, i)
        family as functions/textdedup.minhash_signatures, so buckets
        align with the batch index), probes the broadcast bucket map,
        and exact-verifies candidates by set intersection in an Arrow
        kernel. Fully STATELESS: no state store, no stream-side shuffle,
        no watermark — each doc's decontamination verdict is final the
        moment it arrives. Shares the batch decontam_minhash oracle
        (exact all-pairs train×eval Jaccard ≥ 0.9).

        The planted corpus (doc_id % 10 == 0 → near-dup twin) is
        reproduced on-stream by a stateless explode, mirroring
        text_queries.corpus_df."""
        from dbimport_spark.functions import textdedup
        from dbimport_spark.plans.text_queries import shingles_df

        num_hashes, bands = 64, 16
        rpb = num_hashes // bands

        # --- static eval index (batch side, built once per plan) -----
        sh = shingles_df(spark, sf_dir)
        ev_sh = sh.filter(F.col("doc_id") % 97 == 0)
        ev_sigs = textdedup.minhash_signatures(ev_sh, num_hashes=num_hashes)
        band_cols = []
        for b in range(bands):
            cols = [F.col(f"sig_{b * rpb + r}") for r in range(rpb)]
            band_cols.append(
                F.struct(F.lit(b).alias("band"), F.xxhash64(*cols).alias("bh"))
            )
        ev_bands = ev_sigs.select(
            "doc_id", F.explode(F.array(*band_cols)).alias("bb")
        ).select("doc_id", "bb.band", "bb.bh")
        bucket_map: dict = {}
        for r in ev_bands.collect():
            bucket_map.setdefault((r["band"], r["bh"]), []).append(r["doc_id"])
        ev_sets = {
            r["doc_id"]: frozenset(r["ss"])
            for r in ev_sh.groupBy("doc_id")
            .agg(F.collect_list("s").alias("ss"))
            .collect()
        }
        bc = spark.sparkContext.broadcast((bucket_map, ev_sets))

        # --- stream side: plant, shingle, sign, band — all in-row ----
        sch = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
        stream = spark.readStream.schema(sch).parquet(_docs_path(sf_dir))
        orig = F.struct(F.col("doc_id").alias("doc_id"), F.col("text").alias("text"))
        twin = F.struct(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" spark near dup")).alias("text"),
        )
        planted = (
            stream.select(
                F.explode(
                    F.when(F.col("doc_id") % 10 == 0, F.array(orig, twin)).otherwise(
                        F.array(orig)
                    )
                ).alias("r")
            )
            .select("r.doc_id", "r.text")
            .filter(F.col("doc_id") % 97 != 0)
        )
        toks = planted.select(
            "doc_id",
            F.array_remove(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"), ""
            ).alias("w"),
        ).filter(F.size("w") >= 3)
        # ONE let-bound expression per row: shingles → base hashes →
        # 64 signature mins → 16 band hashes, each bound as a lambda
        # variable via transform(array(...), v -> ...)[0] so it is
        # evaluated exactly once (naming them as columns lets
        # CollapseProject inline the whole shingle pipeline into all 64
        # signature expressions — measured 167 s vs 9 s at sf0.01).
        band_hash = " , ".join(f"sigs[b*{rpb}+{r}]" for r in range(rpb))
        probe_in = toks.select(
            "doc_id",
            F.expr(
                f"""
transform(array(array_distinct(transform(sequence(0, size(w) - 3),
                 i -> concat_ws(' ', w[i], w[i+1], w[i+2])))), sh ->
  transform(array(transform(sh, x -> xxhash64(x))), hs ->
    transform(array(transform(sequence(0, {num_hashes - 1}),
                    i -> array_min(transform(hs, h -> xxhash64(h, i))))), sigs ->
      struct(sh AS sh,
             transform(sequence(0, {bands - 1}),
                       b -> xxhash64({band_hash})) AS bhs)
    )[0]
  )[0]
)[0]"""
            ).alias("p"),
        ).select("doc_id", "p.sh", "p.bhs")

        def kernel(batches):
            import pandas as pd

            buckets, evsets = bc.value
            for pdf in batches:
                t_ids, e_ids, jac = [], [], []
                for did, shl, bh_list in zip(pdf["doc_id"], pdf["sh"], pdf["bhs"]):
                    cand: set = set()
                    for b, h in enumerate(bh_list):
                        cand.update(buckets.get((b, int(h)), ()))
                    if not cand:
                        continue
                    ss = frozenset(shl)
                    na = len(ss)
                    for ev in cand:
                        es = evsets[ev]
                        n_both = len(ss & es)
                        if n_both == 0:
                            continue
                        j = n_both * 1.0 / (na + len(es) - n_both)
                        if j >= 0.9:
                            t_ids.append(int(did))
                            e_ids.append(ev)
                            jac.append(j)
                yield pd.DataFrame(
                    {"train_id": t_ids, "eval_id": e_ids, "jaccard": jac}
                ).astype({"train_id": "int64", "eval_id": "int64", "jaccard": "float64"})

        out = probe_in.mapInPandas(
            kernel, "train_id bigint, eval_id bigint, jaccard double"
        )
        return _run_to_memory(out, spark)


_register_stream_decontam()


def _register_stream_novelty_cms():
    from dbimport_spark.plans.text_queries import NORM_SQL

    oracle = f"""WITH hist_tok AS (
  SELECT t FROM (
    SELECT unnest(string_split({NORM_SQL}, ' ')) AS t
    FROM documents WHERE doc_id % 2 = 0
  ) WHERE t <> ''
),
sk AS (
  SELECT i,
         ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || t), 1, 15))::BIGINT
             % 2048 AS bucket,
         CAST(count(*) AS BIGINT) AS c
  FROM hist_tok CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)
  GROUP BY 1, 2
),
stok AS (
  SELECT doc_id, unnest(list_distinct(string_split({NORM_SQL}, ' '))) AS t
  FROM documents WHERE doc_id % 2 = 1 AND length({NORM_SQL}) > 0
),
est AS (
  SELECT s.doc_id, s.t, min(COALESCE(sk.c, 0)) AS e
  FROM stok s
  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) h
  LEFT JOIN sk ON sk.i = h.i
    AND sk.bucket = ('0x' || substr(md5(CAST(h.i AS VARCHAR) || ':' || s.t), 1, 15))::BIGINT % 2048
  GROUP BY s.doc_id, s.t
)
SELECT doc_id, CAST(min(e) AS BIGINT) AS novelty FROM est GROUP BY doc_id"""

    @register("stream_novelty_cms", oracle)
    def stream_novelty_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming novelty screen against a historical Count-Min
        sketch: each incoming doc (the odd-doc_id stream) is annotated
        with the CMS-estimated corpus frequency of its RAREST token —
        near-zero novelty means every token is historically common
        (boilerplate/spam shape), high novelty flags genuinely new
        vocabulary worth routing to curation.

        Same continuous-ingest shape as stream_dedup_bloom: the sketch
        is built ONCE from the historical (even) half by the batch
        count_min_sketch hash agg, collected (8 K integers — the whole
        point of a sketch), and probed inside a STATELESS Arrow-batched
        pandas UDF — no state store, no stream-static join, constant
        executor memory however large history grows. CMS estimates only
        ever overcount, so a "novel" verdict (low estimate) is reliable;
        the DuckDB oracle rebuilds the identical sketch through the
        portable md5-prefix hashes and matches estimate-for-estimate."""
        import hashlib
        import re as _re

        import numpy as np
        from pyspark.sql.functions import pandas_udf

        from dbimport_spark.functions.sketch import count_min_sketch

        depth, width = 4, 2048
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        norm = F.trim(F.lower(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9]+", " ")))
        hist_tok = (
            docs.filter(F.col("doc_id") % 2 == 0)
            .select(F.explode(F.split(norm, " ")).alias("t"))
            .filter(F.col("t") != "")
        )
        table = np.zeros((depth, width), dtype=np.int64)
        for r in count_min_sketch(hist_tok, "t", depth=depth, width=width).collect():
            table[r["i"], r["bucket"]] = r["c"]

        @pandas_udf("long")
        def novelty(texts: pd.Series) -> pd.Series:
            out = []
            for text in texts:
                s = _re.sub("[^a-zA-Z0-9]+", " ", text or "").lower().strip()
                toks = {t for t in s.split(" ") if t}
                if not toks:
                    out.append(None)
                    continue
                best = None
                for t in toks:
                    est = min(
                        int(
                            table[
                                i,
                                int(
                                    hashlib.md5(f"{i}:{t}".encode()).hexdigest()[:15],
                                    16,
                                )
                                % width,
                            ]
                        )
                        for i in range(depth)
                    )
                    best = est if best is None else min(best, est)
                    if best == 0:
                        break
                out.append(best)
            return pd.Series(out, dtype="object")

        sch = docs.schema
        stream = (
            spark.readStream.schema(sch)
            # documents.parquet may itself be a directory of part files
            # (anything Spark wrote); recurse like stream_dedup_bloom does
            .option("recursiveFileLookup", "true")
            .parquet(_docs_path(sf_dir))
            .filter(F.col("doc_id") % 2 == 1)
            .select("doc_id", novelty(F.col("text")).alias("novelty"))
            .filter(F.col("novelty").isNotNull())
        )
        return _run_to_memory(stream, spark)


_register_stream_novelty_cms()



@register(
    "stream_lake_cdc",
    """SELECT CAST(0 AS BIGINT) AS version,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM documents WHERE doc_id % 3 = 0
UNION ALL
SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT)
FROM documents WHERE doc_id % 3 = 1
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT)
FROM documents WHERE doc_id % 3 = 2""",
)
def stream_lake_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACID lake as a REGISTERED streaming source (sources/lakecdc.py,
    Spark 4 Python DataSource API): three append commits land documents
    slices, then `readStream.format("lake_cdc")` streams every commit
    with a `_commit_version` column — one task per added file, offsets
    are just log versions, planning never touches data pages. Graded on
    per-version counts + id sums through a complete-mode aggregation.
    At 100 TB this is the change-data feed a downstream index/dedup
    pipeline tails instead of rescanning the table; a checkpoint restart
    resumes after the last committed version
    (tests/test_lakecdc.py::test_checkpoint_restart_reads_only_new_commits)."""
    import shutil

    from dbimport_spark import txnlog
    from dbimport_spark.plans.registry import load
    from dbimport_spark.sources.lakecdc import register_lake_cdc

    path = os.path.join(
        tempfile.gettempdir(),
        "dbimport_spark_txn",
        "cdc_stream_" + sf_dir.rstrip("/").replace("/", "_"),
    )
    if os.path.isdir(path):
        shutil.rmtree(path)
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    for m in range(3):
        txnlog.txn_append(spark, d.filter(F.col("doc_id") % 3 == m), path)

    register_lake_cdc(spark)
    s = spark.readStream.format("lake_cdc").option("path", path).load()
    agg = s.groupBy(F.col("_commit_version").alias("version")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
    )
    return _run_to_memory(agg, spark, output_mode="complete", src=path).select(
        F.col("version").cast("bigint"), "n_rows", "id_sum"
    )


@register(
    "stream_lake_cdc_partitioned",
    """SELECT CAST(doc_id % 2 AS BIGINT) AS version, lang,
       CAST(count(*) AS BIGINT) AS n_rows
FROM documents
GROUP BY 1, 2""",
)
def stream_lake_cdc_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-table CDC streaming: two partitioned append commits
    (partition value lives in the LOG, not the files — the lakehouse
    convention), streamed back with the partition column re-attached per
    file and typed per the log's recorded DDL. Graded on version ×
    partition counts; closes the CDC source's declared partitioned-table
    limitation."""
    import shutil

    from dbimport_spark import txnlog
    from dbimport_spark.plans.registry import load
    from dbimport_spark.sources.lakecdc import register_lake_cdc

    path = os.path.join(
        tempfile.gettempdir(),
        "dbimport_spark_txn",
        "cdc_part_" + sf_dir.rstrip("/").replace("/", "_"),
    )
    if os.path.isdir(path):
        shutil.rmtree(path)
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    for m in range(2):
        txnlog.txn_append_partitioned(
            spark, d.filter(F.col("doc_id") % 2 == m), path, "lang"
        )
    register_lake_cdc(spark)
    s = (
        spark.readStream.format("lake_cdc")
        .option("path", path)
        .option("partitionColumn", "lang")
        .load()
    )
    agg = s.groupBy(
        F.col("_commit_version").alias("version"), "lang"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    return _run_to_memory(agg, spark, output_mode="complete", src=path).select(
        F.col("version").cast("bigint"), "lang", "n_rows"
    )


@register(
    "stream_lake_cdc_dv",
    """SELECT CAST(0 AS BIGINT) AS version, 'insert' AS change_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(sum(n_chars) AS BIGINT) AS char_sum
FROM documents WHERE doc_id % 3 = 0
UNION ALL
SELECT CAST(1 AS BIGINT), 'insert', CAST(count(*) AS BIGINT),
       CAST(sum(doc_id) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
FROM documents WHERE doc_id % 3 = 1
UNION ALL
SELECT CAST(2 AS BIGINT), 'delete', CAST(count(*) AS BIGINT),
       CAST(sum(doc_id) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
FROM documents WHERE doc_id % 3 <> 2 AND doc_id % 5 = 0
UNION ALL
SELECT CAST(3 AS BIGINT), 'insert', CAST(count(*) AS BIGINT),
       CAST(sum(doc_id) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
FROM documents WHERE doc_id % 3 = 2
UNION ALL
SELECT CAST(4 AS BIGINT), 'delete', CAST(count(*) AS BIGINT),
       CAST(sum(doc_id) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
FROM documents
WHERE doc_id % 7 = 0 AND NOT (doc_id % 3 <> 2 AND doc_id % 5 = 0)
UNION ALL
SELECT CAST(4 AS BIGINT), 'insert', CAST(count(*) AS BIGINT),
       CAST(sum(doc_id) AS BIGINT),
       CAST(sum(n_chars) + 1000 * count(*) AS BIGINT)
FROM documents WHERE doc_id % 7 = 0""",
)
def stream_lake_cdc_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-LEVEL CHANGE DATA FEED through the lake_cdc streaming source
    (readChangeFeed=true — Delta's modern CDF, not the legacy
    ignoreChanges arm): two append commits, a deletion-vector DELETE, a
    third append, and a merge-on-read UPSERT stream back as typed change
    rows. Appends arrive as `insert` rows (one task per file); the DV
    commit re-reads ONLY the newly-deleted positions of the touched files
    and emits the deleted rows themselves as `delete` preimages; the
    UPSERT (DVs on the matched rows plus their appended replacement)
    streams the same way, so each updated row surfaces as a
    delete+insert pair and untouched rows are never read.
    Value-graded per (version, change_type) on counts, id sums and char
    sums (the upsert shifts n_chars by +1000, pinning pre/post images).
    At 100 TB the planning is still metadata-only and the DV arm reads
    O(changed positions), never the table."""
    import shutil

    from dbimport_spark import txnlog
    from dbimport_spark.plans.registry import load
    from dbimport_spark.sources.lakecdc import register_lake_cdc

    path = os.path.join(
        tempfile.gettempdir(),
        "dbimport_spark_txn",
        "cdc_dv_" + sf_dir.rstrip("/").replace("/", "_"),
    )
    if os.path.isdir(path):
        shutil.rmtree(path)
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    txnlog.txn_append(spark, d.filter(F.col("doc_id") % 3 == 0), path)  # v0
    txnlog.txn_append(spark, d.filter(F.col("doc_id") % 3 == 1), path)  # v1
    txnlog.txn_delete_dv(spark, F.col("doc_id") % 5 == 0, path)         # v2
    txnlog.txn_append(spark, d.filter(F.col("doc_id") % 3 == 2), path)  # v3
    upd = d.filter(F.col("doc_id") % 7 == 0).withColumn(
        "n_chars", F.col("n_chars") + F.lit(1000)
    )
    txnlog.txn_upsert(spark, upd, path, ["doc_id"])                      # v4

    register_lake_cdc(spark)
    s = (
        spark.readStream.format("lake_cdc")
        .option("path", path)
        .option("readChangeFeed", "true")
        .load()
    )
    agg = s.groupBy(
        F.col("_commit_version").alias("version"),
        F.col("_change_type").alias("change_type"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
        F.sum("n_chars").cast("bigint").alias("char_sum"),
    )
    return _run_to_memory(agg, spark, output_mode="complete", src=path).select(
        F.col("version").cast("bigint"), "change_type", "n_rows", "id_sum",
        "char_sum",
    )


@register(
    "stream_lake_cdc_cdf",
    """SELECT CAST(1 AS BIGINT) AS version, 'insert' AS change_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(sum(n_chars) AS BIGINT) AS char_sum
FROM documents WHERE doc_id % 3 = 0
UNION ALL
SELECT CAST(2 AS BIGINT), 'insert', CAST(count(*) AS BIGINT),
       CAST(sum(doc_id) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
FROM documents WHERE doc_id % 3 = 1
UNION ALL
SELECT CAST(3 AS BIGINT), 'delete', CAST(count(*) AS BIGINT),
       CAST(sum(doc_id) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
FROM documents WHERE doc_id % 3 <> 2 AND doc_id % 5 = 0
UNION ALL
SELECT CAST(4 AS BIGINT), 'insert', CAST(count(*) AS BIGINT),
       CAST(sum(doc_id) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
FROM documents WHERE doc_id % 3 = 2
UNION ALL
SELECT CAST(5 AS BIGINT), 'delete', CAST(count(*) AS BIGINT),
       CAST(sum(doc_id) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
FROM documents
WHERE doc_id % 7 = 0 AND NOT (doc_id % 3 <> 2 AND doc_id % 5 = 0)
UNION ALL
SELECT CAST(5 AS BIGINT), 'insert', CAST(count(*) AS BIGINT),
       CAST(sum(doc_id) AS BIGINT),
       CAST(sum(n_chars) + 1000 * count(*) AS BIGINT)
FROM documents WHERE doc_id % 7 = 0""",
)
def stream_lake_cdc_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_lake_cdc_dv's SCALE-PATH twin: the same commit sequence on
    a ``cdf.enabled=true`` table, so the UPSERT's row-level diff (its
    matched rows against their replacement) is MATERIALIZED at commit
    time into ``_change_data/v<N>`` parquet (txnlog._write_change_data —
    a distributed union + hash-agg multiset diff) and the CDC stream plans ONE TASK PER CHANGE FILE
    instead of the per-file DV-delta and added-file fallback the
    un-opted-in twin exercises (sources/lakecdc.py fallback arms,
    guarded by test_change_data_write_failure_degrades_to_fallback).
    The fixture ASSERTS the change files exist before streaming — a
    green row here grades the 100 TB arm, not the fallback. Version
    numbering is shifted by the property commit (v0): appends v1/v2,
    DV delete v3, append v4, upsert v5."""
    import shutil

    from dbimport_spark import txnlog
    from dbimport_spark.plans.registry import load
    from dbimport_spark.sources.lakecdc import register_lake_cdc

    path = os.path.join(
        tempfile.gettempdir(),
        "dbimport_spark_txn",
        "cdc_cdf_" + sf_dir.rstrip("/").replace("/", "_"),
    )
    if os.path.isdir(path):
        shutil.rmtree(path)
    txnlog.txn_set_property(path, "cdf.enabled", "true")             # v0
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    txnlog.txn_append(spark, d.filter(F.col("doc_id") % 3 == 0), path)  # v1
    txnlog.txn_append(spark, d.filter(F.col("doc_id") % 3 == 1), path)  # v2
    txnlog.txn_delete_dv(spark, F.col("doc_id") % 5 == 0, path)         # v3
    txnlog.txn_append(spark, d.filter(F.col("doc_id") % 3 == 2), path)  # v4
    upd = d.filter(F.col("doc_id") % 7 == 0).withColumn(
        "n_chars", F.col("n_chars") + F.lit(1000)
    )
    txnlog.txn_upsert(spark, upd, path, ["doc_id"])                      # v5
    cdf_dir = os.path.join(path, "_change_data", f"v{5:08d}")
    cdf_files = (
        [f for f in os.listdir(cdf_dir) if f.endswith(".parquet")]
        if os.path.isdir(cdf_dir)
        else []
    )
    if not cdf_files:
        raise AssertionError(
            "stream_lake_cdc_cdf: rewrite commit did not materialize "
            "change files — the query would grade the fallback arm"
        )

    register_lake_cdc(spark)
    s = (
        spark.readStream.format("lake_cdc")
        .option("path", path)
        .option("readChangeFeed", "true")
        .load()
    )
    agg = s.groupBy(
        F.col("_commit_version").alias("version"),
        F.col("_change_type").alias("change_type"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
        F.sum("n_chars").cast("bigint").alias("char_sum"),
    )
    return _run_to_memory(agg, spark, output_mode="complete", src=path).select(
        F.col("version").cast("bigint"), "change_type", "n_rows", "id_sum",
        "char_sum",
    )


@register(
    "stream_crawl_refresh",
    """WITH hist AS (
  SELECT md5(text) AS fp FROM documents WHERE doc_id % 3 <> 2
),
fresh AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 6 = 0
)
SELECT doc_id,
       CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens
FROM fresh
WHERE md5(text) NOT IN (SELECT fp FROM hist)""",
)
def stream_crawl_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production corpus-refresh loop as ONE streaming plan,
    composing the round's lake + crawl pieces: the crawl table's day-1
    corpus is commit 0; day 2 appends fresh pages PLUS verbatim recrawls
    of old ones; the refresh job tails the table via the lake_cdc source
    from startingVersion=1 (day 1 is never rescanned), fingerprints each
    new capture, and drops exact duplicates against the DAY-1 SNAPSHOT
    through a stream-static LEFT ANTI join — exact dedup, value-graded
    (the bloom screen of stream_dedup_bloom is the probabilistic
    pre-filter variant of this same shape). At 100 TB: the static side
    is the lake table itself (hashes only — 16 bytes/doc shuffle), and
    incremental cost is one log read + the new files."""
    import shutil

    from dbimport_spark import txnlog
    from dbimport_spark.plans.registry import load
    from dbimport_spark.sources.lakecdc import register_lake_cdc

    path = os.path.join(
        tempfile.gettempdir(),
        "dbimport_spark_txn",
        "crawl_refresh_" + sf_dir.rstrip("/").replace("/", "_"),
    )
    if os.path.isdir(path):
        shutil.rmtree(path)
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    txnlog.txn_append(spark, d.filter(F.col("doc_id") % 3 != 2), path)
    fresh = d.filter(F.col("doc_id") % 3 == 2).unionByName(
        d.filter(F.col("doc_id") % 6 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    txnlog.txn_append(spark, fresh, path)

    register_lake_cdc(spark)
    hist = txnlog.read_snapshot(spark, path, version=0).select(
        F.md5(F.col("text").cast("binary")).alias("fp")
    )
    s = (
        spark.readStream.format("lake_cdc")
        .option("path", path)
        .option("startingVersion", "1")
        .load()
        .withColumn("fp", F.md5(F.col("text").cast("binary")))
    )
    kept = s.join(hist, "fp", "left_anti").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    return _run_to_memory(kept, spark, src=path)


@register(
    "stream_lake_sink_exactly_once",
    "SELECT event_id, user_id, event_type, value FROM events",
)
def stream_lake_sink_exactly_once_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE streaming sink into the transactional lake
    (txnlog.txn_append_idempotent — Delta's txnAppId/txnVersion): each
    foreachBatch micro-batch commits its rows WITH its batch id in one
    atomic log entry, so a redelivered batch no-ops instead of
    duplicating. After the stream drains, the query adversarially
    REPLAYS the whole corpus claiming to be already-committed batch 0 —
    the guard skips it without a write job — and the graded table must
    equal the source exactly (any duplication flips the row count and
    every hash). The checkpoint-loss form (full restart, every batch
    redelivered) is pinned by
    tests/test_streaming.py::test_lake_sink_idempotent_across_checkpoint_loss.
    At 100 TB this is the difference between at-least-once ingestion with
    a downstream dedup pass and a sink that is exactly-once by
    construction."""
    from dbimport_spark import txnlog
    from dbimport_spark.plans.registry import load_events

    work = tempfile.mkdtemp(prefix="dbimport_stream_sink_")
    target = os.path.join(work, "table")
    checkpoint = os.path.join(work, "ckpt")
    app = "events_loader"
    cols = ["event_id", "user_id", "event_type", "value"]

    stream = read_events_stream(spark, _events_path(sf_dir)).select(*cols)

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        txnlog.txn_append_idempotent(spark, bdf, target, app, batch_id)

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # adversarial redelivery: the whole corpus arrives again as batch 0
    txnlog.txn_append_idempotent(
        spark, load_events(spark, sf_dir).select(*cols), target, app, 0
    )
    return txnlog.read_snapshot(spark, target).select(*cols)


@register(
    "stream_lake_expectations",
    """SELECT CASE WHEN user_id % 10 <> 3 THEN 'table' ELSE 'quarantine' END AS dest,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(user_id) AS BIGINT) AS user_sum,
       CAST(sum(event_id) AS BIGINT) AS event_sum
FROM events GROUP BY 1""",
)
def stream_lake_expectations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming expectations (DLT): the constraint is declared ON THE
    TABLE before the stream starts (txn_add_check), and every
    foreachBatch micro-batch routes through txn_append_routed — passing
    rows commit to the table, violating rows commit to a queryable
    quarantine table tagged with the failed check names. Enforcement is
    the lake's, not the pipeline's: a second producer writing to the same
    table gets the same validation with zero shared code — the contract
    lives in the commit log (the streaming generalization of the
    reference's invalid-row error-table routing)."""
    from dbimport_spark import txnlog

    work = tempfile.mkdtemp(prefix="dbimport_stream_expect_")
    target = os.path.join(work, "table")
    quarantine = os.path.join(work, "quarantine")
    checkpoint = os.path.join(work, "ckpt")

    txnlog.txn_add_check(spark, target, "user_ok", "user_id % 10 <> 3")
    cols = ["event_id", "user_id", "event_type", "value"]
    stream = read_events_stream(spark, _events_path(sf_dir)).select(*cols)

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        # exactly-once on BOTH destinations under redelivery: each side
        # commits under (app, batch_id) against its own watermark
        txnlog.txn_append_routed_idempotent(
            spark, bdf, target, quarantine, "lake_expectations", batch_id
        )

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def side(path: str, dest: str) -> DataFrame:
        if txnlog.current_version(path) < 0 or not txnlog.snapshot_files(path):
            return (
                spark.range(0)
                .select(
                    F.lit(dest).alias("dest"),
                    F.lit(0).cast("bigint").alias("n_rows"),
                    F.lit(0).cast("bigint").alias("user_sum"),
                    F.lit(0).cast("bigint").alias("event_sum"),
                )
                .limit(0)
            )
        return txnlog.read_snapshot(spark, path).agg(
            F.lit(dest).alias("dest"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("user_id").cast("bigint").alias("user_sum"),
            F.sum("event_id").cast("bigint").alias("event_sum"),
        )
    return side(target, "table").unionByName(side(quarantine, "quarantine"))


@register(
    "pipeline_lakehouse_ingest",
    """SELECT CASE WHEN user_id % 10 <> 3 AND value IS NOT NULL
            THEN 'table' ELSE 'quarantine' END AS dest,
       CAST(1 AS BIGINT) AS n_live_files,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(user_id) AS BIGINT) AS user_sum
FROM events GROUP BY 1""",
)
def pipeline_lakehouse_ingest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse streaming-ingestion capstone — FOUR round-7 features in
    one graded flow: the events stream routes through table-declared
    CHECK constraints (txn_add_check + txn_append_routed: passing rows to
    the table, violations to the tagged quarantine), the clean side
    commits through the EXACTLY-ONCE idempotent sink (the whole corpus is
    adversarially replayed as an already-committed batch afterwards), the
    table's autoOptimize.every property compacts behind the ingest, and
    the graded rows pin the final live-file count at 1 (metadata literal)
    beside both destinations' exact contents. This is the production
    shape at 100 TB: policy (constraints, compaction cadence, file-size
    bounds) lives in the table's log, every producer inherits it, and a
    crash-replayed batch can never double-ingest."""
    from dbimport_spark import txnlog
    from dbimport_spark.plans.registry import load_events

    work = tempfile.mkdtemp(prefix="dbimport_lakehouse_ingest_")
    target = os.path.join(work, "table")
    quarantine = os.path.join(work, "quarantine")
    checkpoint = os.path.join(work, "ckpt")
    app = "lakehouse_ingest"
    cols = ["event_id", "user_id", "event_type", "value"]

    txnlog.txn_set_property(target, "autoOptimize.every", "2")
    txnlog.txn_add_check(spark, target, "user_ok", "user_id % 10 <> 3")
    txnlog.txn_add_check(spark, target, "value_present", "value IS NOT NULL")

    stream = read_events_stream(spark, _events_path(sf_dir)).select(*cols)

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        # BOTH sides commit idempotently under (app, batch_id), each
        # table tracking its own txn.<app> watermark — a crash between
        # the clean commit and the quarantine commit replays with the
        # clean side no-oping and the quarantine side landing, so the
        # exactly-once claim holds for the WHOLE batch, not just the
        # clean half. (Guarding the whole batch on only the clean
        # table's watermark would permanently drop the quarantine rows
        # of a half-committed batch.)
        txnlog.txn_append_routed_idempotent(
            spark, bdf, target, quarantine, app, batch_id
        )

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # adversarial replay: the WHOLE corpus claims to be batch 0 again
    txnlog.txn_append_idempotent(
        spark, load_events(spark, sf_dir).select(*cols), target, app, 0
    )
    # final OPTIMIZE pins the graded live-file count at exactly 1 for any
    # sf/batch structure (autoOptimize already compacted at even versions
    # DURING the ingest; this closes whatever the cadence left open)
    txnlog.txn_compact(spark, target, min_files=2)

    n_files = len(txnlog.snapshot_files(target))

    def side(path: str, dest: str) -> DataFrame:
        if txnlog.current_version(path) < 0 or not txnlog.snapshot_files(path):
            return (
                spark.range(0).select(
                    F.lit(dest).alias("dest"),
                    F.lit(0).cast("bigint").alias("n_live_files"),
                    F.lit(0).cast("bigint").alias("n_rows"),
                    F.lit(0).cast("bigint").alias("user_sum"),
                ).limit(0)
            )
        return txnlog.read_snapshot(spark, path).agg(
            F.lit(dest).alias("dest"),
            F.lit(n_files if dest == "table" else 1)
            .cast("bigint")
            .alias("n_live_files"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("user_id").cast("bigint").alias("user_sum"),
        )

    return side(target, "table").unionByName(side(quarantine, "quarantine"))


@register(
    "stream_lake_apply_changes",
    """WITH ev AS (
  SELECT event_id, user_id,
         CAST(round(value * 10000) AS BIGINT) AS v4,
         CASE WHEN event_id % 7 = 3 THEN 'D' ELSE 'U' END AS op
  FROM events
),
seed AS (
  SELECT user_id, max(event_id) AS eid FROM ev
  WHERE event_id % 3 = 0 GROUP BY user_id
),
strm AS (
  SELECT user_id, max(event_id) AS eid FROM ev
  WHERE event_id % 3 <> 0 GROUP BY user_id
),
pick AS (
  SELECT COALESCE(sd.user_id, st.user_id) AS user_id,
         COALESCE(st.eid, sd.eid) AS eid,
         st.eid IS NOT NULL AS from_stream
  FROM seed sd FULL OUTER JOIN strm st ON sd.user_id = st.user_id
),
final AS (
  SELECT p.user_id, p.eid, e.v4
  FROM pick p JOIN ev e ON e.event_id = p.eid
  WHERE NOT (p.from_stream AND e.op = 'D')
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(eid) AS BIGINT) AS eid_sum,
       CAST(sum(v4) AS BIGINT) AS v4_sum
FROM final""",
)
def stream_lake_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE streaming CDC apply — DLT's APPLY CHANGES INTO
    rebuilt from this round's pieces: a CDC stream of per-key change
    events (op column: U upsert / D delete, derived deterministically
    from event_id) folds into a lake dimension table through
    txn_merge_into's clause lattice inside foreachBatch — matched+D
    deletes the key, matched updates it, unmatched non-D inserts; each
    batch pre-collapses to its LAST change per key (max_by on event_id,
    Delta's key-distinct source requirement). The merge commit records
    the (app, batch) watermark ATOMICALLY with the data, so the
    adversarial whole-corpus replay after the drain no-ops — a replayed
    MERGE is not even idempotent in the best case (re-applied deltas
    double-count, re-inserts flip by-source deletes), which makes the
    watermark the only correct redelivery story; value-graded on the
    final table's count and id/value sums."""
    from dbimport_spark import txnlog
    from dbimport_spark.plans.registry import load_events

    work = tempfile.mkdtemp(prefix="dbimport_apply_changes_")
    path = os.path.join(work, "dim")
    checkpoint = os.path.join(work, "ckpt")
    app = "apply_changes"

    ev_all = load_events(spark, sf_dir).select("event_id", "user_id", "value")
    # seed snapshot: historical slice (event_id % 3 == 0), last per user
    seed = (
        ev_all.filter(F.col("event_id") % 3 == 0)
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct(
                    F.col("event_id").alias("eid"),
                    F.round(F.col("value") * 10000).cast("bigint").alias("v4"),
                ),
                F.col("event_id"),
            ).alias("x")
        )
        .select("user_id", "x.eid", "x.v4")
    )
    txnlog.txn_append(spark, seed, path)

    stream = (
        read_events_stream(spark, _events_path(sf_dir))
        .select("event_id", "user_id", "value")
        .filter(F.col("event_id") % 3 != 0)
        .select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 10000).cast("bigint").alias("v4"),
            F.when(F.col("event_id") % 7 == 3, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
        )
    )

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        last = (
            bdf.groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct("event_id", "v4", "op"), F.col("event_id")
                ).alias("x")
            )
            .select("user_id", "x.event_id", "x.v4", "x.op")
        )
        txnlog.txn_merge_into_cow(
            spark,
            last,
            path,
            ["user_id"],
            [
                ("matched_delete", "s.op = 'D'"),
                (
                    "matched_update",
                    None,
                    {"eid": "s.event_id", "v4": "s.v4"},
                ),
                (
                    "not_matched_insert",
                    "s.op <> 'D'",
                    {"user_id": "s.user_id", "eid": "s.event_id", "v4": "s.v4"},
                ),
            ],
            app_id=app,
            batch_id=batch_id,
        )

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # adversarial replay: the whole CDC corpus claims to be batch 0 again
    replay = (
        ev_all.filter(F.col("event_id") % 3 != 0)
        .select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 10000).cast("bigint").alias("v4"),
            F.when(F.col("event_id") % 7 == 3, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
        )
        .groupBy("user_id")
        .agg(
            F.max_by(F.struct("event_id", "v4", "op"), F.col("event_id")).alias("x")
        )
        .select("user_id", "x.event_id", "x.v4", "x.op")
    )
    txnlog.txn_merge_into(
        spark, replay, path, ["user_id"],
        [("matched_delete", "s.op = 'D'"), ("matched_update", None, "all")],
        app_id=app, batch_id=0,
    )

    return txnlog.read_snapshot(spark, path).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("eid").cast("bigint").alias("eid_sum"),
        F.sum("v4").cast("bigint").alias("v4_sum"),
    )


@register(
    "pipeline_gdpr_forget",
    """WITH ev AS (
  SELECT user_id, CAST(round(value * 10000) AS BIGINT) AS v4 FROM events
),
kept AS (SELECT * FROM ev WHERE user_id % 13 <> 5)
SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(v4) AS BIGINT) AS v4_sum
FROM kept""",
)
def pipeline_gdpr_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT-TO-BE-FORGOTTEN propagation — the round-8 capstone, three
    features composed into the flow a production lake actually runs:

    1. the fact table ingests events and serves a DERIVED per-user
       aggregate table (count + value sum per user);
    2. a forget request lands as a DELETION-VECTOR delete on the fact
       table (txn_delete_dv: no rewrite, O(deleted positions) bytes);
    3. the derived table is maintained INCREMENTALLY from the fact
       table's row-level change feed (lake_cdc readChangeFeed=true):
       insert rows add (+1, +v4) deltas, the DV commit's delete
       preimages subtract, and each micro-batch folds its delta into
       the aggregate through the pruned clause merge
       (txn_merge_into_cow) —
       matched+zero-count deletes the user's row (full erasure
       downstream), matched updates, unmatched positive inserts.

    Deltas are commutative, so the result is INDEPENDENT of how the
    engine batches commits — no ordering assumption — and the merge is
    exactly-once per batch via the (app, batch) watermark. At 100 TB:
    the forget costs O(forgotten rows) sidecar bytes on the fact table
    and O(changed users) merge work downstream — never a rescan of
    either table. Graded: the derived table equals the per-user
    aggregate of the surviving events, with forgotten users ABSENT."""
    from dbimport_spark import txnlog
    from dbimport_spark.plans.registry import load_events
    from dbimport_spark.sources.lakecdc import register_lake_cdc

    work = tempfile.mkdtemp(prefix="dbimport_gdpr_")
    facts = os.path.join(work, "facts")
    totals = os.path.join(work, "totals")
    checkpoint = os.path.join(work, "ckpt")
    app = "gdpr_totals"

    ev = load_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 10000).cast("bigint").alias("v4"),
    )
    # fact-table ingest in two commits (so the feed has multiple insert
    # versions), then the forget request as a DV delete
    txnlog.txn_append(spark, ev.filter(F.col("event_id") % 2 == 0), facts)
    txnlog.txn_append(spark, ev.filter(F.col("event_id") % 2 == 1), facts)
    txnlog.txn_delete_dv(spark, F.col("user_id") % 13 == 5, facts)

    # derived table starts EMPTY with a schema-carrying zero commit
    txnlog.txn_append(
        spark,
        spark.createDataFrame([], "user_id bigint, n bigint, v4 bigint"),
        totals,
    )

    register_lake_cdc(spark)
    feed = (
        spark.readStream.format("lake_cdc")
        .option("path", facts)
        .option("readChangeFeed", "true")
        .load()
    )

    def fold_batch(bdf: DataFrame, batch_id: int) -> None:
        delta = (
            bdf.withColumn(
                "sgn", F.when(F.col("_change_type") == "delete", -1).otherwise(1)
            )
            .groupBy("user_id")
            .agg(
                F.sum("sgn").cast("bigint").alias("dn"),
                F.sum(F.col("sgn") * F.col("v4")).cast("bigint").alias("dv4"),
            )
        )
        txnlog.txn_merge_into_cow(
            spark,
            delta,
            totals,
            ["user_id"],
            [
                ("matched_delete", "t.n + s.dn = 0"),
                (
                    "matched_update",
                    None,
                    {"n": "t.n + s.dn", "v4": "t.v4 + s.dv4"},
                ),
                (
                    "not_matched_insert",
                    "s.dn > 0",
                    {"user_id": "s.user_id", "n": "s.dn", "v4": "s.dv4"},
                ),
            ],
            app_id=app,
            batch_id=batch_id,
        )

    q = (
        feed.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    return txnlog.read_snapshot(spark, totals).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("n").cast("bigint").alias("n_events"),
        F.sum("v4").cast("bigint").alias("v4_sum"),
    )


def _drain_to_parquet(spark, stream_df, sink_dir: str, cp_dir: str, src=None):
    """availableNow run appending every new commit's rows to a parquet
    sink (memory sinks can't resume from a checkpoint); returns the
    sink's current contents."""
    with _stream_parallelism(spark, src):
        q = (
            stream_df.writeStream.format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", cp_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(sink_dir)


@register(
    "stream_lake_cdc_widen",
    """WITH narrow AS (
  SELECT doc_id AS k, CAST(n_chars AS BIGINT) AS v FROM documents
), wide AS (
  SELECT doc_id + 1000000 AS k, n_chars + 10000000000 AS v FROM documents
), per AS (
  SELECT CAST(0 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(v) AS BIGINT) AS v_sum
  FROM narrow
  UNION ALL
  SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
         CAST(sum(v) AS BIGINT)
  FROM wide
)
SELECT arm, version, n_rows, v_sum
FROM (SELECT 'fresh' AS arm FROM (VALUES (1))
      UNION ALL SELECT 'resumed' FROM (VALUES (1))) arms
CROSS JOIN per
ORDER BY arm, version""",
)
def stream_lake_cdc_widen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIDEN MID-STREAM (r9 verdict item 6's interplay case — the one a
    re-import pipeline hits): a CDC stream checkpoints after consuming
    the INT32 era (v0), then the table widens v int→bigint (metadata-
    only commit v1) and a post-widen append (v2) lands values beyond the
    int range. The RESUMED stream (same checkpoint) must cross the
    props-only widen commit without emitting phantom rows and read only
    v2 — versions already consumed don't re-stream; a FRESH stream
    started after the widen must read the narrow v0 files UNDER THE
    WIDE SCHEMA (the source's per-file conform step upcasts int32 pages
    to the bigint the log-carried schema declares, sources/lakecdc.py
    _conform) plus
    v2. Both arms must agree exactly — graded as identical per-version
    count/sum blocks, only right if no row is lost, duplicated, or
    truncated to 32 bits anywhere."""
    import shutil

    from dbimport_spark import txnlog
    from dbimport_spark.plans.registry import load
    from dbimport_spark.sources.lakecdc import register_lake_cdc

    root = os.path.join(
        tempfile.gettempdir(),
        "dbimport_spark_txn",
        "cdc_widen_" + sf_dir.rstrip("/").replace("/", "_"),
    )
    if os.path.isdir(root):
        shutil.rmtree(root)
    path = os.path.join(root, "tbl")
    os.makedirs(path)

    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    narrow = d.select(
        F.col("doc_id").alias("k"), F.col("n_chars").cast("int").alias("v")
    )
    txnlog.txn_append(spark, narrow, path)                       # v0: int32
    register_lake_cdc(spark)

    def stream_df():
        s = spark.readStream.format("lake_cdc").option("path", path).load()
        # sink schema pinned wide from run 1, the production spelling:
        # the source's own schema is narrow pre-widen, wide post-widen
        return s.select(
            "k", F.col("v").cast("bigint").alias("v"), "_commit_version"
        )

    cp = os.path.join(root, "cp")
    sink = os.path.join(root, "sink")
    _drain_to_parquet(spark, stream_df(), sink, cp, src=path)              # reads v0
    txnlog.txn_widen_column(spark, path, "v", "bigint")          # v1: O(1)
    wide = d.select(
        (F.col("doc_id") + 1_000_000).alias("k"),
        (F.col("n_chars") + F.lit(10_000_000_000)).alias("v"),
    )
    txnlog.txn_append(spark, wide, path)                         # v2: int64
    resumed = _drain_to_parquet(spark, stream_df(), sink, cp, src=path)    # v2 only

    fresh_s = spark.readStream.format("lake_cdc").option("path", path).load()
    assert dict(fresh_s.dtypes)["v"] == "bigint"  # the log's schema drives it
    fresh_agg = fresh_s.groupBy(
        F.col("_commit_version").alias("version")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("v").cast("bigint").alias("v_sum"),
    )
    fresh = _run_to_memory(fresh_agg, spark, output_mode="complete", src=path).select(
        F.lit("fresh").alias("arm"), F.col("version").cast("bigint"),
        "n_rows", "v_sum",
    )
    res = resumed.groupBy(
        F.col("_commit_version").alias("version")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("v").cast("bigint").alias("v_sum"),
    ).select(
        F.lit("resumed").alias("arm"), F.col("version").cast("bigint"),
        "n_rows", "v_sum",
    )
    return fresh.unionByName(res)


@register(
    "stream_lake_cdc_retention",
    """SELECT CAST(m AS BIGINT) AS version,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(3 AS BIGINT) AS log_floor,
       CAST(3 AS BIGINT) AS n_entries_cleaned,
       CAST(1 AS BIGINT) AS below_floor_raises
FROM documents CROSS JOIN (SELECT unnest(range(5)) AS m) ms
WHERE doc_id % 5 = m
GROUP BY m
ORDER BY version""",
)
def stream_lake_cdc_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG RETENTION × CDC, end to end (r9 verdict item 7): a stream
    checkpoints after consuming v0..v3; the table then checkpoints,
    vacuums (horizon→3) and runs txn_cleanup_log — entries 0..2 are
    TRUNCATED (log_floor 3); the anchor checkpoint at v3 names every
    file of theirs still on disk. The resumed stream's offset (3) sits
    at the floor, so resume SUCCEEDS and reads exactly the post-cleanup append
    (v4) — no re-read, no missing-entry crash. A FRESH stream from
    startingVersion 0 (below the floor) must fail with the ACTIONABLE
    truncation error naming the retained floor
    (sources/lakecdc.py LakeCdcStreamReader.partitions), not a bare missing-file error —
    graded via the below_floor_raises flag (the query re-raises if the
    error is missing or wrong-shaped). Graded rows: per-version counts
    and id sums across the cleanup boundary, each version exactly once."""
    import shutil

    from dbimport_spark import txnlog
    from dbimport_spark.plans.registry import load
    from dbimport_spark.sources.lakecdc import register_lake_cdc

    root = os.path.join(
        tempfile.gettempdir(),
        "dbimport_spark_txn",
        "cdc_reten_" + sf_dir.rstrip("/").replace("/", "_"),
    )
    if os.path.isdir(root):
        shutil.rmtree(root)
    path = os.path.join(root, "tbl")
    os.makedirs(path)

    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    for m in range(4):
        txnlog.txn_append(spark, d.filter(F.col("doc_id") % 5 == m), path)
    register_lake_cdc(spark)

    def stream_df():
        return (
            spark.readStream.format("lake_cdc").option("path", path).load()
        ).select("doc_id", "_commit_version")

    cp = os.path.join(root, "cp")
    sink = os.path.join(root, "sink")
    _drain_to_parquet(spark, stream_df(), sink, cp, src=path)          # v0..v3
    txnlog.write_checkpoint(path)                            # anchor @ v3
    txnlog.vacuum(path, retain_versions=1)                   # horizon 3
    n_cleaned = txnlog.txn_cleanup_log(path)                 # entries 0..2
    floor = txnlog.log_floor(path)
    txnlog.txn_append(spark, d.filter(F.col("doc_id") % 5 == 4), path)  # v4
    drained = _drain_to_parquet(spark, stream_df(), sink, cp, src=path)  # v4 only

    # fresh stream below the floor: must raise the actionable error
    below_raises = 0
    q = (
        spark.readStream.format("lake_cdc")
        .option("path", path)
        .option("startingVersion", "0")
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", os.path.join(root, "cp_fresh"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    except Exception as e:  # noqa: BLE001 — StreamingQueryException wrapper
        if "truncated by log cleanup" in str(e) and f"floor is {floor}" in str(e):
            below_raises = 1
        else:
            raise
    return drained.groupBy(
        F.col("_commit_version").alias("version")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
    ).select(
        F.col("version").cast("bigint"),
        "n_rows",
        "id_sum",
        F.lit(floor).cast("bigint").alias("log_floor"),
        F.lit(n_cleaned).cast("bigint").alias("n_entries_cleaned"),
        F.lit(below_raises).cast("bigint").alias("below_floor_raises"),
    )
