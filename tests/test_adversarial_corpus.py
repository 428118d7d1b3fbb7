"""Adversarial-corpus differential testing: the driver's oracle gate,
re-run over a corpus the fixed testdata can't produce — empty strings,
exact duplicates, single-char docs, punctuation-only text, massive
repetition, a 40k-char document, whitespace runs. The fixed sf corpora
have comfortable statistics; latent bugs (division guards, empty-array
folds, chunk boundaries at 0, hash-of-empty) only surface here.

Scope: text/dedup/curation/multimodal queries whose inputs are the
documents table and whose oracle contract is ASCII-safe (the documented
fixture assumption — ord(char) == byte — is kept, so any mismatch is a
real engine bug, not an encoding artifact)."""

import os

import pytest

pytestmark = pytest.mark.slow  # opt in: SPARK_GRAFT_FULL_TESTS=1

# Query subset: documents-driven, deterministic, ASCII-contract.
QUERIES = [
    "text_token_count",
    "text_lang_id",
    "text_quality_score",
    "text_fingerprint",
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "curation_boilerplate_strip",
    "multimodal_meta",
    "multimodal_frames",
    "multimodal_png_roundtrip",
    "multimodal_flip_gate",
    "multimodal_video_frames",
    "multimodal_video_dib",
    "multimodal_av_demux",
    "multimodal_frame_dedup",
    "audio_g711_roundtrip",
    "audio_resample_gate",
    "text_repetition_signals",
    "dup_span_coverage",
    "pii_redact_docs",
    "text_top_terms",
    "text_chunk_windows",
    "heavy_hitters_shingles",
    "dedup_cluster_canonical",
    "dedup_span_clean",
    "text_winnow_fingerprint",
    "pack_sequences",
    "sample_token_budget",
    "sample_temperature",
    "decontam_ngram_overlap",
    "text_lm_score",
    "text_bpe_tokens",
    "dedup_bloom_static",
    "dedup_lsh_incremental",
    "sparse_tfidf_neardup",
    "quality_label_prop",
    "dedup_minhash_cluster",
    "curation_pipeline",
    "semantic_dedup_pairs",
    "sample_hash_split",
    # round 7: the crawl family over the hostile corpus (whitespace-only
    # and tab-run docs caught two oracle whitespace-semantics bugs)
    "src_warc_documents",
    "src_warc_wet_text",
    "src_warc_html_extract",
    "curation_url_canonicalize",
    "pipeline_crawl_to_corpus",
    "warc_link_graph",
    "lake_crawl_incremental",
    "crawl_robots_filter",
    "src_warc_charset_decode",
    "src_sitemap_frontier",
    "lake_txn_schema_evolution",
    "stream_lake_cdc",
    "stream_lake_cdc_partitioned",
    "stream_crawl_refresh",
    "text_bm25_topk",
    "dedup_containment",
    "sketch_countmin_probe",
    "sample_weighted_systematic",
    "retrieval_hybrid_rrf",
    "stream_novelty_cms",
    "ann_filtered_topk",  # zero-norm vectors excluded on both sides now
    # ann_topk_cosine remains absent: its registered oracle predates the
    # zero-norm exclusion rule and the planted all-zeros vector makes a
    # query-side cosine 0/0, whose ordering is not part of that contract
]

DOCS = [
    # (doc_id, text) — lang/source assigned round-robin below
    (0, ""),                                   # empty document
    (1, "a"),                                  # single char
    (2, " " * 300),                            # whitespace only
    (3, "!!! ??? ;;; ,,, ... ### $$$ %%% &&&" * 8),  # punctuation-heavy
    (4, "word " * 3000),                       # massive repetition, 15k chars
    (5, "the quick brown fox jumps over the lazy dog " * 900),  # 39.6k chars
    (6, "dup dup dup identical body shared by three docs exactly"),
    (7, "dup dup dup identical body shared by three docs exactly"),
    (8, "dup dup dup identical body shared by three docs exactly"),
    (9, "near duplicate text body differing by exactly one tokenX here ok"),
    (10, "near duplicate text body differing by exactly one tokenY here ok"),
    (11, "x" * 127),                           # one under the video frame size
    (12, "y" * 128),                           # exactly one frame
    (13, "mixed   runs\tof\twhitespace  and   words scattered through here"),
    (14, "1234567890 " * 40),                  # digits
    (15, "short"),
]


@pytest.fixture(scope="module")
def adversarial_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("adversarial_sf")
    rows = [
        (i, t, ["en", "de", "fr"][i % 3], f"src{i % 4}", len(t))
        for i, t in DOCS
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))

    # adversarial embeddings: exact-duplicate vectors (3 == 4), an
    # all-zeros vector (cosine's divide-by-zero edge), tiny magnitudes
    vecs = []
    for i in range(16):
        if i == 7:
            v = [0.0] * 64
        elif i == 4:
            v = [((3 * 37 + j * 11) % 13 - 6) / 8.0 for j in range(64)]  # == vec 3
        else:
            v = [((i * 37 + j * 11) % 13 - 6) / 8.0 for j in range(64)]
        vecs.append((i, [float(x) for x in v], i % 3))
    spark.createDataFrame(
        vecs, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(d / "embeddings.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def duck(adversarial_dir):
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{adversarial_dir}/{t}.parquet/*.parquet'"
        )
    return con


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle_on_adversarial_corpus(spark, adversarial_dir, duck, name):
    import __spark_entry__ as entry
    from dbimport_spark.testing import assert_matches_oracle

    fn = entry.queries()[name]
    sql = entry.oracle_sql()[name]
    assert_matches_oracle(spark, duck, fn, sql, adversarial_dir, name=name)


# ------------------------------------------------------------ events edge


EVENT_QUERIES = [
    "events_window_agg",
    "events_sessionize",
    "events_gap_stats",
    "events_rolling_hour",
    "events_resample_ffill",
    "events_props_json",
    "events_funnel",
    "events_retention_cohorts",
]


@pytest.fixture(scope="module")
def adversarial_events_dir(spark, tmp_path_factory):
    """Edge-case event log: exact-tie timestamps, a gap exactly at the
    30-min sessionize threshold, events on exact hour boundaries, a
    single-event user, empty/odd JSON props, zero/negative values."""
    import datetime as dt

    d = tmp_path_factory.mktemp("adversarial_events")
    base = dt.datetime(2024, 3, 1, 0, 0, 0)

    rows = []

    def ev(eid, sec, user, etype, value, props):
        rows.append((eid, base + dt.timedelta(seconds=sec), user, etype, value, props))

    # user 1: two events at the SAME microsecond (tie), then one at an
    # exact 30-minute gap (the sessionize threshold boundary)
    ev(0, 0, 1, "click", 1.0, '{"k": 1}')
    ev(1, 0, 1, "view", 2.0, '{"k": 2}')
    ev(2, 1800, 1, "click", 0.0, '{"k": 3}')
    # user 2: events exactly one hour apart on exact hour boundaries
    for i in range(4):
        ev(3 + i, 3600 * i, 2, "click", float(i - 2), '{"k": ' + str(i) + "}")
    # user 3: single lonely event, empty props object
    ev(7, 5000, 3, "purchase", 1e9, "{}")
    # user 4: dense burst (1s apart) crossing a 5-min window boundary
    for i in range(20):
        ev(8 + i, 295 + i, 4, "view" if i % 2 else "click", 0.5, '{"k": 0}')
    # user 5: the funnel sequence in exact order at tie-ish spacing
    for i, et in enumerate(["view", "click", "purchase"]):
        ev(28 + i, 100 + i, 5, et, 10.0, '{"k": 9}')
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(str(d / "events.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def duck_events(adversarial_events_dir):
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{adversarial_events_dir}/events.parquet/*.parquet'"
    )
    return con


@pytest.mark.parametrize("name", EVENT_QUERIES)
def test_event_query_matches_oracle_on_edge_log(
    spark, adversarial_events_dir, duck_events, name
):
    import __spark_entry__ as entry
    from dbimport_spark.testing import assert_matches_oracle

    fn = entry.queries()[name]
    sql = entry.oracle_sql()[name]
    assert_matches_oracle(spark, duck_events, fn, sql, adversarial_events_dir, name=name)


# --------------------------------------------------------- relational edge


REL_QUERIES = [
    "q1_pricing_summary",
    "topk_orders_per_customer",
    "rollup_order_totals",
    "orders_running_balance",
    "price_histogram",
    "dq_audit_orders",
    "numeric_profile",
    "pivot_priority_status",
    "cube_order_stats",
    "q4_order_priority",
    "q18_large_orders",
    "set_ops_customers",
    # outlier_orders_zscore / user_value_trend additionally scan events —
    # covered by the standard gate; the tie corpus stays 3-table
    "graph_triangle_count",  # exactly one triangle (order 60's 3-part basket
    #                          closes the 1-2 / 1-3 co-occurrence wedge)
    "graph_kcore",  # k=75 peels this tiny graph to EMPTY — pins the
    #                 all-rounds-empty path on both engines
]


@pytest.fixture(scope="module")
def adversarial_rel_dir(spark, tmp_path_factory):
    """Tie-heavy relational tables: identical o_totalprice across a
    customer's orders (top-k tie-break), same-date order bursts, zero
    and negative prices/quantities/discount=1.0, a customer with no
    orders, an order with no lineitems, duplicate customer names."""
    import datetime as dt

    d = tmp_path_factory.mktemp("adversarial_rel")
    base = dt.datetime(2024, 1, 1)

    cust = [
        (1, "Cust;semi", 0, 0.0, "BUILDING"),      # CSV/VCF structural ';'
        (2, "Cust;semi", 1, -999.99, "AUTOMOBILE"),  # duplicate hostile name
        (3, 'Cu"st,B', 2, 1e7, "MACHINERY"),       # quote + comma
        (4, "Customer#C", 0, 5.55, "BUILDING"),    # will have NO orders
        (5, " pad ", 1, 5.55, "FURNITURE"),        # leading/trailing spaces
    ]
    spark.createDataFrame(
        cust, "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string"
    ).coalesce(1).write.parquet(str(d / "customer.parquet"))

    orders = []
    # customer 1: four orders with IDENTICAL totalprice and same date (full tie)
    for i in range(4):
        orders.append((10 + i, 1, "O", 100.0, base, "1-URGENT"))
    # customer 2: same-date burst, ascending keys, mixed priorities
    for i in range(3):
        orders.append((20 + i, 2, "F", float(i) * 0.01, base + dt.timedelta(days=1), f"{i+1}-X"))
    # customer 3: one huge, one zero, one negative order
    orders += [
        (30, 3, "O", 1e9, base + dt.timedelta(days=40), "5-LOW"),
        (31, 3, "F", 0.0, base + dt.timedelta(days=41), "5-LOW"),
        (32, 3, "P", -10.0, base + dt.timedelta(days=42), "2-HIGH"),
    ]
    # customer 5: single order with NO lineitems
    orders.append((50, 5, "O", 42.42, base + dt.timedelta(days=90), "3-MEDIUM"))
    # customer 3: 3-part basket closing a co-occurrence triangle (graph ops)
    orders.append((60, 3, "O", 7.0, base + dt.timedelta(days=91), "4-NOT SPECIFIED"))
    spark.createDataFrame(
        orders, "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    ).coalesce(1).write.parquet(str(d / "orders.parquet"))

    li = []
    # order 10: discount = 1.0 (free), tax 0; qty tie across lines
    li.append((10, 1, 1, 1, 5.0, 100.0, 1.0, 0.0, "N", "O", base + dt.timedelta(days=3)))
    li.append((10, 2, 1, 2, 5.0, 100.0, 0.0, 0.0, "N", "O", base + dt.timedelta(days=3)))
    # order 11: zero quantity line; negative extendedprice
    li.append((11, 1, 2, 1, 0.0, 0.0, 0.1, 0.05, "R", "F", base + dt.timedelta(days=5)))
    li.append((11, 3, 2, 2, 2.0, -50.0, 0.2, 0.1, "A", "F", base + dt.timedelta(days=6)))
    # order 30: many identical lines (agg tie mass)
    for ln in range(1, 8):
        li.append((30, 4, 3, ln, 7.0, 1000.0, 0.05, 0.08, "N", "O", base + dt.timedelta(days=45)))
    # order 60: parts 1, 2, 3 together — closes the triangle over the
    # (1,2)/(1,3) edges from orders 10/11; duplicate part 3 line exercises
    # the distinct in the pair expansion
    for ln, pk in ((1, 1), (2, 2), (3, 3), (4, 3)):
        li.append((60, pk, 1, ln, 1.0, 10.0, 0.0, 0.0, "N", "O", base + dt.timedelta(days=92)))
    spark.createDataFrame(
        li,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate timestamp",
    ).coalesce(1).write.parquet(str(d / "lineitem.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def duck_rel(adversarial_rel_dir):
    import duckdb

    con = duckdb.connect()
    for t in ("customer", "orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{adversarial_rel_dir}/{t}.parquet/*.parquet'"
        )
    return con


@pytest.mark.parametrize("name", REL_QUERIES)
def test_relational_query_matches_oracle_on_tie_corpus(
    spark, adversarial_rel_dir, duck_rel, name
):
    import __spark_entry__ as entry
    from dbimport_spark.testing import assert_matches_oracle

    fn = entry.queries()[name]
    sql = entry.oracle_sql()[name]
    assert_matches_oracle(spark, duck_rel, fn, sql, adversarial_rel_dir, name=name)


# ------------------------------------------------------ source-layer edge


SRC_QUERIES = [
    "src_csv_import",
    "src_json_datapath",
    "src_xml_datapath",
    "src_yaml_datapath",
    "src_inline_data",
    "src_csv_gz",
    "src_csv_zip",
    "src_csv_zip_aes",
    "src_vcf_contacts",
    "src_xlsx_import",
    "src_ods_import",
    "src_xls_import",
    "src_sql_script",
    "src_wildcard_multifile",
    "src_orc_roundtrip",
    "lake_bloom_point_lookup",
    "lake_stats_metadata_only",
    "lake_convert_in_place",
    "src_avro_roundtrip",
    "src_arrow_ipc_roundtrip",
    "src_csv_xz",
    "src_csv_zst",
    "src_jsonl_documents",
    "src_tfrecord_roundtrip",
    "src_webdataset_roundtrip",
    "pipeline_csv_upsert",
    "schema_infer_lattice",
    "dedup_drop_first",
    "merge_insert",
    "merge_upsert",
    "merge_update_first",
    "merge_scd2",
    "import_stats",
    "snapshot_diff",
]

#: strings chosen to break naive format writers: structural separators,
#: quotes, tabs, XML/JSON metachars, VCF-structural ; and , — ASCII only
_HOSTILE = [
    "plain",
    "semi;colon",
    'quo"ted"x',
    "comma,val",
    " lead-and-trail ",
    "tab\tsep",
    "<xml&amp>'",
    "back\\slash",
    "{json:\"ish\"}",
    "",
]


@pytest.fixture(scope="module")
def adversarial_src_dir(spark, adversarial_rel_dir, adversarial_dir, tmp_path_factory):
    """Extends the tie-heavy relational corpus with supplier/nation/
    region/part tables whose string values are format-hostile, plus the
    documents/embeddings edge tables (jsonl/tfrecord/webdataset sources
    scan documents). The source-layer queries export THESE rows through
    the real writers and re-read them — every separator/quote/escape
    path in the from-scratch codecs gets hit."""
    import shutil as _sh

    d = tmp_path_factory.mktemp("adversarial_src")
    for t in ("customer", "orders", "lineitem"):
        _sh.copytree(
            os.path.join(adversarial_rel_dir, f"{t}.parquet"),
            str(d / f"{t}.parquet"),
        )
    for t in ("documents", "embeddings"):
        _sh.copytree(
            os.path.join(adversarial_dir, f"{t}.parquet"), str(d / f"{t}.parquet")
        )

    sup = [
        (i, f"Supplier#{_HOSTILE[i % len(_HOSTILE)]}", i % 3, [0.0, -1.25, 1e6, 0.005, 2.675][i % 5])
        for i in range(10)
    ]
    spark.createDataFrame(
        sup, "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double"
    ).coalesce(1).write.parquet(str(d / "supplier.parquet"))

    nat = [(i, f"NATION {_HOSTILE[i % len(_HOSTILE)]}", i % 2) for i in range(6)]
    spark.createDataFrame(
        nat, "n_nationkey int, n_name string, n_regionkey int"
    ).coalesce(1).write.parquet(str(d / "nation.parquet"))

    reg = [(i, f"REGION {_HOSTILE[(i * 3) % len(_HOSTILE)]}") for i in range(4)]
    spark.createDataFrame(reg, "r_regionkey int, r_name string").coalesce(1).write.parquet(
        str(d / "region.parquet")
    )

    prt = [
        (i, f"part {_HOSTILE[i % len(_HOSTILE)]}", f"Brand#{i%3}", "TYPE A", i % 7, 9.99 + i)
        for i in range(8)
    ]
    spark.createDataFrame(
        prt,
        "p_partkey bigint, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
    ).coalesce(1).write.parquet(str(d / "part.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def duck_src(adversarial_src_dir):
    import duckdb

    con = duckdb.connect()
    for t in (
        "customer", "orders", "lineitem", "supplier", "nation", "region",
        "part", "documents", "embeddings",
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{adversarial_src_dir}/{t}.parquet/*.parquet'"
        )
    return con


@pytest.mark.parametrize("name", SRC_QUERIES)
def test_source_query_matches_oracle_on_hostile_strings(
    spark, adversarial_src_dir, duck_src, name
):
    import __spark_entry__ as entry
    from dbimport_spark.testing import assert_matches_oracle

    fn = entry.queries()[name]
    sql = entry.oracle_sql()[name]
    assert_matches_oracle(spark, duck_src, fn, sql, adversarial_src_dir, name=name)
