"""Round-5 query tests: BM25 retrieval, containment dedup, fuzzy
decontamination. The value-exact gate is tools/check_oracle.py; these
pin the structural guarantees the oracles can't see — prefix-filter
recall, broadcast plan shapes, split membership — at sf0.001."""

import pytest
from pyspark.sql import functions as F

from dbimport_spark.plans import QUERIES


def test_bm25_topk_contract(spark, sf_dir):
    rows = QUERIES["text_bm25_topk"](spark, sf_dir).collect()
    assert rows, "bm25 output empty"
    by_q = {}
    for r in rows:
        assert r.query_id % 101 == 0
        assert r.doc_id % 101 != 0, "query docs must not score themselves"
        assert r.score_micro > 0
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(r.rnk for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        assert len(rs) <= 5
        # rank order agrees with (score desc, doc_id asc)
        rs.sort(key=lambda r: r.rnk)
        key = [(-r.score_micro, r.doc_id) for r in rs]
        assert key == sorted(key)


@pytest.mark.slow
def test_bm25_deterministic_across_partitioning(spark, sf_dir):
    """Integer-micro scores must not depend on partition/sum order."""
    a = {
        (r.query_id, r.doc_id): r.score_micro
        for r in QUERIES["text_bm25_topk"](spark, sf_dir).collect()
    }
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        b = {
            (r.query_id, r.doc_id): r.score_micro
            for r in QUERIES["text_bm25_topk"](spark, sf_dir).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b


@pytest.mark.slow
def test_containment_planted_pairs_present(spark, sf_dir):
    out = QUERIES["dedup_containment"](spark, sf_dir)
    rows = out.collect()
    assert rows
    planted = {(r.a_id, r.b_id) for r in rows}
    # every planted copy contains its original fully (orig -> copy = 1.0)
    from dbimport_spark.plans.text_queries import shingles_df

    docs_with_sh = {
        r.doc_id
        for r in shingles_df(spark, sf_dir)
        .select("doc_id")
        .distinct()
        .collect()
    }
    for d in docs_with_sh:
        if d >= 1000000 and (d - 1000000) in docs_with_sh:
            assert (d - 1000000, d) in planted
    for r in rows:
        assert r.n_both * 5 >= r.n_a * 4
        assert 0 < r.n_both <= r.n_a


def test_containment_prefix_filter_is_exact(spark, sf_dir):
    """Brute-force all-pairs containment equals the prefix-filtered
    output (recall guarantee: any floor(|A|/5)+1 probe shingles of a
    0.8-contained doc must hit the container)."""
    from dbimport_spark.plans.text_queries import shingles_df

    sh = shingles_df(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("a_id"), "s")
    b = sh.select(F.col("doc_id").alias("b_id"), "s")
    brute = (
        a.join(b, "s")
        .filter(F.col("a_id") != F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .join(sizes.select(F.col("doc_id").alias("a_id"), F.col("n").alias("n_a")), "a_id")
        .filter(F.col("n_both") * 5 >= F.col("n_a") * 4)
    )
    expect = {(r.a_id, r.b_id) for r in brute.collect()}
    got = {
        (r.a_id, r.b_id)
        for r in QUERIES["dedup_containment"](spark, sf_dir).collect()
    }
    assert got == expect


def test_decontam_minhash_split_membership(spark, sf_dir):
    rows = QUERIES["decontam_minhash"](spark, sf_dir).collect()
    assert rows, "planted eval near-dups must be flagged"
    for r in rows:
        assert r.eval_id % 97 == 0
        assert r.train_id % 97 != 0
        assert r.jaccard >= 0.9


def test_decontam_minhash_broadcasts_eval_side(spark, sf_dir):
    plan = QUERIES["decontam_minhash"](
        spark, sf_dir
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


@pytest.mark.slow
def test_stream_decontam_matches_batch(spark, sf_dir):
    """The stateless streaming probe must emit exactly the batch
    decontam_minhash pair set (same xxhash64 family, same exact
    verify)."""
    batch = {
        (r.train_id, r.eval_id, r.jaccard)
        for r in QUERIES["decontam_minhash"](spark, sf_dir).collect()
    }
    stream = {
        (r.train_id, r.eval_id, r.jaccard)
        for r in QUERIES["stream_decontam_minhash"](spark, sf_dir).collect()
    }
    assert stream == batch
    assert stream, "planted eval near-dups must be flagged"
