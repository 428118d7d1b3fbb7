"""Unit tests for the relational-shape and learned-operator queries.

The oracle gate (tools/check_oracle.py) proves end-to-end equality with
DuckDB; these tests pin the EDGE semantics that the synthetic corpus may
never exercise — funnel stage gating on crafted timelines, NB scoring of
token-free documents, PageRank rank-mass conservation."""

import datetime

import pytest
from pyspark.sql import functions as F


def _funnel_users(spark, rows):
    """Run the events_funnel fold on crafted (user, ts_sec, type) rows and
    return {stage: users}."""
    from dbimport_spark.plans import relational_queries as rq

    df = spark.createDataFrame(
        [
            (u, datetime.datetime(2024, 1, 1, 0, 0, s), t)
            for (u, s, t) in rows
        ],
        "user_id long, ts timestamp, event_type string",
    )
    # Write the crafted rows to a temp dir shaped like the events table and
    # call the registered query against it — same code path the driver runs.
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="funnel_t_")
    df.select(
        F.monotonically_increasing_id().alias("event_id"),
        "ts",
        "user_id",
        "event_type",
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = rq.events_funnel(spark, d).collect()
    return {r["stage"]: r["users"] for r in out}


def test_funnel_requires_stage_order(spark):
    # user 1: full ordered funnel; user 2: purchase BEFORE click (never
    # converts); user 3: click before any view (click doesn't count, and
    # no later click exists).
    res = _funnel_users(
        spark,
        [
            (1, 1, "view"), (1, 2, "click"), (1, 3, "purchase"),
            (2, 1, "view"), (2, 2, "purchase"), (2, 3, "click"),
            (3, 1, "click"), (3, 2, "view"),
        ],
    )
    assert res == {"view": 3, "view>click": 2, "view>click>purchase": 1}


def test_funnel_strictly_after_anchor_click(spark):
    # The click anchor is the EARLIEST click after the first view; a
    # purchase between view and that click must not count, and equal
    # timestamps do not satisfy the strict > gate.
    res = _funnel_users(
        spark,
        [
            (1, 1, "view"), (1, 2, "purchase"), (1, 3, "click"),
            (2, 1, "view"), (2, 1, "click"),
        ],
    )
    assert res["view"] == 2
    assert res["view>click"] == 1  # user 2's same-second click is rejected
    assert res["view>click>purchase"] == 0


def test_nb_zero_token_docs_get_prior_argmax(spark):
    """Documents with no [a-z]+ tokens must still be scored (prior-only)
    and all predictions must be one of the trained classes."""
    from dbimport_spark.plans.learned_queries import nb_model, nb_score

    rows = []
    # 8 docs per lang so every lang survives the %5 train split.
    for i in range(40):
        lang = ["en", "de", "fr", "es", "zh"][i % 5]
        text = {"en": "the cat", "de": "der hund", "fr": "le chat",
                "es": "el gato", "zh": "中文 文本"}[lang]
        rows.append((i, text, lang))
    rows.append((1000, "0123 !!!", "en"))  # token-free doc
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    lp, stats = nb_model(docs)
    out = nb_score(docs, lp, stats)
    got = {r["doc_id"]: r for r in out.collect()}
    assert len(got) == 41
    langs = {r["lang"] for r in stats.collect()}
    assert all(r["pred_lang"] in langs for r in got.values())
    # zh docs only emit non-[a-z] tokens → prior-only score, same for the
    # crafted token-free doc: both must share the identical prior argmax.
    zh_pred = got[4]["pred_lang"]
    assert got[1000]["pred_lang"] == zh_pred
    assert got[1000]["pred_score"] == got[4]["pred_score"]


@pytest.mark.slow
def test_pagerank_mass_and_positivity(spark, sf_dir):
    from dbimport_spark.plans.learned_queries import _PR_SCALE, graph_pagerank

    out = graph_pagerank(spark, sf_dir).collect()
    total = sum(r["pr"] for r in out)
    # Integer truncation only ever LOSES rank mass; it can never exceed
    # the unit total, and 5 rounds of floor-div lose at most 1 unit per
    # node per round plus the teleport remainder.
    assert 0 < total <= _PR_SCALE
    assert total > _PR_SCALE * 0.98
    assert all(r["pr"] > 0 for r in out)
    # Bipartite graph: supplier nodes (odd ids) aggregate many parts, so
    # the max-rank node must be a supplier.
    top = max(out, key=lambda r: r["pr"])
    assert top["node"] % 2 == 1


@pytest.mark.slow
def test_pca_matches_numpy_and_partitioning_invariant(spark):
    import numpy as np

    from dbimport_spark.functions.pca import covariance_stats, pca_fit, pca_project

    rng = np.random.default_rng(7)
    # planted 2-cluster structure in 8-dim
    base = rng.normal(0, 0.1, size=(200, 8))
    base[:100, 0] += 5.0
    rows = [(i, base[i].tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    n, mean, cov = covariance_stats(df.repartition(7), "v", 8)
    assert n == 200
    np.testing.assert_allclose(mean, base.mean(axis=0), atol=1e-9)
    np.testing.assert_allclose(cov, np.cov(base.T, bias=True), atol=1e-9)
    # partition-count invariance of the combined statistics
    _, mean1, cov1 = covariance_stats(df.coalesce(1), "v", 8)
    np.testing.assert_allclose(cov, cov1, atol=1e-12)
    # top component must be the planted separation axis (e_0)
    m, comps, explained, total = pca_fit(df, "v", dim=8, k=2)
    assert abs(comps[0][0]) > 0.99
    assert explained[0] / total > 0.9
    # Parseval: mean squared projected norm == sum of kept eigenvalues
    proj = pca_project(df, "v", "vec_id", m, comps)
    import pyspark.sql.functions as F

    msn = (
        proj.select(F.aggregate("z", F.lit(0.0), lambda a, x: a + x * x).alias("s"))
        .agg(F.avg("s"))
        .collect()[0][0]
    )
    np.testing.assert_allclose(msn, explained.sum(), rtol=1e-9)


@pytest.mark.slow
def test_pagerank_checkpoint_invariance(spark):
    """localCheckpoint lineage truncation must not change results — the
    arithmetic is exact integer, so 12 rounds with and without
    checkpointing agree bit-for-bit."""
    from pyspark.sql import functions as F

    from dbimport_spark.functions.graph import pagerank

    edges = spark.createDataFrame(
        [(a, b) for a in range(20) for b in range(20) if (a * 7 + b) % 5 == 0 and a != b],
        "src long, dst long",
    )
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    plain = {r["node"]: r["pr"] for r in pagerank(sym, iters=12).collect()}
    ckpt = {
        r["node"]: r["pr"]
        for r in pagerank(sym, iters=12, checkpoint_every=4).collect()
    }
    assert plain == ckpt
    assert len(plain) == 20


@pytest.mark.slow
def test_pagerank_directed_sinks_and_sources(spark):
    """r3 advice: on a DIRECTED graph, sink-only nodes must count toward N
    and receive rank, and zero-in-degree nodes must keep their base rank
    (and keep CONTRIBUTING it) every iteration — standard PageRank, not
    just the symmetrized special case the registered query exercises."""
    from dbimport_spark.functions.graph import SCALE, pagerank

    # 1 → 2 → 3 (3 is a pure sink; 1 has zero in-degree)
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    pr = {r["node"]: r["pr"] for r in pagerank(edges, iters=3).collect()}
    assert set(pr) == {1, 2, 3}  # N=3: sink node 3 is in the vector
    n = 3
    base = (15 * SCALE) // (100 * n)
    # node 1 never receives: pinned at base every iteration
    assert pr[1] == base
    # fixed-point replay of the synchronous update (d=0.85, div semantics)
    r = {1: SCALE // n, 2: SCALE // n, 3: SCALE // n}
    for _ in range(3):
        r = {
            1: base,
            2: base + (85 * r[1]) // 100,
            3: base + (85 * r[2]) // 100,
        }
    assert pr == r
