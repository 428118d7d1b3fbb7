"""Scale-path function library: MinHash-LSH, SimHash, hyperplane ANN,
multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from dbimport_spark.functions import multimodal, similarity, textdedup


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        (2, "the quick brown fox jumps over the lazy dog again and again tomorrow"),  # near-dup of 1
        (3, "completely different text about spark partitions and shuffle behavior"),
        (4, "completely different text about spark partitions and shuffle behaviour"),  # near-dup of 3
        (5, "unrelated short document"),
    ]
    return spark.createDataFrame(base, "doc_id long, text string")


@pytest.fixture(scope="module")
def shingles(docs):
    toks = docs.select(
        "doc_id", F.split(F.lower(F.regexp_replace("text", "[^a-zA-Z0-9]+", " ")), " ").alias("w")
    )
    tri = F.expr("transform(sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")
    return toks.filter(F.size("w") >= 3).select("doc_id", F.explode(tri).alias("s")).distinct()


def test_minhash_lsh_finds_planted_pairs(shingles):
    pairs = textdedup.minhash_lsh_neardup_pairs(shingles, threshold=0.5)
    got = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    assert (1, 2) in got and (3, 4) in got
    assert all(a < b for a, b in got)
    assert (1, 3) not in got and (1, 5) not in got


def test_minhash_lsh_equals_exact_verification(shingles):
    # LSH-verified pairs == exact pairs at high threshold (recall ≈ 1)
    sigs = textdedup.minhash_signatures(shingles)
    cands = textdedup.lsh_candidate_pairs(sigs)
    lsh = {
        (r["a_id"], r["b_id"], round(r["jaccard"], 9))
        for r in textdedup.verify_jaccard(cands, shingles, threshold=0.5).collect()
    }
    a = shingles.select(F.col("doc_id").alias("a_id"), "s")
    b = shingles.select(F.col("doc_id").alias("b_id"), "s")
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        a.join(b, "s").filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id").agg(F.count(F.lit(1)).alias("nb"))
    )
    exact = {
        (r["a_id"], r["b_id"], round(r["j"], 9))
        for r in inter.join(sizes.withColumnRenamed("doc_id", "a_id"), "a_id")
        .withColumnRenamed("n", "na")
        .join(sizes.withColumnRenamed("doc_id", "b_id"), "b_id")
        .select("a_id", "b_id",
                (F.col("nb") / (F.col("na") + F.col("n") - F.col("nb"))).alias("j"))
        .filter(F.col("j") >= 0.5)
        .collect()
    }
    assert lsh == exact


def test_simhash_hamming(docs):
    tokens = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.regexp_replace("text", "[^a-zA-Z0-9]+", " ")), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    fps = textdedup.simhash(tokens)
    assert fps.count() == 5
    # pigeonhole guarantee: with c chunks every pair at hamming ≤ c-1 shares
    # a chunk; use 8 chunks to guarantee recall up to hamming 7
    pairs = textdedup.simhash_neardup_pairs(fps, max_hamming=7, chunks=8)
    got = {(r["a_id"], r["b_id"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 2)] == 2   # one changed token
    assert got[(3, 4)] == 7
    assert set(got) == {(1, 2), (3, 4)}  # no false pairs among unrelated docs


def _exact_topk_pairs(spark, sf_dir):
    from dbimport_spark.plans.vector_queries import ann_topk_cosine

    return {(r["query_id"], r["neighbor_id"]) for r in ann_topk_cosine(spark, sf_dir).collect()}


def test_ann_lsh_recall_against_exact(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    queries = base.filter(F.col("vec_id") < 8)
    approx = similarity.ann_lsh_topk(base, queries, dim=64, k=5)
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    exact = _exact_topk_pairs(spark, sf_dir)
    recall = len(got & exact) / len(exact)
    assert len(got) == 40  # 8 queries × k
    assert recall >= 0.8  # multi-table LSH: measured 1.0 at this scale


def test_ann_ivf_recall_against_exact(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    queries = base.filter(F.col("vec_id") < 8)
    approx = similarity.ann_ivf_topk(base, queries, dim=64, k=5)
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    exact = _exact_topk_pairs(spark, sf_dir)
    recall = len(got & exact) / len(exact)
    assert len(got) == 40
    assert recall >= 0.7  # measured 0.925 at this scale; broken IVF ≈ 0


def test_multimodal_features_and_frames(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "another payload")], "doc_id long, text string"
    )
    media = multimodal.documents_as_media(docs)
    assert media.schema["content"].dataType.typeName() == "binary"
    feats = multimodal.extract_media_features(media, decode="fake").collect()
    by_id = {r["media_id"]: r for r in feats}
    assert by_id[1]["n_bytes"] == len(b"hello world")
    assert len(by_id[1]["features"]) == multimodal.FEATURE_DIM
    import hashlib

    assert by_id[1]["content_sha256"] == hashlib.sha256(b"hello world").hexdigest()
    # strict: raw text bytes are no sniffable media format → loud error at
    # execution (surfaces as a PythonException from the Arrow kernel)
    with pytest.raises(Exception, match="none of PNG/JPEG/GIF"):
        multimodal.extract_media_features(media, decode="strict").collect()
    frames = multimodal.sample_frames(media, n_frames=4)
    rows = frames.filter(F.col("media_id") == 1).collect()
    assert len(rows) == 4
    assert sorted(r["frame_idx"] for r in rows) == [0, 1, 2, 3]


def test_range_join_binned_matches_naive(spark, sf_dir):
    """The binned plan must find exactly the pairs the naive quadratic
    join finds (bin replication covers the full +/-T window, each pair
    exactly once)."""
    from dbimport_spark.plans.analytics_queries import range_join_binned, _RANGE_T_US
    from dbimport_spark.plans.registry import load_events
    from pyspark.sql import functions as F

    got = {
        (r["a_id"], r["b_id"], r["dt_us"])
        for r in range_join_binned(spark, sf_dir).collect()
    }
    e = (
        load_events(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select("event_id", F.unix_micros("ts").alias("us"))
    )
    a = e.select(F.col("event_id").alias("a_id"), F.col("us").alias("a_us"))
    b = e.select(F.col("event_id").alias("b_id"), F.col("us").alias("b_us"))
    naive = (
        a.crossJoin(b)
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (F.abs(F.col("a_us") - F.col("b_us")) <= _RANGE_T_US)
        )
        .select("a_id", "b_id", (F.col("b_us") - F.col("a_us")).alias("dt_us"))
    )
    want = {(r["a_id"], r["b_id"], r["dt_us"]) for r in naive.collect()}
    assert got == want and want


def test_text_top_terms_ranking(spark, sf_dir):
    from dbimport_spark.plans.text_queries import text_top_terms

    out = text_top_terms(spark, sf_dir)
    rows = out.collect()
    assert rows
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rs in by_doc.items():
        rs.sort(key=lambda r: r["term_rank"])
        assert [r["term_rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 5
        # ranking is (tf desc, df asc, term asc)
        keys = [(-r["tf"], r["df"], r["term"]) for r in rs]
        assert keys == sorted(keys)


class TestHeavyHitters:
    def test_matches_exact_groupby_with_tiny_cap(self, spark):
        """With local_cap far below distinct-key count, the bound machinery
        must still produce the EXACT top-k (or refuse) — never a wrong
        answer."""
        from dbimport_spark.functions.sketch import heavy_hitters
        from pyspark.sql import functions as F

        # zipf-ish: item i appears ~ 2000/(i+1) times, 400 distinct items
        df = (
            spark.range(0, 400)
            .select(
                F.concat(F.lit("item-"), F.col("id")).alias("s"),
                (F.lit(2000) / (F.col("id") + 1)).cast("int").alias("n"),
            )
            .select("s", F.explode(F.sequence(F.lit(1), F.col("n"))).alias("_"))
            .select("s")
            .repartition(8)
        )
        got = [
            (r["s"], r["n"], r["rk"])
            for r in heavy_hitters(df, "s", k=10, local_cap=50)
            .orderBy("rk")
            .collect()
        ]
        from pyspark.sql import Window

        w = Window.orderBy(F.col("n").desc(), F.col("s").asc())
        want = [
            (r["s"], r["n"], r["rk"])
            for r in df.groupBy("s")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("rk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rk") <= 10)
            .orderBy("rk")
            .collect()
        ]
        assert got == want

    def test_refuses_when_bound_broken(self, spark):
        """Perfectly flat distribution + tiny cap: no item can be proven
        into the top-k, so the operator must raise, not guess."""
        import pytest as _pytest
        from dbimport_spark.functions.sketch import heavy_hitters
        from pyspark.sql import functions as F

        flat = (
            spark.range(0, 5000)
            .select(F.concat(F.lit("x"), F.col("id")).alias("s"))
            .repartition(8)
        )
        with _pytest.raises(RuntimeError, match="bound broken"):
            heavy_hitters(flat, "s", k=5, local_cap=10).collect()


def test_ann_pq_recall_against_exact(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    queries = base.filter(F.col("vec_id") < 8)
    approx = similarity.ann_pq_topk(base, queries, dim=64, k=5)
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    exact = _exact_topk_pairs(spark, sf_dir)
    recall = len(got & exact) / len(exact)
    assert len(got) == 40  # 8 queries × k
    assert recall >= 0.8  # measured 0.925 (sf0.001) / 0.95 (sf0.01)


def test_sparse_tfidf_pair_invariants(spark, sf_dir):
    """Every emitted pair satisfies the integer cross-multiplied cos>=0.9
    threshold (recomputed in Python), pairs are canonical (a<b), and an
    identical-content pair constructed on a controlled micro-corpus scores
    cos=1 while disjoint docs never pair. (Value-level correctness against
    the full corpus is the DuckDB oracle's job; word-soup docs share a
    tiny vocabulary, so which SPECIFIC pairs pass is data, not contract.)"""
    from dbimport_spark.plans.registry import QUERIES

    rows = QUERIES["sparse_tfidf_neardup"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["a_id"] < r["b_id"]
        assert (10 * r["dot"]) ** 2 >= 81 * r["na2"] * r["nb2"]
        assert r["dot"] ** 2 <= r["na2"] * r["nb2"]  # Cauchy-Schwarz sanity


def test_bucket_count_percentiles_match_percentile_disc(spark):
    """The bucket-count exact percentile (two hash aggs + distinct-value
    cumulative window) must equal Spark's sort-based percentile_disc on
    data with heavy ties, skewed groups, singleton groups, and NULLs."""
    import random

    from dbimport_spark.functions.quantile import bucket_count_percentiles

    rnd = random.Random(7)
    rows = []
    for g, n, dom in [("a", 997, 12), ("b", 400, 400), ("c", 1, 5), ("d", 50, 2)]:
        for _ in range(n):
            rows.append((g, rnd.randrange(dom)))
    rows += [("a", None), ("b", None)]  # NULLs ignored by percentile_disc
    df = spark.createDataFrame(rows, "g string, v long")

    fr = [("p50", 1, 2), ("p90", 9, 10), ("p95", 95, 100), ("p99", 99, 100)]
    got = {
        r["g"]: (r["p50"], r["p90"], r["p95"], r["p99"], r["n_rows"])
        for r in bucket_count_percentiles(df, ["g"], "v", fr).collect()
    }
    want = {
        r["g"]: (r["p50"], r["p90"], r["p95"], r["p99"], r["n_rows"])
        for r in df.groupBy("g")
        .agg(
            *[
                F.expr(
                    f"percentile_disc({num}/{den}) WITHIN GROUP (ORDER BY v)"
                ).alias(name)
                for name, num, den in fr
            ],
            F.count("v").alias("n_rows"),
        )
        .collect()
    }
    assert got == want


class TestPngCodec:
    """functions/png.py: pure-stdlib PNG encode/decode (the real multimodal
    image kernel)."""

    def _gradient(self, w, h, ch):
        return bytes(((x * 7 + y * 13 + c * 29) & 0xFF)
                     for y in range(h) for x in range(w) for c in range(ch))

    @pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
    @pytest.mark.parametrize("channels", [1, 2, 3, 4])
    def test_roundtrip_all_filters_and_channels(self, filter_type, channels):
        from dbimport_spark.functions import png

        w, h = 9, 7  # odd sizes catch stride bugs
        px = self._gradient(w, h, channels)
        data = png.encode_png(w, h, channels, px, filter_type=filter_type)
        gw, gh, gch, gpx = png.decode_png(data)
        assert (gw, gh, gch) == (w, h, channels)
        assert gpx == px

    def test_palette_expansion(self):
        from dbimport_spark.functions import png
        import struct
        import zlib

        # Hand-build a 2x2 color-type-3 PNG with a 3-entry palette.
        def chunk(ctype, body):
            return (struct.pack(">I", len(body)) + ctype + body
                    + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
        plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
        raw = bytes([0, 0, 1, 0, 2, 0])  # two scanlines, filter 0
        data = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"PLTE", plte) + chunk(b"IDAT", zlib.compress(raw))
                + chunk(b"IEND", b""))
        w, h, ch, px = png.decode_png(data)
        assert (w, h, ch) == (2, 2, 3)
        assert px == bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 0, 0])

    def test_rejects_malformed(self):
        from dbimport_spark.functions import png

        good = png.encode_png(2, 2, 1, bytes(4))
        with pytest.raises(png.PngError):
            png.decode_png(b"not a png")
        bad_crc = bytearray(good)
        bad_crc[-5] ^= 0xFF  # flip a CRC byte of IEND
        with pytest.raises(png.PngError):
            png.decode_png(bytes(bad_crc))
        import struct as _s
        interlaced = bytearray(good)
        # IHDR body starts at offset 16; interlace flag is its last byte.
        interlaced[16 + 12] = 1
        # re-CRC the IHDR chunk (type+body = offsets 12..25)
        import zlib as _z
        crc = _z.crc32(bytes(interlaced[12:29])) & 0xFFFFFFFF
        interlaced[29:33] = _s.pack(">I", crc)
        with pytest.raises(png.PngError):
            png.decode_png(bytes(interlaced))

    def test_distributed_roundtrip_stats(self, spark):
        """documents → PNG encode (kernel) → real decode → stats match the
        plain-Python computation."""
        docs = spark.createDataFrame(
            [(i, "payload-%03d " % i * 4) for i in range(10)],
            "doc_id long, text string",
        )
        media = multimodal.documents_as_png_media(docs, width=16)
        stats = {r["media_id"]: r for r in multimodal.extract_image_stats(media).collect()}
        import hashlib as _h
        for i in range(10):
            text = ("payload-%03d " % i * 4).encode()
            h = len(text) // 16
            px = text[: h * 16]
            r = stats[i]
            assert (r["width"], r["height"], r["channels"]) == (16, h, 1)
            assert r["px_sum"] == sum(px)
            assert r["pixel_sha256"] == _h.sha256(px).hexdigest()

    def test_png_feature_histogram(self, spark):
        from dbimport_spark.functions import png as _p

        px = self._gradient(8, 8, 3)
        blob = _p.encode_png(8, 8, 3, px, filter_type=4)
        media = spark.createDataFrame([(1, blob)], "media_id long, content binary")
        row = multimodal.extract_media_features(media, decode="png").collect()[0]
        assert abs(sum(row["features"]) - 1.0) < 1e-9
        expect = [0] * multimodal.FEATURE_DIM
        for v in px:
            expect[v * multimodal.FEATURE_DIM // 256] += 1
        got = [f * len(px) for f in row["features"]]
        assert all(abs(g - e) < 1e-6 for g, e in zip(got, expect))


class TestBucketSkewValve:
    """max_bucket_size: a planted hot bucket must not explode into O(B²)
    candidates, while pairs with redundant collisions survive the cap."""

    def test_lsh_hot_band_bucket_bounded(self, spark):
        # 100 docs share band 0 exactly (sig_0..sig_3 identical) but have
        # unique sig_4..sig_63 → without a cap band 0 alone yields 4950
        # candidate pairs; with cap=50 the hot bucket is skipped entirely.
        # Docs 200/201 agree on ALL bands (a true near-dup pair) and are
        # in no hot bucket, so the cap must keep them.
        rows = []
        for d in range(100):
            sig = [7, 7, 7, 7] + [d * 64 + i for i in range(4, 64)]
            rows.append((d, *sig))
        for d in (200, 201):
            rows.append((d, *[d * 0 + 999_000 + i for i in range(64)]))
        cols = "doc_id long, " + ", ".join(f"sig_{i} long" for i in range(64))
        sigs = spark.createDataFrame(rows, cols)

        uncapped = textdedup.lsh_candidate_pairs(sigs).collect()
        assert len(uncapped) == 4950 + 1
        capped = textdedup.lsh_candidate_pairs(sigs, max_bucket_size=50).collect()
        assert {(r["a_id"], r["b_id"]) for r in capped} == {(200, 201)}

    def test_simhash_hot_chunk_bucket_bounded(self, spark):
        # 100 fingerprints share chunk 0 (low 16 bits = 0xBEEF) but are far
        # apart overall; docs 500/501 differ by 1 bit (hamming 1) and share
        # three non-hot chunks. cap=50 removes the hot bucket's 4950
        # candidates and keeps the close pair.
        # Knuth-scatter the high 31 bits so hot-bucket members are far
        # apart (hamming ~15), sharing ONLY the planted low chunk.
        rows = [(d, (((d * 0x9E3779B1) & 0x7FFFFFFF) << 16) | 0xBEEF) for d in range(100)]
        rows += [(500, (77 << 32) | (0x5A5A << 16) | 0x1234),
                 (501, (77 << 32) | (0x5A5A << 16) | 0x1235)]
        fps = spark.createDataFrame(rows, "doc_id long, simhash long")

        uncapped = textdedup.simhash_neardup_pairs(fps, max_hamming=3)
        capped = textdedup.simhash_neardup_pairs(fps, max_hamming=3, max_bucket_size=50)
        assert {(r["a_id"], r["b_id"]) for r in capped.collect()} == {(500, 501)}
        # sanity: the close pair is found either way; the hot bucket only
        # ever produced failing candidates (hamming >> 3), so outputs match.
        assert {(r["a_id"], r["b_id"]) for r in uncapped.collect()} == {(500, 501)}

    def test_graded_queries_unaffected_by_cap(self, spark, sf_dir):
        # The graded dedup_minhash_lsh runs with max_bucket_size=1000;
        # at test scale no bucket comes near the cap, so the pair set must
        # equal the uncapped run (the exact-oracle guarantee).
        from dbimport_spark.plans.text_queries import shingles_df

        sh = shingles_df(spark, sf_dir).persist()
        try:
            capped = textdedup.minhash_lsh_neardup_pairs(
                sh, threshold=0.9, max_bucket_size=1000
            )
            uncapped = textdedup.minhash_lsh_neardup_pairs(sh, threshold=0.9)
            a = {(r["a_id"], r["b_id"]) for r in capped.collect()}
            b = {(r["a_id"], r["b_id"]) for r in uncapped.collect()}
            assert a == b and len(a) > 0
        finally:
            sh.unpersist()


def test_kmeans_recovers_planted_clusters(spark):
    from dbimport_spark.functions.kmeans import kmeans_assign

    # three tight planted blobs in 4-d; seeds (lowest ids 0,1,2) start one
    # per blob, so 2 rounds converge to the exact partition.
    import random

    rng = random.Random(7)
    centers = {0: [10.0, 0.0, 0.0, 0.0], 1: [0.0, 10.0, 0.0, 0.0], 2: [0.0, 0.0, 10.0, 0.0]}
    rows = []
    for i in range(90):
        c = i % 3
        rows.append(
            (i, [x + rng.uniform(-0.5, 0.5) for x in centers[c]])
        )
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    got = {r["vec_id"]: r["cluster"] for r in kmeans_assign(df, k=3, n_iter=2).collect()}
    assert set(got.values()) == {0, 1, 2}
    for i, cl in got.items():
        assert cl == i % 3


def test_kmeans_handles_emptied_cluster(spark):
    from dbimport_spark.functions.kmeans import kmeans_assign

    # seeds 0 and 1 both sit in blob A; blob B is far away. After round 1
    # one seed empties (every point nearer the other) — the survivor set
    # must still cover all points in round 2 without error.
    rows = [(0, [0.0, 0.0]), (1, [0.1, 0.0])] + [
        (i, [50.0 + i * 0.01, 0.0]) for i in range(2, 40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    out = kmeans_assign(df, k=2, n_iter=3)
    assert out.count() == 40
    assert out.select("cluster").distinct().count() <= 2


def test_sample_dsir_invariants(spark, sf_dir):
    from dbimport_spark.plans.curation_queries import sample_dsir

    out = sample_dsir(spark, sf_dir).collect()
    assert len(out) > 0
    for r in out[:50]:
        assert r["doc_id"] % 50 != 0          # target docs are never scored
        assert r["n_grams"] > 0
        assert r["sum_raw_cnt"] >= r["n_grams"]  # each gram counts itself
    assert any(r["keep"] for r in out) and any(not r["keep"] for r in out)


class TestBpe:
    """functions/bpe.py: from-scratch distributed BPE."""

    def _py_bpe_train(self, word_counts, n):
        # independent pure-Python reference (Sennrich's algorithm)
        vocab = {tuple(list(w[:-1]) + [w[-1] + "_"]): c for w, c in word_counts.items()}
        merges = []
        for _ in range(n):
            pairs = {}
            for syms, c in vocab.items():
                for i in range(len(syms) - 1):
                    pairs[(syms[i], syms[i + 1])] = pairs.get((syms[i], syms[i + 1]), 0) + c
            if not pairs:
                break
            best = min(pairs, key=lambda p: (-pairs[p], p))
            merges.append(best)
            nv = {}
            for syms, c in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                        out.append(syms[i] + syms[i + 1]); i += 2
                    else:
                        out.append(syms[i]); i += 1
                nv[tuple(out)] = nv.get(tuple(out), 0) + c
            vocab = nv
        return merges, vocab

    def test_train_matches_python_reference(self, spark):
        from dbimport_spark.functions import bpe

        wc = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "aaaa": 3}
        df = spark.createDataFrame(list(wc.items()), "word string, cnt long")
        got = bpe.bpe_train(df, 6)
        want, _ = self._py_bpe_train(wc, 6)
        assert got == [tuple(m) for m in want]

    def test_encoders_agree_with_reference(self, spark):
        from dbimport_spark.functions import bpe

        wc = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "aaaa": 3, "lowest": 1}
        df = spark.createDataFrame(list(wc.items()), "word string, cnt long")
        merges = bpe.bpe_train(df, 6)
        expr_out = {
            r["word"]: list(r["t"])
            for r in df.select(
                "word", bpe.bpe_encode_expr(bpe.SYMBOLS_SQL.format(w="word"), merges).alias("t")
            ).collect()
        }
        udf_out = {
            r["word"]: list(r["t"])
            for r in df.select("word", bpe.symbols_col("word").alias("s"))
            .select("word", bpe.bpe_encode_udf(merges)("s").alias("t"))
            .collect()
        }
        assert expr_out == udf_out
        # reference encode: sequential merges, greedy leftmost
        for w in wc:
            syms = list(w[:-1]) + [w[-1] + "_"]
            for a, b in merges:
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b); i += 2
                    else:
                        out.append(syms[i]); i += 1
                syms = out
            assert expr_out[w] == syms, w

    def test_merge_fold_consecutive_runs(self, spark):
        from dbimport_spark.functions import bpe

        df = spark.createDataFrame([("aaaaa",)], "word string")
        out = df.select(
            bpe.bpe_encode_expr(bpe.SYMBOLS_SQL.format(w="word"), [("a", "a")]).alias("t")
        ).collect()[0]["t"]
        # greedy leftmost non-overlap on [a,a,a,a,a_]: [aa, aa, a_]
        assert list(out) == ["aa", "aa", "a_"]


def test_jaccard_prefix_strategy_matches_naive(spark, sf_dir):
    """The prefix-filtered exact Jaccard plan must return the identical
    pair set as the naive posting self-join (the auto gate only ever
    chooses between these two exact strategies)."""
    from dbimport_spark.plans.text_queries import dedup_ngram_jaccard

    naive = {
        (r["a_id"], r["b_id"], round(r["jaccard"], 9))
        for r in dedup_ngram_jaccard(spark, sf_dir, strategy="naive").collect()
    }
    prefix = {
        (r["a_id"], r["b_id"], round(r["jaccard"], 9))
        for r in dedup_ngram_jaccard(spark, sf_dir, strategy="prefix").collect()
    }
    assert naive == prefix and naive


def test_tfidf_prefix_strategy_matches_naive(spark, sf_dir):
    from dbimport_spark.plans.text_queries import sparse_tfidf_neardup

    naive = {
        tuple(r) for r in sparse_tfidf_neardup(spark, sf_dir, strategy="naive").collect()
    }
    prefix = {
        tuple(r) for r in sparse_tfidf_neardup(spark, sf_dir, strategy="prefix").collect()
    }
    assert naive == prefix and naive


@pytest.mark.slow
def test_tfidf_dense_strategy_matches_naive(spark, sf_dir):
    """The rare-term-free block-tile matmul path is EXACT: float64 dots
    of integer weights are exact below 2^53 and the decimal gate makes
    the final call — output must equal the naive inverted-index join."""
    from dbimport_spark.plans.text_queries import sparse_tfidf_neardup

    naive = {
        tuple(r) for r in sparse_tfidf_neardup(spark, sf_dir, strategy="naive").collect()
    }
    dense = {
        tuple(r) for r in sparse_tfidf_neardup(spark, sf_dir, strategy="dense").collect()
    }
    assert naive == dense and naive


@pytest.mark.slow
def test_tfidf_dense_folded_strategy_matches_naive(spark, sf_dir):
    """The mid-vocab hash-folded candidate path is exact end-to-end:
    folded dots upper-bound true dots (non-negative weights) while the
    prefilter divides by TRUE norms, so candidates are a superset and
    the exact pair re-verify restores equality with naive."""
    from dbimport_spark.plans.text_queries import sparse_tfidf_neardup

    naive = {
        tuple(r) for r in sparse_tfidf_neardup(spark, sf_dir, strategy="naive").collect()
    }
    folded = {
        tuple(r)
        for r in sparse_tfidf_neardup(spark, sf_dir, strategy="dense_folded").collect()
    }
    assert naive == folded and naive


@pytest.mark.slow
def test_tfidf_dense_folded_on_midvocab_corpus(spark, tmp_path):
    """A synthetic 8k-term corpus (over the 4096 exact-dense gate) with
    planted near-dups: dense_folded == naive, and the planted pairs are
    found. This is the round-5 verdict's mid-vocab shape in miniature."""
    import pandas as pd

    from dbimport_spark.plans.text_queries import sparse_tfidf_neardup

    rng_words = [f"w{i:05d}" for i in range(8000)]
    rows = []
    for d in range(300):
        # deterministic pseudo-random draw: doc d takes 30 spread terms
        toks = [rng_words[(d * 97 + k * 131) % 8000] for k in range(30)]
        rows.append((d, " ".join(toks)))
    # planted dups: doc 1000+d = doc d verbatim (cos exactly 1 — a
    # changed RARE token would sink cos below 0.9 under IDF weighting,
    # so identity is the robust planted signal; corpus_df additionally
    # plants its own +1000000 near-dup twins organically)
    for d in range(0, 300, 10):
        toks = [rng_words[(d * 97 + k * 131) % 8000] for k in range(30)]
        rows.append((1000 + d, " ".join(toks)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    pdf["lang"] = "en"
    pdf["source"] = "synth"
    pdf["n_chars"] = pdf["text"].str.len()
    d = tmp_path / "midvocab"
    d.mkdir()
    spark.createDataFrame(pdf).write.parquet(str(d / "documents.parquet"))

    naive = {
        tuple(r)
        for r in sparse_tfidf_neardup(spark, str(d), strategy="naive").collect()
    }
    folded = {
        tuple(r)
        for r in sparse_tfidf_neardup(spark, str(d), strategy="dense_folded").collect()
    }
    assert naive == folded
    found_pairs = {(a, b) for a, b, *_ in folded}
    planted = {(d0, 1000 + d0) for d0 in range(0, 300, 10)}
    assert planted <= found_pairs


def test_pca_power_project_matches_eigh_direction(spark, sf_dir):
    """The bit-exact fixed-round power projection must agree with the
    numpy-eigh first principal component SEMANTICALLY (|correlation|
    ~ 1 across the corpus); the cross-engine bit-exactness itself is
    enforced by the embedding_pca_project oracle."""
    import numpy as np

    from dbimport_spark.functions import pca
    from dbimport_spark.plans.registry import load
    from pyspark.sql import functions as F

    e = load(spark, sf_dir, "embeddings")
    base = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    mean, comps, _, _ = pca.pca_fit(base, "v", dim=64, k=1)
    ref = {
        r["vec_id"]: r["z"][0]
        for r in pca.pca_project(base, "v", "vec_id", mean, comps).collect()
    }
    got = {
        r["vec_id"]: r["z"]
        for r in pca.pca_power_project(e, "embedding", "vec_id", dim=64).collect()
    }
    ids = sorted(ref)
    a = np.array([ref[i] for i in ids])
    b = np.array([got[i] for i in ids])
    corr = np.corrcoef(a, b)[0, 1]
    assert abs(corr) > 0.999
    # determinism: a second run returns byte-identical doubles
    again = {
        r["vec_id"]: r["z"]
        for r in pca.pca_power_project(e, "embedding", "vec_id", dim=64).collect()
    }
    assert again == got


def test_pca_power_project_degenerate_inputs(spark):
    """ADVICE r6: n=0 (empty table) must return an empty frame, and a
    zero covariance (all-identical vectors) must not divide by zero —
    identical rows project to exactly 0 because v == mu."""
    from dbimport_spark.functions import pca

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    assert pca.pca_power_project(empty, "embedding", "vec_id", dim=4).count() == 0

    const = spark.createDataFrame(
        [(i, [1.5, -2.0, 0.25, 3.0]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    rows = pca.pca_power_project(const, "embedding", "vec_id", dim=4).collect()
    assert len(rows) == 5
    assert all(r["z"] == 0.0 for r in rows)


def test_cosine_gate_exact_at_every_magnitude(spark):
    """The cos≥0.9 cross-multiplication gate must agree with
    arbitrary-precision integer math even where decimal(38) overflows —
    including exact-boundary ties one unit either side. Closes the r3
    'decimal-overflow near-miss' hard instead of by magnitude argument."""
    from dbimport_spark.plans.text_queries import cosine_ge_09_exact

    k = 4 * 10**17
    cases = [
        # (dot, na2, nb2) — in-range exact ties and near-ties
        (9, 10, 10),            # 8100 == 8100 → keep
        (9, 10, 11),            # 8100 < 8910 → drop
        (90, 100, 100),         # tie at moderate scale → keep
        # overflow regime: (10·dot)² ≈ 1.3e39 > decimal(38) max
        (9 * k, 10 * k, 10 * k),       # EXACT tie under overflow → keep
        (9 * k, 10 * k, 10 * k + 1),   # one unit over → drop
        (9 * k, 10 * k, 10 * k - 1),   # one unit under → keep
        (9 * k + 1, 10 * k, 10 * k),   # dot one up → keep
        (9 * k - 1, 10 * k, 10 * k),   # dot one down → drop
        # far-from-boundary overflow both ways
        (9_000_000_000_000_000_000, 10**18, 10**17),
        (10**15, 10**18, 10**18),
    ]
    rows = [(i, d, a, b) for i, (d, a, b) in enumerate(cases)]
    df = spark.createDataFrame(rows, "id long, dot long, na2 long, nb2 long")
    got = {r["id"] for r in cosine_ge_09_exact(df).collect()}
    want = {
        i for i, (d, a, b) in enumerate(cases) if (10 * d) ** 2 >= 81 * a * b
    }
    assert got == want
    # sanity: the boundary rows really are in the decimal-overflow regime
    assert (10 * 9 * k) ** 2 > 10**38


def test_cosine_gate_matches_duckdb_hugeint(spark):
    """Same adversarial rows through DuckDB's HUGEINT arithmetic — the
    oracle engine the driver grades against must agree too. Magnitudes sit
    in the window where Spark's decimal(38) product overflows (lhs > 1e38)
    but int128 still holds (< 1.7e38) — the only regime where the two
    engines COULD silently diverge; past int128 DuckDB errors loudly, so
    no silent disagreement is possible there."""
    import duckdb

    from dbimport_spark.plans.text_queries import cosine_ge_09_exact

    k = 12 * 10**16
    cases = [(9 * k, 10 * k, 10 * k), (9 * k, 10 * k, 10 * k + 1), (9, 10, 10)]
    assert (10 * 9 * k) ** 2 > 10**38  # decimal(38) overflow regime
    assert (10 * 9 * k) ** 2 < 2**127  # …but representable in int128
    rows = [(i, d, a, b) for i, (d, a, b) in enumerate(cases)]
    df = spark.createDataFrame(rows, "id long, dot long, na2 long, nb2 long")
    got = sorted(r["id"] for r in cosine_ge_09_exact(df).collect())
    con = duckdb.connect()
    vals = ", ".join(f"({i}, {d}, {a}, {b})" for i, (d, a, b) in enumerate(cases))
    want = sorted(
        r[0]
        for r in con.execute(
            f"SELECT id FROM (VALUES {vals}) t(id, dot, na2, nb2) "
            "WHERE (CAST(dot AS HUGEINT) * 10) * (CAST(dot AS HUGEINT) * 10) "
            ">= 81 * CAST(na2 AS HUGEINT) * CAST(nb2 AS HUGEINT)"
        ).fetchall()
    )
    assert got == want


def test_png_adaptive_filter_selection():
    """filter_type='adaptive' picks per-row argmin of the spec's
    sum-of-absolute-differences heuristic: never worse than the best
    fixed filter on homogeneous content, still an exact roundtrip on
    mixed content where different rows pick different filters."""
    import numpy as np
    import zlib

    from dbimport_spark.functions.png import decode_png, encode_png

    rng = np.random.default_rng(1)
    h, w = 60, 80
    smooth = (np.add.outer(np.arange(h), np.arange(w) * 2) % 256).astype(np.uint8)
    px = smooth.tobytes()
    fixed_best = min(
        len(encode_png(w, h, 1, px, filter_type=f)) for f in range(5)
    )
    blob = encode_png(w, h, 1, px, filter_type="adaptive")
    assert len(blob) <= fixed_best + 16  # zlib jitter guard; measured smaller
    assert decode_png(blob) == (w, h, 1, px)

    mixed = np.vstack(
        [
            smooth[:20],
            rng.integers(0, 256, (20, w), dtype=np.uint8),
            np.tile(np.arange(w) % 256, (20, 1)).astype(np.uint8),
        ]
    ).astype(np.uint8)
    blob2 = encode_png(w, 60, 1, mixed.tobytes(), filter_type="adaptive")
    assert decode_png(blob2) == (w, 60, 1, mixed.tobytes())
    # the stream really mixes filters: inspect the raw scanline bytes
    import struct

    at = blob2.index(b"IDAT")
    (n,) = struct.unpack(">I", blob2[at - 4 : at])
    raw = zlib.decompress(blob2[at + 4 : at + 4 + n])
    fts = {raw[r * (1 + w)] for r in range(60)}
    assert len(fts) >= 2, fts
    # interlaced + adaptive compose
    assert decode_png(
        encode_png(w, h, 1, px, filter_type="adaptive", interlace=True)
    ) == (w, h, 1, px)


def test_triangle_counts_hand_graph(spark):
    """K4 on {1,2,3,4} (every vertex in C(3,2)=3 triangles) plus a
    pendant vertex 5 and one isolated edge (6,7); input is messy on
    purpose: mixed directions, a duplicate edge, and a self-loop."""
    from dbimport_spark.functions.graph import triangle_counts

    edges = [
        (1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (3, 4), (2, 4),
        (4, 5),          # pendant: in no triangle
        (6, 7),          # isolated edge
        (3, 3),          # self-loop: dropped
    ]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"]: r["n_tri"] for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_integer_and_negative_ids(spark):
    """ADVICE r5 regression: the packed-long closure key must cast to
    long BEFORE shiftleft (IntegerType ids stay 32-bit and overflow,
    collapsing distinct (u, w) keys into false triangles), and negative
    ids must fall back to the two-column join (they collide under the
    shift otherwise). Same K4 + pendant + isolated-edge graph as the
    hand test, under both hostile typings."""
    from dbimport_spark.functions.graph import triangle_counts

    edges = [
        (1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (3, 4), (2, 4),
        (4, 5), (6, 7), (3, 3),
    ]
    want = {1: 3, 2: 3, 3: 3, 4: 3}

    df_int = spark.createDataFrame(edges, "src int, dst int")
    got_int = {r["node"]: r["n_tri"] for r in triangle_counts(df_int).collect()}
    assert got_int == want

    df_neg = spark.createDataFrame(
        [(a - 10, b - 10) for a, b in edges], "src bigint, dst bigint"
    )
    got_neg = {r["node"] + 10: r["n_tri"] for r in triangle_counts(df_neg).collect()}
    assert got_neg == want


def test_count_min_probe_column_collisions(spark):
    """ADVICE r5 regression: a probe frame already carrying columns named
    i / bucket / c must survive count_min_estimate unharmed (internal
    names are _cms_-prefixed now), and a probe column in the reserved
    _cms_* / n_cms space is rejected loudly."""
    import pytest as _pytest

    from dbimport_spark.functions.sketch import count_min_estimate, count_min_sketch

    items = spark.createDataFrame([("a",)] * 4 + [("b",)] * 2, "t string")
    sketch = count_min_sketch(items, "t", depth=4, width=64)
    probes = spark.createDataFrame(
        [("a", 1, 2, 3), ("b", 4, 5, 6), ("zz", 7, 8, 9)],
        "t string, i long, bucket long, c long",
    )
    out = count_min_estimate(probes, sketch, "t", depth=4, width=64)
    got = {r["t"]: (r["i"], r["bucket"], r["c"], r["n_cms"]) for r in out.collect()}
    assert got["a"][:3] == (1, 2, 3) and got["a"][3] >= 4
    assert got["b"][:3] == (4, 5, 6) and got["b"][3] >= 2
    assert got["zz"][3] >= 0  # collision may overcount, never under

    bad = spark.createDataFrame([("a", 1)], "t string, _cms_i long")
    with _pytest.raises(ValueError, match="_cms_"):
        count_min_estimate(bad, sketch, "t", depth=4, width=64)
    bad2 = spark.createDataFrame([("a", 1)], "t string, n_cms long")
    with _pytest.raises(ValueError, match="n_cms"):
        count_min_estimate(bad2, sketch, "t", depth=4, width=64)


def test_count_min_upper_bound_and_exactness(spark):
    """CMS estimates are >= exact counts always; with width >> distinct
    items and no collisions they are exactly equal. Also checks the
    absent-bucket probe path (unseen item -> estimate 0 when its buckets
    are empty ... or a collision overcount, never an undercount)."""
    from dbimport_spark.functions.sketch import count_min_estimate, count_min_sketch

    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 2 + [("d",)] * 1
    items = spark.createDataFrame(rows, "t string")
    exact = {"a": 5, "b": 3, "c": 2, "d": 1, "zz_unseen": 0}
    probes = spark.createDataFrame(
        [(t, n) for t, n in exact.items()], "t string, n_exact long"
    )

    # wide sketch: 4 items over 4096 buckets x 4 rows -> collisions
    # essentially impossible, estimates exact
    sk = count_min_sketch(items, "t", depth=4, width=4096)
    got = {
        r["t"]: r["n_cms"]
        for r in count_min_estimate(probes, sk, "t", depth=4, width=4096).collect()
    }
    assert got == exact

    # brutally narrow sketch (width=2): estimates still never undercount
    sk2 = count_min_sketch(items, "t", depth=4, width=2)
    for r in count_min_estimate(probes, sk2, "t", depth=4, width=2).collect():
        assert r["n_cms"] >= exact[r["t"]], r


def test_global_prefix_sum_matches_sequential(spark):
    """Two-pass distributed scan == single-threaded exclusive cumsum,
    for gappy non-contiguous order keys and any bucket count."""
    import random

    from dbimport_spark.functions.prefix import global_prefix_sum

    rng = random.Random(7)
    ids = sorted(rng.sample(range(0, 100000), 500))
    rows = [(i, rng.randint(0, 50)) for i in ids]
    df = spark.createDataFrame(rows, "k bigint, w bigint").repartition(13)
    for nb in (1, 3, 64):
        got = {
            r["k"]: r["cum_before"]
            for r in global_prefix_sum(df, "k", "w", num_buckets=nb).collect()
        }
        acc, want = 0, {}
        for k, w in rows:
            want[k] = acc
            acc += w
        assert got == want, f"num_buckets={nb}"
    # empty input: zero rows out, schema intact
    empty = spark.createDataFrame([], "k bigint, w bigint")
    out = global_prefix_sum(empty, "k", "w")
    assert out.count() == 0 and out.columns == ["k", "w", "cum_before"]


def test_kcore_peel_hand_graph(spark):
    """K4 on {1..4} plus a tail 4-5-6: one round of k=2 peeling removes
    6 (deg 1) but keeps 5 (deg 2 pre-peel); the second round removes 5
    (deg 1 after 6 left); K4 survives any number of rounds."""
    from dbimport_spark.functions.graph import kcore_peel

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    one = {r["node"]: r["deg"] for r in kcore_peel(df, k=2, rounds=1).collect()}
    assert one == {1: 3, 2: 3, 3: 3, 4: 4, 5: 1}
    two = {r["node"]: r["deg"] for r in kcore_peel(df, k=2, rounds=2).collect()}
    assert two == {1: 3, 2: 3, 3: 3, 4: 3}
    assert two == {r["node"]: r["deg"] for r in kcore_peel(df, k=2, rounds=3).collect()}


def test_global_prefix_sum_rejects_duplicate_keys(spark):
    import pytest as _pytest

    from dbimport_spark.functions.prefix import global_prefix_sum

    df = spark.createDataFrame([(1, 5), (1, 7), (2, 1)], "k bigint, w bigint")
    with _pytest.raises(ValueError, match="unique"):
        global_prefix_sum(df, "k", "w").collect()
