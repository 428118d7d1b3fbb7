"""Heavy-hitters (frequent items) with a pruned-candidate exact verify.

The scale problem: "top-k most frequent items" over a 100 TB token/shingle
stream. A plain groupBy().count() works but shuffles the FULL distinct-key
space; when key cardinality explodes (shingles, URLs, n-grams) the shuffle
and the reduce-side hash tables dominate. The classic fix (Mergeable
Summaries, Agarwal et al., PODS'12; SpaceSaving/Misra-Gries) is a bounded
per-partition summary whose merge gives a LOWER bound per item plus a
global error bound; candidates are then verified with exact counts over a
broadcast-filtered second pass, so the big shuffle only ever carries items
that might be in the top-k.

Guarantee (why the output is EXACT, not approximate): each partition
counts exactly, then reports its top `local_cap` items; eps_p = the
largest DROPPED local count (0 if nothing dropped). For any item x,
  sum_of_reported_counts(x) = lb(x) <= true(x) <= lb(x) + sum_p eps_p.
A true top-k item has true(x) >= k-th largest lb, so the candidate set
{x reported: lb(x) + eps_total >= kth_lb} covers the true top-k — unless
eps_total >= kth_lb, in which case an entirely-unreported item could
qualify and we raise (the caller must grow local_cap). The exact second
pass then makes the final ranking bound-free.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbimport_spark.frames import local_frame

MAX_CANDIDATES = 100_000


def heavy_hitters(items: DataFrame, item_col: str, k: int, local_cap: int = 65536) -> DataFrame:
    """Exact top-k (item, n, rk) by frequency with (n DESC, item ASC)
    tie-breaking, computed with the pruned two-pass plan above.

    Driver-side state: the candidate item list (bounded by the lb+eps rule,
    hard-capped at MAX_CANDIDATES) and one eps scalar per partition — the
    same intentionally-small driver objects as the IVF codebook.
    """

    def local_counts(batches):
        from collections import Counter

        cnt: Counter = Counter()
        for pdf in batches:
            cnt.update(pdf[item_col].dropna())
        if not cnt:
            return
        common = cnt.most_common()
        kept = common[:local_cap]
        eps = common[local_cap][1] if len(common) > local_cap else 0
        yield pd.DataFrame(
            {
                "item": [c[0] for c in kept] + [None],
                "cnt": [c[1] for c in kept] + [0],
                "eps": [0] * len(kept) + [eps],
            }
        )

    summary = (
        items.select(F.col(item_col).alias(item_col))
        .mapInPandas(local_counts, schema=f"item string, cnt long, eps long")
        .persist()
    )
    try:
        eps_total = summary.agg(F.sum("eps")).first()[0] or 0
        lbs = (
            summary.filter(F.col("item").isNotNull())
            .groupBy("item")
            .agg(F.sum("cnt").alias("lb"))
        )
        top_lbs = lbs.orderBy(F.col("lb").desc(), F.col("item")).limit(k).collect()
        if len(top_lbs) < k:
            # fewer distinct items than k: everything reported is the answer
            kth_lb = 0
        else:
            kth_lb = top_lbs[-1]["lb"]
        if eps_total >= kth_lb and eps_total > 0:
            raise RuntimeError(
                f"heavy_hitters bound broken (eps_total={eps_total} >= "
                f"kth_lb={kth_lb}): an unreported item could be in the "
                f"top-{k}; increase local_cap (={local_cap})"
            )
        cand_rows = lbs.filter(F.col("lb") + eps_total >= kth_lb).collect()
        if len(cand_rows) > MAX_CANDIDATES:
            raise RuntimeError(
                f"{len(cand_rows)} candidates exceed MAX_CANDIDATES; "
                "distribution too flat for this local_cap"
            )
        cands = [r["item"] for r in cand_rows]
    finally:
        summary.unpersist()

    spark = items.sparkSession
    cand_df = local_frame(spark, [(c,) for c in cands], f"{item_col} string")
    exact = (
        items.join(F.broadcast(cand_df), item_col)
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n").desc(), F.col(item_col).asc())
    # the window is over <= MAX_CANDIDATES rows (post-verify), not the corpus
    return (
        exact.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
    )


def _portable_bucket(col, row_i: int, width: int):
    """Portable CMS bucket: first 15 hex digits of md5(f'{row}:{item}')
    mod width. Spark and DuckDB compute the identical integer (same
    pattern as the simhash oracle hash in functions/textdedup.py), so
    the whole sketch — not just the final estimates — is cross-engine
    reproducible. xxhash64 would be ~3× faster; use it in production
    where the oracle isn't replaying the hashes."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit(f"{row_i}:"), col)), 1, 15), 16, 10)
    return (h.cast("long") % width).alias(f"b{row_i}")


def count_min_sketch(
    items: DataFrame, item_col: str, depth: int = 4, width: int = 2048
) -> DataFrame:
    """Build a Count-Min sketch (Cormode & Muthukrishnan '05) of the item
    stream: returns the (i, bucket, c) counter table, depth×width rows.

    Why this exists next to heavy_hitters (exact top-k): CMS answers
    POINT frequency queries with a one-sided bound (estimate >= true,
    overshoot <= e/width · N with prob 1 - (1/2)^depth) out of O(depth ×
    width) integers of state, INDEPENDENT of key cardinality. At 100 TB
    the counter table is built by one hash agg whose map-side combine
    bounds every partition's output at depth×width rows — nothing
    cardinality-shaped ever reaches the shuffle, which is the whole
    point: exact counting of a shingle/URL stream shuffles billions of
    distinct keys; the sketch shuffles at most 8 K rows per partition.
    The table is mergeable by bucket-wise addition (how partial aggs
    combine it here, and how cross-day sketches would combine in a lake).
    """
    col = F.col(item_col)
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"), _portable_bucket(col, i, width).alias("bucket")
            )
            for i in range(depth)
        ]
    )
    return (
        items.select(F.explode(rows).alias("rb"))
        .select("rb.i", "rb.bucket")
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def count_min_estimate(
    probes: DataFrame, sketch: DataFrame, item_col: str, depth: int = 4, width: int = 2048
) -> DataFrame:
    """Estimate each probe item's frequency from a CMS counter table:
    min over the depth rows of the counter each hash selects. Returns
    the probe frame plus an ``n_cms`` column. The sketch is broadcast
    (≤ depth×width rows by construction) so probing is map-side — no
    shuffle of the probe set, which can itself be large (e.g. re-scoring
    every distinct URL of a new crawl against last month's sketch).
    Absent buckets count 0 via the coalesce (an item whose bucket nobody
    touched has true count 0 <= estimate 0).

    Contract: the probe frame's ROWS MUST BE DISTINCT — the final
    re-assembly groups by all probe columns, so duplicate probe rows
    collapse to one output row (by design: a probe is a membership
    question, not a weighted one; pre-aggregate a count column if you
    need multiplicity). Internal columns are ``_cms_``-prefixed so probe
    frames with ``i``/``bucket``/``c`` columns pass through untouched;
    a probe column that itself starts with ``_cms_`` is rejected."""
    clash = [c for c in probes.columns if c.startswith("_cms_") or c == "n_cms"]
    if clash:
        raise ValueError(
            f"count_min_estimate: probe columns {clash} collide with internal "
            "names (_cms_* / n_cms) — rename them before probing"
        )
    col = F.col(item_col)
    exploded = probes.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("_cms_i"),
                        _portable_bucket(col, i, width).alias("_cms_bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("_cms_rb"),
    ).select("*", "_cms_rb._cms_i", "_cms_rb._cms_bucket").drop("_cms_rb")
    counters = sketch.select(
        F.col("i").alias("_cms_i"),
        F.col("bucket").alias("_cms_bucket"),
        F.col("c").alias("_cms_c"),
    )
    joined = exploded.join(F.broadcast(counters), ["_cms_i", "_cms_bucket"], "left")
    keys = [c for c in probes.columns]
    return (
        joined.groupBy(*keys)
        .agg(F.min(F.coalesce(F.col("_cms_c"), F.lit(0).cast("bigint"))).alias("n_cms"))
    )
