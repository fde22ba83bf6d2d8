"""Streaming k-minimum-values maintenance: the fifth and last member
of the foreachBatch sketch family — the distinct-count sketch that,
unlike HLL, keeps actual sample hashes, so any two maintained stores
are one more merge away from a Jaccard estimate.

The KMV merge law is the bottom-k invariant: every hash in the global
bottom-k is in its own batch's bottom-k, so union + re-truncate is
grouping-invariant — any fold order (including compaction) yields the
identical k-row state, whose k-th minimum PROVABLY equals the
single-pass whole-stream k-th minimum. The registered
``stream_kmv_twin`` hash-checks that law (NULL-safe for under-k
streams) and serves the (k-1)/U_(k) distinct estimate with truth and
error verdict.

Hashes are the portable 60-bit md5-prefix family (exact in BIGINT on
both engines); the per-batch bottom-k is TakeOrderedAndProject —
per-partition top-k, no global sort. This module owns the engine's
KMV sketch: the batch queries in queries/aggregates.py (agg_kmv_*)
build, merge, estimate and take Jaccard through it.

Store protocol: ``partial_store.MergeableSketch`` (the ``KMV`` spec
below: partial ``kmv_partial``, fold ``merge_kmv``). Per-batch state is
<= k = 128 hash rows.

Wire-up: ``parsed.writeStream.foreachBatch(lambda b, i:
kmv_apply_batch(b, i, store_dir, "user_id")).option(
"checkpointLocation", ...)``.

Reference parity note: the reference engine (OpenBeta/parquet-exporter)
has no streaming or sketch surface (export.py is a one-shot batch
export); this extends the engine per SURVEY.md section 2.2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parquet_exporter_spark.streaming.partial_store import (
    MergeableSketch,
    committed_batches,
)

__all__ = [
    "KMV",
    "KMV_K",
    "KMV_HEX",
    "KMV_SPACE",
    "kmv_partial",
    "kmv_apply_batch",
    "committed_batches",
    "read_kmv_hashes",
    "merge_kmv",
    "kmv_estimate",
    "serve_kmv_estimate",
    "compact_kmv_store",
    "kmv_jaccard",
    "kmv_jaccard_stores",
]

KMV_K = 128
KMV_HEX = 15  # 60-bit hashes: exact in BIGINT on both engines
KMV_SPACE = float(1 << 60)


def kmv_partial(
    batch_df: DataFrame, key_col: str, batch_col: str | None = None
) -> DataFrame:
    """One micro-batch's bottom-k: the k smallest distinct 60-bit
    hashes — DISTINCT + orderBy(hv).limit(k), which plans as
    TakeOrderedAndProject (per-partition top-k, no global sort).

    With ``batch_col`` set (optimization r15, the batched first-build
    bootstrap), every batch's bottom-k comes out of one plan: DISTINCT
    per (batch, hv), then a per-batch rank window cut at k — identical
    per-batch hash sets (hv is distinct within a batch, so the rank has
    no ties)."""
    hv = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, KMV_HEX), 16, 10
    ).cast("long")
    if batch_col is None:
        return (
            batch_df.select(hv.alias("hv")).distinct().orderBy("hv").limit(KMV_K)
        )
    from pyspark.sql import Window

    w = Window.partitionBy(batch_col).orderBy("hv")
    return (
        batch_df.select(F.col(batch_col), hv.alias("hv"))
        .distinct()
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= KMV_K)
        .select(batch_col, "hv")
    )


def merge_kmv(hashes: DataFrame) -> DataFrame:
    """Union + re-truncate over tagged partials: DISTINCT the <= n*k
    kept hashes, keep the k smallest — grouping-invariant by the
    bottom-k invariant, so the merged state equals the single-pass
    whole-stream bottom-k exactly, and compaction is lossless (pinned
    in tests)."""
    return (
        hashes.select("hv").distinct().orderBy("hv").limit(KMV_K)
    )


KMV = MergeableSketch(kmv_partial, merge_kmv)
kmv_apply_batch = KMV.apply_batch  # (batch_df, batch_id, store_dir, key_col)
read_kmv_hashes = KMV.read
compact_kmv_store = KMV.compact


def kmv_estimate(bottom_k: DataFrame) -> DataFrame:
    """The distinct estimate off one bottom-k hash set as ONE row: (k,
    n_kept, kth, est_distinct) — est = (k-1) * SPACE / U_(k), or n_kept
    exactly when fewer than k hashes were kept. U_(k) is max(hv) of a
    full bottom-k, so no ranking window is needed."""
    state = bottom_k.agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.max("hv").cast("long").alias("mx"),
    ).select("n_kept", F.when(F.col("n_kept") == KMV_K, F.col("mx")).alias("kth"))
    est = (
        F.when(F.col("kth").isNull(), F.col("n_kept"))
        .otherwise(
            F.round(
                (KMV_K - 1) * F.lit(KMV_SPACE) / F.col("kth").cast("double")
            ).cast("long")
        )
        .cast("long")
    )
    return state.select(
        F.lit(KMV_K).cast("long").alias("k"),
        "n_kept",
        "kth",
        est.alias("est_distinct"),
    )


def serve_kmv_estimate(spark, hashes: DataFrame) -> DataFrame:
    """The merged state and distinct estimate as ONE row (``kmv_estimate``
    of ``merge_kmv``)."""
    return kmv_estimate(merge_kmv(hashes))


def kmv_jaccard(a: DataFrame, b: DataFrame) -> DataFrame:
    """Jaccard between two bottom-k hash sets: U = bottom-k of (A union
    B), estimate = |U n sketch_A n sketch_B| / |U|.

    The sketch-only membership test is EXACT for U's elements, not an
    approximation: U equals the true bottom-k of A u B (bottom-k
    invariant), and any h in U that belongs to A satisfies h <=
    kth(A u B) <= kth(A), so h is necessarily inside A's kept bottom-k
    — membership in the sketch coincides with membership in the set.
    Returns ONE row (k, n_union_sample, n_both, est_jaccard)."""
    u = merge_kmv(a.union(b))
    marked = (
        u.join(F.broadcast(a.withColumn("in_a", F.lit(1))), "hv", "left")
        .join(F.broadcast(b.withColumn("in_b", F.lit(1))), "hv", "left")
        .select(
            F.when(F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1)
            .otherwise(0)
            .alias("both")
        )
    )
    return marked.agg(
        F.lit(KMV_K).cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("n_union_sample"),
        F.sum("both").cast("long").alias("n_both"),
        F.round(
            F.sum("both").cast("double") / F.count(F.lit(1)), 6
        ).alias("est_jaccard"),
    )


def kmv_jaccard_stores(spark, store_a: str, store_b: str) -> DataFrame:
    """Streaming Jaccard between two maintained KMV stores — the 'one
    more merge away' the module docstring promises: ``kmv_jaccard`` of
    the two merged states."""
    return kmv_jaccard(
        merge_kmv(read_kmv_hashes(spark, store_a)),
        merge_kmv(read_kmv_hashes(spark, store_b)),
    )
