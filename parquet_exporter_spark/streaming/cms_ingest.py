"""Streaming count-min-sketch maintenance: the heavy-hitter /
frequency-monitor member of the foreachBatch sketch family (t-digest:
rank quantiles; HLL: distinct counts; HDR: relative-error quantiles;
this: per-key frequency estimates).

CMS cells are plain counters and counting is associative, so the merge
is grouping-invariant like HDR's: partials combine by counter ADDITION
and any fold order — including compaction — yields the identical
(depth x width) table, which equals the single-pass whole-stream
sketch cell for cell. The registered ``stream_cms_twin`` hash-checks
that identity (FULL OUTER mismatch count provably 0) and serves point
estimates for a literal probe-key set with the one-sided CMS guarantee
emitted as data: est >= true count ALWAYS (counters only ever add),
with the measured overcount alongside.

Hash family (``cms_cells``): a 31-bit md5-prefix base hash fed through
d=4 pairwise-independent (a*h + b) mod p mod w maps with LCG-derived
literal coefficients — identical in both engines, no engine-private
binary. This module owns the engine's count-min sketch: the batch
queries in queries/aggregates.py (agg_count_min_portable,
agg_cms_merge) and the ``stream_cms_twin`` oracle take their cells,
counters and parameters from it.

Store protocol: ``partial_store.MergeableSketch`` (the ``CMS`` spec
below: partial ``cms_partial``, fold ``merge_cms``). Per-batch state is
<= d*w = 256 counter rows.

Wire-up: ``parsed.writeStream.foreachBatch(lambda b, i:
cms_apply_batch(b, i, store_dir, "user_id")).option(
"checkpointLocation", ...)``.

Reference parity note: the reference engine (OpenBeta/parquet-exporter)
has no streaming or sketch surface (export.py is a one-shot batch
export); this extends the engine per SURVEY.md section 2.2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parquet_exporter_spark.functions import dedup as _D
from parquet_exporter_spark.streaming.partial_store import (
    MergeableSketch,
    committed_batches,
)

__all__ = [
    "CMS",
    "CMS_D",
    "CMS_W",
    "cms_cells",
    "cms_partial",
    "cms_apply_batch",
    "committed_batches",
    "read_cms_counters",
    "merge_cms",
    "serve_cms_estimates",
    "compact_cms_store",
]

CMS_D = 4  # depth (hash functions)
CMS_W = 64  # width (buckets per depth)


def cms_cells(
    df: DataFrame, key_col: str, batch_col: str | None = None
) -> DataFrame:
    """The (depth, bucket) cell of each row's key at every depth, with
    ``batch_col`` kept alongside when set."""
    coeffs = _D.hash_coefficients(CMS_D)
    keep = [F.col(batch_col)] if batch_col else []
    h = df.select(
        *keep, _D.base_hash_31(F.col(key_col).cast("string")).alias("h")
    )
    return h.select(
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("depth"),
                        (
                            (F.lit(a) * F.col("h") + F.lit(b))
                            % _D.MERSENNE_31
                            % CMS_W
                        ).alias("bucket"),
                    )
                    for i, (a, b) in enumerate(coeffs)
                ]
            )
        ).alias("db"),
    ).select(
        *keep,
        F.col("db.depth").alias("depth"),
        F.col("db.bucket").alias("bucket"),
    )


def cms_partial(
    batch_df: DataFrame, key_col: str, batch_col: str | None = None
) -> DataFrame:
    """One micro-batch's counter partial: (depth, bucket, c) rows,
    <= d*w of them — ONE map-side-combinable aggregate. With
    ``batch_col`` set (optimization r15, the batched first-build
    bootstrap), every batch's counters come out of one aggregate keyed
    additionally by the batch — per-batch rows identical (pure counting
    per (batch, cell))."""
    keys = ([batch_col] if batch_col else []) + ["depth", "bucket"]
    return cms_cells(batch_df, key_col, batch_col).groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )


def merge_cms(counters: DataFrame) -> DataFrame:
    """Counter addition over tagged partials — grouping-invariant, so
    the merge equals the single-pass build cell for cell, and compaction
    is lossless (pinned in tests). Output (depth, bucket, c)."""
    return counters.groupBy("depth", "bucket").agg(
        F.sum("c").cast("long").alias("c")
    )


CMS = MergeableSketch(cms_partial, merge_cms)
cms_apply_batch = CMS.apply_batch  # (batch_df, batch_id, store_dir, key_col)
read_cms_counters = CMS.read
compact_cms_store = CMS.compact


def serve_cms_estimates(spark, counters: DataFrame, probe_keys: list) -> DataFrame:
    """Point-frequency estimates for literal probe keys off the merged
    sketch: est(key) = min over depths of the counter at (depth,
    bucket_d(key)) — the standard CMS read, one broadcast join of
    d rows per probe against the <= d*w counter table. Returns
    (key, est)."""
    merged = merge_cms(counters)
    from parquet_exporter_spark.tables import tiny_df

    # single-slice literal probe relation (tables.tiny_df): plain
    # createDataFrame spreads a handful of rows over defaultParallelism
    # near-empty tasks per downstream operator
    probes = tiny_df(spark, [(str(k),) for k in probe_keys], "key string")
    # the probe's (depth, bucket) cells, keeping the key alongside
    pb = cms_cells(probes, "key", batch_col="key")
    return (
        pb.join(merged, ["depth", "bucket"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("est"))
    )
