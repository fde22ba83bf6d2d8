"""Streaming t-digest maintenance: a ``foreachBatch`` handler that
commits one immutable PARTIAL digest per micro-batch and serves global
quantiles off the merged centroid store. This module owns the
engine's t-digest: the batch queries in queries/aggregates.py
(agg_tdigest_*) build, merge and serve through it, taking their cells
from ``tdigest_cell`` where they also carry per-row exact ranks.

Per micro-batch:

- ``tdigest_partial`` builds the batch's dyadic t-digest (rank ->
  ``tdigest_cell``: tail distance -> bit-length level -> 4-way
  sub-split; exact integer arithmetic throughout) — O(log batch)
  centroid rows.
- ``tdigest_apply_batch`` commits the centroids APPEND-ONLY through
  ``partial_store.MergeableSketch`` (the ``TDIGEST`` spec below).
- ``serve_tdigest_quantiles`` merges ALL committed partials without
  touching data rows — the ``merge_tdigest`` re-bin: centroids sorted
  by value bounds, cumulative weight assigns each centroid's midpoint
  rank to a merged dyadic cell, probes interpolate inside the containing
  bucket's exact cents bounds.

Equality contract (pinned in tests/test_streaming.py and oracled by the
registered ``stream_tdigest_twin``): serving off the store after k
committed batches equals the BATCH merge of the same k partials —
bit-for-bit, because build, merge, and the interpolation inputs are all
exact integers; the one IEEE divide is deterministic on both engines.

Scale shape: state is O(k log n) centroid rows (k = committed batches).
``compact_tdigest_store`` folds all live partials up to a bound into
one partial through the same re-bin (``_refold``). The fold is
ACCURACY-preserving, not content-identical: re-binning a re-bin can
place mass in different dyadic cells than one flat merge would, so the
pinned contract is total-weight and value-bound conservation plus the
t-digest rank-error bound on every served quantile
(tests/test_streaming.py), never bucket-level equality. Serving never re-reads data either way.

Wire-up: ``parsed.writeStream.foreachBatch(lambda b, i:
tdigest_apply_batch(b, i, store_dir)).option("checkpointLocation", ...)``.

Reference parity note: the reference engine (OpenBeta/parquet-exporter)
has no streaming or sketch surface (export.py is a one-shot batch
export); this extends the engine per SURVEY.md section 2.2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from parquet_exporter_spark.streaming.partial_store import (
    MergeableSketch,
    committed_batches,
)

__all__ = [
    "TDIGEST",
    "TD_SUB",
    "tdigest_cell",
    "tdigest_partial",
    "tdigest_apply_batch",
    "committed_batches",
    "read_tdigest_centroids",
    "merge_tdigest",
    "serve_tdigest_quantiles",
    "compact_tdigest_store",
]

# dyadic sub-buckets per level (rank error <= d/4 at tail distance d)
TD_SUB = 4


def tdigest_cell(r0: Column, n: Column) -> tuple[Column, Column, Column]:
    """The dyadic cell ``(side, lvl, sub)`` of 0-based rank ``r0`` among
    ``n`` values: the nearer tail (side), the rank's distance dd to it,
    dd's bit-length level and a TD_SUB-way split of that level. Exact
    integer arithmetic throughout (bit length via base-2 rendering, 2^lvl
    via shift), so the cell hash-matches the oracle SQL. Every t-digest
    build and re-bin in the engine takes its cell from here."""
    lower = 2 * r0 < n
    dd = F.when(lower, r0 + 1).otherwise(n - r0)
    lvl = (F.length(F.conv(dd.cast("string"), 10, 2)) - 1).cast("long")
    p2 = F.call_function("shiftleft", F.lit(1).cast("long"), lvl.cast("int"))
    sub = F.floor((dd - p2) * TD_SUB / p2).cast("long")
    return F.when(lower, 0).otherwise(1), lvl, sub


def tdigest_partial(
    batch_df: DataFrame, value_col: str = "cents", batch_col: str | None = None
) -> DataFrame:
    """One micro-batch's t-digest: (side, lvl, sub, w, lo, hi, sc)
    centroid rows over the integer ``value_col``. The batch-local rank
    is a single-partition window — a micro-batch is bounded by the
    trigger, and the output is O(log batch) rows.

    With ``batch_col`` set (optimization r15, the batched first-build
    bootstrap), ``batch_df`` carries that column and EVERY batch's
    partial is built in one plan: the rank/count windows partition by
    the batch key (identical per-batch ranks — tied cents swap freely
    between ranks, but a bucket's w/lo/hi/sc aggregates see the same
    cents multiset either way) and the output keeps ``batch_col`` for
    ``commit_partials_batched`` to split on."""
    from pyspark.sql import Window

    keep = [F.col(batch_col)] if batch_col else []
    wo = (
        Window.partitionBy(batch_col).orderBy("cents")
        if batch_col
        else Window.orderBy("cents")
    )
    wc = Window.partitionBy(batch_col) if batch_col else Window.partitionBy()
    ranked = batch_df.select(
        *keep, F.col(value_col).cast("long").alias("cents")
    ).select(
        *keep,
        "cents",
        (F.row_number().over(wo) - 1).cast("long").alias("r0"),
        F.count(F.lit(1)).over(wc).cast("long").alias("nb"),
    )
    side, lvl, sub = tdigest_cell(F.col("r0"), F.col("nb"))
    bucketed = ranked.select(
        *keep, "cents", side.alias("side"), lvl.alias("lvl"), sub.alias("sub")
    )
    keys = ([batch_col] if batch_col else []) + ["side", "lvl", "sub"]
    return bucketed.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("w"),
        F.min("cents").cast("long").alias("lo"),
        F.max("cents").cast("long").alias("hi"),
        F.sum("cents").cast("long").alias("sc"),
    )


def merge_tdigest(cent: DataFrame) -> DataFrame:
    """The t-digest merge: a re-bin over a tagged centroid table —
    sort by (lo, hi, batch_id, side, lvl, sub), cumulative weight,
    midpoint rank -> merged dyadic cell. Output one row per merged
    bucket with exact cents bounds and the disjoint cum-weight span
    [cw_start, cw_end] that tiles [0, n-1]."""
    from pyspark.sql import Window

    wo = Window.orderBy("lo", "hi", "batch_id", "side", "lvl", "sub")
    ordered = cent.withColumn(
        "cw",
        F.coalesce(
            F.sum("w").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long"),
    ).withColumn(
        "n",
        F.sum("w")
        .over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("long"),
    )
    rekeyed = ordered.withColumn("mid", F.col("cw") + F.expr("(w - 1) div 2"))
    side2, lvl2, sub2 = tdigest_cell(F.col("mid"), F.col("n"))
    mbucket = rekeyed.select(
        "*", side2.alias("side2"), lvl2.alias("lvl2"), sub2.alias("sub2")
    )
    return mbucket.groupBy("side2", "lvl2", "sub2").agg(
        F.sum("w").cast("long").alias("weight"),
        F.min("lo").cast("long").alias("mlo"),
        F.max("hi").cast("long").alias("mhi"),
        F.sum("sc").cast("long").alias("msc"),
        F.count(F.lit(1)).cast("long").alias("n_inputs"),
        F.min("cw").cast("long").alias("cw_start"),
        (F.max(F.col("cw") + F.col("w")) - 1).cast("long").alias("cw_end"),
        F.first("n").cast("long").alias("n"),
    )


def _refold(cent: DataFrame) -> DataFrame:
    """The compaction fold: the merge re-bin renamed back to the
    partial's columns. Accuracy-preserving (see module docstring), so a
    compacted store serves the same n and value bounds and every
    quantile stays inside the t-digest rank-error bound."""
    return merge_tdigest(cent).select(
        F.col("side2").alias("side"),
        F.col("lvl2").alias("lvl"),
        F.col("sub2").alias("sub"),
        F.col("weight").alias("w"),
        F.col("mlo").alias("lo"),
        F.col("mhi").alias("hi"),
        F.col("msc").alias("sc"),
    )


TDIGEST = MergeableSketch(tdigest_partial, _refold, "cents")
tdigest_apply_batch = TDIGEST.apply_batch  # (batch_df, batch_id, store_dir, value_col="cents")
read_tdigest_centroids = TDIGEST.read
compact_tdigest_store = TDIGEST.compact


def serve_tdigest_quantiles(
    spark, cent: DataFrame, probes: list[float]
) -> DataFrame:
    """Quantile serving off the merged sketch: each probe's target rank
    t = floor(p * (n-1)) joins exactly one merged bucket (spans tile
    [0, n-1]) and interpolates inside its exact cents bounds. Returns
    (p, t, weight, n_inputs, n, est_cents)."""
    mcent = merge_tdigest(cent)
    from parquet_exporter_spark.tables import tiny_df

    # single-slice literal probe relation (tables.tiny_df)
    pdf = tiny_df(spark, [(p,) for p in probes], "p double")
    targets = pdf.crossJoin(F.broadcast(mcent.select("n").limit(1))).select(
        "p", F.floor(F.col("p") * (F.col("n") - 1)).cast("long").alias("t")
    )
    return targets.join(
        F.broadcast(mcent),
        (F.col("t") >= F.col("cw_start")) & (F.col("t") <= F.col("cw_end")),
    ).select(
        "p",
        "t",
        "weight",
        "n_inputs",
        "n",
        (
            F.col("mlo")
            + F.when(
                F.col("weight") > 1,
                (F.col("mhi") - F.col("mlo")).cast("double")
                * (
                    (F.col("t") - F.col("cw_start")).cast("double")
                    / (F.col("weight") - 1).cast("double")
                ),
            ).otherwise(F.lit(0.0))
        ).alias("est_cents"),
    )
