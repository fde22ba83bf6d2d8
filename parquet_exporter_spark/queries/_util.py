"""Shared helpers for oracle-parity queries.

Float aggregates are rounded on both the Spark and DuckDB sides: the two
engines sum partitions in different orders, so raw double aggregates differ
in the last bits and would break the driver's value-hash compare
(SURVEY.md section 5 trap list). ROUND_MONEY for large magnitudes (sums of
prices), ROUND_RATIO for small ones (averaged discounts, correlations).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ROUND_MONEY = 2
ROUND_RATIO = 6


def rmoney(c: Column) -> Column:
    return F.round(c, ROUND_MONEY)


def rratio(c: Column) -> Column:
    return F.round(c, ROUND_RATIO)


def source_version(files: list[str]) -> str:
    """The freshness key of a scratch store built from ``files``: each
    file's path, sub-second mtime and size. Data regenerated within the
    same second as the previous generation still gets a new key."""
    return "|".join(
        f"{p}:{os.path.getmtime(p):.6f}:{os.path.getsize(p)}" for p in files
    )


# ---------------------------------------------------------------------------
# Verification columns of the sketch queries (queries/aggregates.py agg_*
# and the queries/streaming.py stream_*_twin): the sketches themselves
# come from parquet_exporter_spark/streaming/*_ingest.py; these put the
# exact truth and the verdict next to what they serve.


def distinct_truth(df: DataFrame, key: str) -> DataFrame:
    """ONE row (true_distinct): the exact distinct count of ``key``."""
    return df.agg(F.countDistinct(key).cast("long").alias("true_distinct"))


def distinct_verdict(bound: float) -> list[Column]:
    """rel_error and within_bound (|est - true| <= bound * true + 1) of
    the est_distinct and true_distinct columns."""
    err = F.abs(F.col("est_distinct").cast("double") - F.col("true_distinct"))
    return [
        F.round(err / F.col("true_distinct"), 6).alias("rel_error"),
        (err <= bound * F.col("true_distinct") + 1).alias("within_bound"),
    ]


def _value_ranks(cents: DataFrame) -> DataFrame:
    """(cents, r0): each value with its 0-based rank in value order."""
    w = Window.orderBy("cents")
    return cents.select("cents", (F.row_number().over(w) - 1).cast("long").alias("r0"))


def _exact_at(served: DataFrame, ranks: DataFrame) -> DataFrame:
    """(p, exact_cents): the true value at each probe's target rank t."""
    return (
        served.select("p", F.col("t").alias("r0"))
        .join(ranks, "r0")
        .select("p", F.col("cents").alias("exact_cents"))
    )


def tdigest_rank_check(served: DataFrame, cents: DataFrame) -> DataFrame:
    """A served t-digest quantile table (``serve_tdigest_quantiles``)
    checked against the exact ranks of ``cents``: per probe the target
    rank, merged bucket, estimate, the true rank-t value, rank_err (the
    tie-aware distance from t to the served value's true rank interval,
    count< / count<= brackets), d_tail (distance to the nearer tail) and
    within_bound (rank_err <= 0.35 * d_tail + 8)."""
    ranks = _value_ranks(cents)
    counts = (
        ranks.crossJoin(F.broadcast(served.select("p", "est_cents")))
        .groupBy("p")
        .agg(
            F.sum(F.when(F.col("cents") < F.col("est_cents"), 1).otherwise(0))
            .cast("long")
            .alias("lt"),
            F.sum(F.when(F.col("cents") <= F.col("est_cents"), 1).otherwise(0))
            .cast("long")
            .alias("le"),
        )
    )
    t, n = F.col("t"), F.col("n")
    rank_err = (
        F.when(F.col("lt") > t, F.col("lt") - t)
        .when(F.col("le") - 1 < t, t - (F.col("le") - 1))
        .otherwise(F.lit(0))
        .cast("long")
    )
    d_tail = F.when(t + 1 < n - t, t + 1).otherwise(n - t).cast("long")
    return (
        served.join(_exact_at(served, ranks), "p")
        .join(counts, "p")
        .select(
            "p",
            t.alias("target_rank"),
            F.col("weight").alias("merged_weight"),
            "n_inputs",
            F.round(F.col("est_cents") / 100.0, 4).alias("est_price"),
            F.round(F.col("exact_cents") / 100.0, 4).alias("exact_price"),
            rank_err.alias("rank_err"),
            d_tail.alias("d_tail"),
            (rank_err.cast("double") <= 0.35 * d_tail + 8).alias("within_bound"),
        )
    )


def hdr_serve_check(served: DataFrame, cents: DataFrame) -> DataFrame:
    """A served HDR quantile table (``serve_hdr_quantiles``) checked
    against the exact ranks of ``cents``: per probe the hit bucket, the
    estimate, the true rank-t value, the bucket's relative width, and the
    verdicts within_bucket (the true value lies in the bucket's member
    bounds) and width_bound_ok (relative width <= 1/HDR_SUB)."""
    from parquet_exporter_spark.streaming.hdr_ingest import HDR_SUB

    width = (F.col("hi") - F.col("lo")).cast("double") / F.col("lo")
    return served.join(_exact_at(served, _value_ranks(cents)), "p").select(
        "p",
        F.col("t").alias("target_rank"),
        F.col("c").alias("bucket_count"),
        F.round(F.col("lo") / 100.0, 4).alias("bucket_lo"),
        F.round(F.col("hi") / 100.0, 4).alias("bucket_hi"),
        F.round(F.col("est_cents") / 100.0, 4).alias("est_price"),
        F.round(F.col("exact_cents") / 100.0, 4).alias("exact_price"),
        F.round(width, 6).alias("rel_bucket_width"),
        F.col("exact_cents").between(F.col("lo"), F.col("hi")).alias("within_bucket"),
        (width <= 1.0 / HDR_SUB).alias("width_bound_ok"),
    )


def hdr_merge_law(merged: DataFrame, whole: DataFrame) -> DataFrame:
    """ONE row (n_buckets, n_mismatch): the merged HDR histogram against
    the single-pass ``whole`` one, bucket by bucket through a FULL OUTER
    join, so a bucket missing on either side counts as a mismatch."""
    w = whole.select(
        "lvl",
        "sub",
        F.col("c").alias("wc"),
        F.col("lo").alias("wlo"),
        F.col("hi").alias("whi"),
    )
    return merged.join(w, ["lvl", "sub"], "full_outer").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(
            F.when(
                ~F.col("c").eqNullSafe(F.col("wc"))
                | ~F.col("lo").eqNullSafe(F.col("wlo"))
                | ~F.col("hi").eqNullSafe(F.col("whi")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_mismatch"),
    )
