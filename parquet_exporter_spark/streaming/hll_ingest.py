"""Streaming HyperLogLog maintenance: the foreachBatch companion to
``streaming/tdigest_ingest.py`` for the OTHER standing production
sketch — a distinct-count monitor that commits one immutable register
partial per micro-batch and serves the merged global estimate.

Unlike the t-digest fold, the HLL merge is EXACTLY associative:
registers combine by register-wise max, and max is associative and
idempotent, so any grouping of partials — including compaction folds —
yields the identical merged register table, which in turn equals the
registers a single pass over the whole stream would build. That law is
hash-checked by the registered ``stream_hll_twin`` (register mismatch
count vs the whole-corpus sketch is provably 0) and re-pinned across a
real readStream trigger boundary in tests/test_streaming.py.

Construction (``hll_partial``, ``serve_hll_estimate``): a 60-bit
md5-prefix hash splits into a 9-bit register index and 51-bit
remainder whose leading-zero count is rho (bit-length via base-2
rendering — exact integers, no libm in any decision); the estimator
keeps the indicator sum exact by integer scaling (s_scaled = sum
2^(52-rho) + V*2^52) and applies the published linear-counting
branch. This module owns the engine's portable HLL: the batch queries
in queries/aggregates.py (agg_hll_portable, agg_hll_union) build,
merge and estimate through it.

Store protocol: ``partial_store.MergeableSketch`` (the ``HLL`` spec
below: partial ``hll_partial``, fold ``merge_hll``). Per-batch state is
<= m = 512 register rows; the store holds O(k * 512) rows over k
batches and compacts to 512.

Wire-up: ``parsed.writeStream.foreachBatch(lambda b, i:
hll_apply_batch(b, i, store_dir, "user_id")).option(
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
    "HLL",
    "HLL_REM",
    "HLL_M",
    "hll_partial",
    "hll_apply_batch",
    "committed_batches",
    "read_hll_registers",
    "merge_hll",
    "serve_hll_estimate",
    "compact_hll_store",
]

# 60-bit hash = 9-bit register index + 51-bit remainder; rho in [1, 52].
HLL_HEX = 15  # md5 hex prefix chars -> 60-bit BIGINT-exact hash
HLL_REM = 51  # low-order hash bits that feed rho
HLL_M = 512  # registers: std error 1.04/sqrt(512) ~ 4.6%
HLL_RMAX = HLL_REM + 1  # rho of an all-zero remainder
# alpha_m * m^2 * 2^RMAX, folded to ONE literal in Python so each engine
# performs exactly one IEEE division by the exact integer register sum.
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
HLL_NUM = HLL_ALPHA * HLL_M * HLL_M * float(1 << HLL_RMAX)
HLL_LC_CUT = 2.5 * HLL_M  # below this raw estimate, linear counting wins


def hll_partial(
    batch_df: DataFrame, key_col: str, batch_col: str | None = None
) -> DataFrame:
    """One micro-batch's register partial: (bucket, r) rows, <= m of
    them — ONE map-side-combinable max aggregate over the batch. With
    ``batch_col`` set (optimization r15, the batched first-build
    bootstrap), every batch's registers come out of one aggregate keyed
    additionally by the batch — per-batch rows identical (register-wise
    max per (batch, bucket))."""
    keep = [F.col(batch_col)] if batch_col else []
    h = batch_df.select(
        *keep,
        F.conv(
            F.substring(F.md5(F.col(key_col).cast("string")), 1, HLL_HEX),
            16,
            10,
        )
        .cast("long")
        .alias("hv"),
    )
    split = h.select(
        *keep,
        F.expr(f"hv div {1 << HLL_REM}").alias("bucket"),
        (F.col("hv") % (1 << HLL_REM)).alias("w"),
    )
    rho = split.select(
        *keep,
        "bucket",
        F.when(F.col("w") == 0, F.lit(HLL_RMAX))
        .otherwise(
            HLL_REM + 1 - F.length(F.conv(F.col("w").cast("string"), 10, 2))
        )
        .cast("long")
        .alias("rho"),
    )
    keys = ([batch_col] if batch_col else []) + ["bucket"]
    return rho.groupBy(*keys).agg(F.max("rho").cast("long").alias("r"))


def merge_hll(regs: DataFrame) -> DataFrame:
    """Register-wise max over tagged partials — the exactly-associative
    HLL merge. Output (bucket, r), <= m rows. Because max is associative
    and idempotent, a compacted store serves the IDENTICAL registers
    (and therefore the identical estimate) as the uncompacted one —
    pinned in tests."""
    return regs.groupBy("bucket").agg(F.max("r").cast("long").alias("r"))


HLL = MergeableSketch(hll_partial, merge_hll)
hll_apply_batch = HLL.apply_batch  # (batch_df, batch_id, store_dir, key_col)
read_hll_registers = HLL.read
compact_hll_store = HLL.compact


def serve_hll_estimate(spark, regs: DataFrame) -> DataFrame:
    """The merged global state and estimate as ONE row: (m, n_nonempty,
    v_empty, s_scaled, est_distinct) — the exact-integer estimator (one
    IEEE divide of exact operands; linear-counting branch below the
    published cutoff)."""
    merged = merge_hll(regs)
    state = merged.agg(
        F.count(F.lit(1)).cast("long").alias("n_nonempty"),
        (F.lit(HLL_M) - F.count(F.lit(1))).cast("long").alias("v_empty"),
        (
            F.sum(F.expr(f"shiftleft(1L, CAST({HLL_RMAX} - r AS INT))"))
            + (F.lit(HLL_M) - F.count(F.lit(1))) * F.lit(1 << HLL_RMAX)
        )
        .cast("long")
        .alias("s_scaled"),
    )
    raw = F.lit(HLL_NUM) / F.col("s_scaled").cast("double")
    est = (
        F.when(
            (raw <= F.lit(HLL_LC_CUT)) & (F.col("v_empty") > 0),
            F.round(
                F.lit(float(HLL_M))
                * F.log(F.lit(float(HLL_M)) / F.col("v_empty").cast("double"))
            ),
        )
        .otherwise(F.round(raw))
        .cast("long")
    )
    return state.select(
        F.lit(HLL_M).cast("long").alias("m"),
        "n_nonempty",
        "v_empty",
        "s_scaled",
        est.alias("est_distinct"),
    )
