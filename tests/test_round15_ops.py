"""Round-15 optimization regression tests.

Pins the equality laws behind the round's internal restructures:

- batched first-build bootstrap (streaming/partial_store.py
  commit_partials_batched + the batch_col forms of every *_partial):
  the one-job bootstrap must publish byte-equal partial ROWS and the
  same markers as the per-batch foreachBatch replica it replaces.
- the PQ expr-string literal trees (operators/pq.py _dists) must
  round-trip doubles exactly.
"""

from __future__ import annotations

import glob
import hashlib
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from parquet_exporter_spark.streaming.partial_store import (
    commit_partial,
    commit_partials_batched,
    committed_batches,
    read_partials,
)


def _rows(spark, store):
    return sorted(map(tuple, read_partials(spark, store).collect()))


@pytest.mark.parametrize("sketch", ["tdigest", "hdr", "cms", "hll", "kmv"])
def test_batched_bootstrap_equals_per_batch_store(spark, tmp_path, sketch):
    """For every sketch maintainer: commit_partials_batched over the
    batch-tagged input publishes the same live rows and markers as the
    per-batch commit loop (the foreachBatch replica)."""
    from parquet_exporter_spark.streaming import (
        cms_ingest,
        hdr_ingest,
        hll_ingest,
        kmv_ingest,
        tdigest_ingest,
    )

    vals = [(7 * i % 113 + 1, i % 3) for i in range(200)]
    df = spark.createDataFrame(vals, "v long, batch long")
    build = {
        "tdigest": lambda d, b: tdigest_ingest.tdigest_partial(d, "v", batch_col=b),
        "hdr": lambda d, b: hdr_ingest.hdr_partial(d, "v", batch_col=b),
        "cms": lambda d, b: cms_ingest.cms_partial(d, "v", batch_col=b),
        "hll": lambda d, b: hll_ingest.hll_partial(d, "v", batch_col=b),
        "kmv": lambda d, b: kmv_ingest.kmv_partial(d, "v", batch_col=b),
    }[sketch]

    loop_store = str(tmp_path / "loop")
    for b in range(3):
        commit_partial(
            build(df.filter(F.col("batch") == b).select("v"), None),
            b,
            loop_store,
        )
    boot_store = str(tmp_path / "boot")
    n = commit_partials_batched(build(df, "batch"), [0, 1, 2], boot_store)
    assert n == 3
    assert committed_batches(boot_store) == [0, 1, 2]
    assert _rows(spark, boot_store) == _rows(spark, loop_store)


def test_batched_bootstrap_skips_committed_batches(spark, tmp_path):
    """Exactly-once posture: batches with durable markers are left
    untouched (files and marker), only the missing ones are published,
    and a bootstrap over a fully committed store runs no Spark job."""
    from parquet_exporter_spark.streaming.hdr_ingest import HDR, hdr_partial

    df = spark.createDataFrame(
        [(i % 50 + 1, i % 3) for i in range(120)], "v long, batch long"
    )
    store = str(tmp_path / "store")
    commit_partial(hdr_partial(df.filter("batch = 1").select("v"), "v"), 1, store)
    before = sorted(glob.glob(os.path.join(store, "cent-00000001-*.parquet")))
    stamps = [os.path.getmtime(p) for p in before]

    n = commit_partials_batched(hdr_partial(df, "v", batch_col="batch"), [0, 1, 2], store)
    assert n == 2
    assert committed_batches(store) == [0, 1, 2]
    after = sorted(glob.glob(os.path.join(store, "cent-00000001-*.parquet")))
    assert after == before
    assert [os.path.getmtime(p) for p in after] == stamps

    sc = spark.sparkContext
    group = f"bootstrap_{os.getpid()}"
    sc.setJobGroup(group, "bootstrap job-count pin")
    try:
        assert HDR.bootstrap(df, "v", 3, store) == 0
        jobs_to_skip = sc.statusTracker().getJobIdsForGroup(group)
        df.count()  # control: the tracker does see this group's jobs
        jobs_to_count = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs_to_skip == []
    assert jobs_to_count
    # the merged store equals a full per-batch build
    loop_store = str(tmp_path / "loop")
    for b in range(3):
        commit_partial(
            hdr_partial(df.filter(F.col("batch") == b).select("v"), "v"),
            b,
            loop_store,
        )
    assert _rows(spark, store) == _rows(spark, loop_store)


class _Stop(Exception):
    pass


@pytest.mark.parametrize(
    "twin, table, tag",
    [
        ("stream_tdigest_twin", "lineitem", "stdigest"),
        ("stream_hll_twin", "lineitem", "shll"),
        ("stream_hdr_twin", "lineitem", "shdr"),
        ("stream_cms_twin", "orders", "scms"),
        ("stream_kmv_twin", "lineitem", "skmv"),
    ],
)
def test_twin_scratch_store_path_is_stable(sf_dir, monkeypatch, twin, table, tag):
    """Each sketch twin keeps the scratch store path it has always used
    (tag + sha256 of the source files' path:mtime:size), so stores
    already on disk are reused, not rebuilt."""
    from parquet_exporter_spark.queries import streaming

    src = os.path.join(sf_dir, f"{table}.parquet")
    files = sorted(glob.glob(src)) or [src]
    version = "|".join(
        f"{p}:{os.path.getmtime(p):.6f}:{os.path.getsize(p)}" for p in files
    )
    digest = hashlib.sha256((tag + ":" + version).encode()).hexdigest()[:12]
    want = os.path.join(tempfile.gettempdir(), f"pes_{tag}_{digest}")

    seen = []
    scratch = streaming._stream_scratch

    def spy(*args):
        seen.append(scratch(*args))
        raise _Stop  # stop before the twin touches Spark

    monkeypatch.setattr(streaming, "_stream_scratch", spy)
    with pytest.raises(_Stop):
        getattr(streaming, twin)(None, sf_dir)
    assert seen == [want]


def test_pq_expr_literals_round_trip_exactly(spark):
    """_dists builds the codebook as a SQL string; the doubles must
    survive the string trip bit-for-bit (repr + correctly-rounded
    parse), including awkward values."""
    from parquet_exporter_spark.operators.pq import _dists

    vals = [
        0.1,
        1.0 / 3.0,
        2.0**-52,
        1e300,
        -1.2345678901234567e-8,
        123456789.123456789,
        -0.0,
        5e-324,
    ]
    books = [vals[:4], vals[4:]]
    df = spark.range(1).select(
        F.expr(
            "array(" + ", ".join(repr(v) + "D" for v in vals[:4]) + ")"
        ).alias("s0")
    )
    # reference: the identical fold built through the Column API (the
    # pre-r15 construction) — the string trip must be bit-equal to it
    books_lit = F.array(*[F.array(*[F.lit(v) for v in c]) for c in books])
    ref = F.transform(
        books_lit,
        lambda c: F.round(
            F.aggregate(
                F.zip_with(F.col("s0"), c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            9,
        ),
    )
    row = df.select(_dists("s0", books).alias("d"), ref.alias("r")).first()
    assert list(row["d"]) == list(row["r"])
    # distance to the first centroid (identical values) must be exactly 0
    assert row["d"][0] == 0.0


def test_non_finite_double_literals_build_and_evaluate(spark):
    """NaN and +/-Inf have no decimal spelling: a PQ codebook and an LSH
    plane holding them must still build a plan and evaluate (the literal
    is a string cast), and lsh_bucket refuses a Column for ``vec``."""
    import math

    from parquet_exporter_spark.functions.similarity import lsh_bucket
    from parquet_exporter_spark.operators.pq import _dists

    bad = [float("nan"), float("inf"), float("-inf")]
    df = spark.range(1).select(F.array(*[F.lit(1.0)] * 3).alias("s0"))
    d = df.select(_dists("s0", [bad, [1.0, 1.0, 1.0]]).alias("d")).first()["d"]
    assert math.isnan(d[0]) and d[1] == 0.0
    planes = [bad, [1.0, -1.0, 0.0]]
    # the NaN dot sets bit 0 (Spark orders NaN above every number, so
    # NaN >= 0 holds); the second dot is exactly 0, which sets bit 1
    assert df.select(lsh_bucket("s0", planes).alias("b")).first()["b"] == 3
    with pytest.raises(TypeError, match="vec"):
        lsh_bucket(F.col("s0"), planes)
