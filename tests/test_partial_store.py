"""Store-protocol tests for streaming/partial_store.py: the single-file
Arrow publish, the marker-resolved read, compatibility with stores laid
out by Spark writes, and the footer-decided compaction no-op."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from parquet_exporter_spark.streaming import (
    cms_ingest,
    hdr_ingest,
    hll_ingest,
    kmv_ingest,
    tdigest_ingest,
)
from parquet_exporter_spark.streaming.partial_store import (
    commit_compaction,
    commit_partial,
    commit_partials_batched,
    committed_batches,
    compacted_upto,
    read_partials,
)

# sketch -> (its partial over column "v", its compaction)
SKETCHES = {
    "tdigest": (
        lambda d, b=None: tdigest_ingest.tdigest_partial(d, "v", batch_col=b),
        tdigest_ingest.compact_tdigest_store,
    ),
    "hdr": (
        lambda d, b=None: hdr_ingest.hdr_partial(d, "v", batch_col=b),
        hdr_ingest.compact_hdr_store,
    ),
    "cms": (
        lambda d, b=None: cms_ingest.cms_partial(d, "v", batch_col=b),
        cms_ingest.compact_cms_store,
    ),
    "hll": (
        lambda d, b=None: hll_ingest.hll_partial(d, "v", batch_col=b),
        hll_ingest.compact_hll_store,
    ),
    "kmv": (
        lambda d, b=None: kmv_ingest.kmv_partial(d, "v", batch_col=b),
        kmv_ingest.compact_kmv_store,
    ),
}


def _batches(spark, n):
    df = spark.createDataFrame(
        [(7 * i % 113 + 1, i % n) for i in range(60 * n)], "v long, batch long"
    )
    return df, [df.filter(F.col("batch") == b).select("v") for b in range(n)]


def _union_read(spark, store):
    """The per-batch read the single scan replaced: one
    schema-inferring read per live partial, tagged with its id, joined
    by unionByName."""
    upto = compacted_upto(store)
    parts = []
    if upto is not None:
        files = sorted(glob.glob(os.path.join(store, f"compact-{upto:08d}-*.parquet")))
        parts.append(spark.read.parquet(*files).withColumn("batch_id", F.lit(upto).cast("long")))
    for b in committed_batches(store):
        if upto is None or b > upto:
            files = sorted(glob.glob(os.path.join(store, f"cent-{b:08d}-*.parquet")))
            parts.append(spark.read.parquet(*files).withColumn("batch_id", F.lit(b).cast("long")))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _spark_commit(df, batch_id, store, nfiles):
    """Lay out a committed batch the way a Spark write publishes it:
    ``nfiles`` part files renamed to cent-<B>-<i>, then the marker."""
    staging = os.path.join(store, "_spark_write")
    df.repartition(nfiles).write.mode("overwrite").parquet(staging)
    parts = sorted(glob.glob(os.path.join(staging, "part-*.parquet")))
    assert len(parts) == nfiles
    for i, part in enumerate(parts):
        os.replace(part, os.path.join(store, f"cent-{batch_id:08d}-{i:04d}.parquet"))
    shutil.rmtree(staging)
    with open(os.path.join(store, f"_batch-{batch_id}.committed"), "w") as f:
        f.write(str(batch_id))


def test_commit_publishes_one_file(spark, tmp_path):
    """A commit and a compaction each leave exactly one data file and a
    marker: no staging directory, no _SUCCESS, no temp file."""
    build, _ = SKETCHES["hdr"]
    _, parts = _batches(spark, 2)
    store = str(tmp_path / "store")
    assert commit_partial(build(parts[0]), 0, store)
    assert sorted(os.listdir(store)) == ["_batch-0.committed", "cent-00000000-0000.parquet"]
    assert commit_partial(build(parts[1]), 1, store)
    assert commit_compaction(hdr_ingest.merge_hdr(read_partials(spark, store)), 1, store)
    assert sorted(os.listdir(store)) == [
        "_batch-0.committed",
        "_batch-1.committed",
        "_compact-1.committed",
        "compact-00000001-0000.parquet",
    ]


def test_orphans_and_tmp_files_are_never_read(spark, tmp_path):
    """A data file without a marker and a leftover *.tmp (a crash before
    the marker or mid-publish) are invisible to the reader."""
    build, _ = SKETCHES["cms"]
    _, parts = _batches(spark, 2)
    store = str(tmp_path / "store")
    for b in range(2):
        assert commit_partial(build(parts[b]), b, store)
    before = _rows(read_partials(spark, store))
    src = os.path.join(store, "cent-00000000-0000.parquet")
    shutil.copy(src, os.path.join(store, "cent-00000007-0000.parquet"))
    shutil.copy(src, os.path.join(store, "cent-00000001-0001.parquet.tmp"))
    shutil.copy(src, os.path.join(store, "compact-00000001-0000.parquet.tmp"))
    with open(os.path.join(store, "_compact-1.committed.tmp"), "w") as f:
        f.write("1")
    after = read_partials(spark, store)
    assert _rows(after) == before
    assert {r.batch_id for r in after.select("batch_id").distinct().collect()} == {0, 1}


@pytest.mark.parametrize("sketch", sorted(SKETCHES))
def test_mixed_store_reads_like_per_batch_union(spark, tmp_path, sketch):
    """A store mixing a compact file, Spark-written batches (the
    one-job bootstrap, and a two-file partial) and Arrow-committed
    batches reads row-identically, batch_id and schema included, to the
    per-batch unionByName read."""
    build, compact = SKETCHES[sketch]
    df, parts = _batches(spark, 6)
    store = str(tmp_path / "store")
    assert commit_partials_batched(build(df, "batch"), [0, 1, 3], store) == 3
    assert commit_partial(build(parts[2]), 2, store)
    assert compact(spark, store, 1)  # folds the bootstrap's batches 0 and 1
    _spark_commit(build(parts[4]), 4, store, nfiles=2)
    assert commit_partial(build(parts[5]), 5, store)

    got, want = read_partials(spark, store), _union_read(spark, store)
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want.schema
    ]
    assert _rows(got) == _rows(want)
    assert {r.batch_id for r in got.select("batch_id").distinct().collect()} == {1, 2, 3, 4, 5}


@pytest.mark.parametrize("sketch", sorted(SKETCHES))
def test_empty_batches_commit_and_never_compact(spark, tmp_path, sketch):
    """An all-empty micro-batch commits (one zero-row file plus its
    marker); compaction over nothing but empty partials is a no-op."""
    build, compact = SKETCHES[sketch]
    empty = spark.createDataFrame([], "v long")
    store = str(tmp_path / "store")
    for b in range(2):
        assert commit_partial(build(empty), b, store)
    assert committed_batches(store) == [0, 1]
    assert read_partials(spark, store).count() == 0
    assert not compact(spark, store, 1)
    assert compacted_upto(store) is None


def test_read_partials_launches_no_spark_job(spark, tmp_path):
    """Building the read over a compacted store with three live batches
    runs no job: no schema inference, no listing job."""
    build, compact = SKETCHES["hll"]
    _, parts = _batches(spark, 5)
    store = str(tmp_path / "store")
    for b in range(5):
        assert commit_partial(build(parts[b]), b, store)
    assert compact(spark, store, 1)

    sc = spark.sparkContext
    group = f"read_partials_{os.getpid()}"
    sc.setJobGroup(group, "partial store job-count pin")
    try:
        df = read_partials(spark, store)
        jobs_to_build = sc.statusTracker().getJobIdsForGroup(group)
        df.count()  # control: the tracker does see this group's jobs
        jobs_to_count = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs_to_build == []
    assert jobs_to_count
