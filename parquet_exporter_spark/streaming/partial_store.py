"""Append-only partial-sketch store shared by the five streaming sketch
maintainers (``streaming/{tdigest,hll,cms,kmv,hdr}_ingest.py``): one
immutable parquet file per committed micro-batch plus a durable marker.

A partial's size is set by its sketch, not by its batch (<= 512 HLL
registers, 4x64 CMS cells, k KMV hashes, O(log n) t-digest centroids),
so a commit collects it as ONE Arrow table and publishes the single file
``cent-<B:08d>-0000.parquet``: write ``<file>.tmp``, fsync it, rename it
onto the final name, fsync the directory, then write the marker the same
way. A crash at any step leaves either a complete committed partial or
an orphan (``*.tmp``, or a file without a marker) that no reader
resolves; a replay of a committed batch is a marker-checked no-op, and
a replay after a crash rewrites the orphan with identical content.

A COMPACTION marker (``_compact-<B>.committed``) supersedes all batch
partials with id <= B: readers take the newest compact file plus every
batch partial above its bound. Superseded files are deleted only after
the compact marker is durable. Whether anything is left to fold is read
from the live files' footer row counts.

Reads scan every live file in ONE relation whose schema is pinned from
the first file's footer (no schema-inference job), with ``batch_id``
taken from each file's name — including the possibly multi-file
partials ``commit_partials_batched`` (the one-job Spark bootstrap) writes.

``MergeableSketch`` is the one maintainer the five sketches share. A
sketch differs from another only in how a partial is built
(``partial``) and how tagged partials fold back into partial rows
(``fold``); its serve step stays in its own module. The spec writes the
store protocol around them once: ``apply_batch`` commits one batch's
partial, ``read`` returns the live partials, ``compact`` folds the live
partials up to a bound into the compacted base, and ``bootstrap``
commits every missing batch of a ``batch``-tagged input in one job.
"""

from __future__ import annotations

import glob
import os
import shutil
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# batch id (or compaction bound) of a store file, from its name
_FILE_BATCH_ID = r"^(?:cent|compact)-(\d+)-"
# the batch id column of a bootstrap's tagged input
BATCH_COL = "batch"


@dataclass(frozen=True)
class MergeableSketch:
    """A sketch maintained on a partial store. ``partial(df, col,
    batch_col=None)`` builds one batch's partial rows (with
    ``batch_col``, every batch's rows keyed by it); ``fold(tagged)``
    merges batch_id-tagged partials into rows with the partial's
    columns; ``col`` is the default input column."""

    partial: Callable[..., DataFrame]
    fold: Callable[[DataFrame], DataFrame]
    col: str | None = None

    def apply_batch(
        self, batch_df: DataFrame, batch_id: int, store_dir: str, col: str | None = None
    ) -> bool:
        """Commit one micro-batch's partial. False on replay."""
        return commit_partial(self.partial(batch_df, col or self.col), batch_id, store_dir)

    def read(self, spark, store_dir: str) -> DataFrame | None:
        """All live partials tagged with batch_id; None before the first
        commit."""
        return read_partials(spark, store_dir)

    def compact(self, spark, store_dir: str, upto_batch: int) -> bool:
        """Fold the live partials with batch_id <= ``upto_batch`` into the
        compacted base. False if nothing to fold or a compaction at or
        above the bound exists."""
        old = live_upto(spark, store_dir, upto_batch)
        return old is not None and commit_compaction(self.fold(old), upto_batch, store_dir)

    def bootstrap(self, df: DataFrame, col: str, n_batches: int, store_dir: str) -> int:
        """Commit batches 0..n_batches-1 of ``df`` (tagged by its
        ``batch`` column) in one Spark job; the number committed."""
        tagged = self.partial(df, col, batch_col=BATCH_COL)
        return commit_partials_batched(tagged, list(range(n_batches)), store_dir)


def committed_batches(store_dir: str) -> list[int]:
    """Batch ids with durable markers, ascending."""
    return _marker_ids(store_dir, "batch")


def compacted_upto(store_dir: str) -> int | None:
    """Newest compaction bound B (``_compact-<B>.committed``), or None."""
    bounds = _marker_ids(store_dir, "compact")
    return bounds[-1] if bounds else None


def commit_partial(df: DataFrame, batch_id: int, store_dir: str) -> bool:
    """Commit one micro-batch's partial rows. False on replay of an
    already-committed batch, True after a commit."""
    os.makedirs(store_dir, exist_ok=True)
    marker = os.path.join(store_dir, f"_batch-{batch_id}.committed")
    if os.path.isfile(marker):
        return False
    _publish(df.toArrow(), store_dir, "cent", batch_id)
    _write_marker(marker, batch_id)
    return True


def commit_partials_batched(
    tagged: DataFrame, batch_ids: list[int], store_dir: str
) -> int:
    """Bootstrap commit: write EVERY still-uncommitted batch's partial
    rows in ONE Spark job (a staging write partitioned by ``BATCH_COL``,
    so per-batch windows and aggregates run as partitioned work in one
    pass), then publish each batch under the same marker protocol
    ``commit_partial`` uses. ``tagged`` must carry ``BATCH_COL`` plus the
    partial's columns in their committed order. Already-committed
    batches are left untouched, and a crash mid-publish leaves later
    batches uncommitted for the next call to finish.

    Returns the number of batches committed (0 when all were committed)."""
    os.makedirs(store_dir, exist_ok=True)
    done = set(committed_batches(store_dir))
    todo = [b for b in batch_ids if b not in done]
    if not todo:
        return 0
    staging = os.path.join(store_dir, "_staging_bootstrap")
    (
        tagged.filter(F.col(BATCH_COL).isin([int(b) for b in todo]))
        # one hash partition per batch -> one staged file per batch
        .repartition(len(todo), F.col(BATCH_COL))
        .write.mode("overwrite")
        .partitionBy(BATCH_COL)
        .parquet(staging)
    )
    for b in todo:
        files = sorted(
            glob.glob(os.path.join(staging, f"{BATCH_COL}={b}", "*.parquet"))
        )
        if files:
            _remove_files(store_dir, "cent", b)
            for i, part in enumerate(files):
                _replace(part, os.path.join(store_dir, f"cent-{b:08d}-{i:04d}.parquet"))
        else:
            # empty batch: publish an empty single-file partial so readers
            # (which treat a marker without files as corruption) stay sound
            empty = tagged.drop(BATCH_COL).filter(F.lit(False))
            _publish(empty.toArrow(), store_dir, "cent", b)
        _write_marker(os.path.join(store_dir, f"_batch-{b}.committed"), b)
    shutil.rmtree(staging, ignore_errors=True)
    return len(todo)


def read_partials(spark, store_dir: str) -> DataFrame | None:
    """All live partial rows tagged with batch_id: the newest compacted
    fold (tagged with its bound B) plus every committed batch partial
    above it. None before the first commit. Orphans without markers are
    never read. Building the DataFrame launches no Spark job."""
    files = [f for _, fs in _live_files(store_dir) for f in fs]
    return _scan(spark, files) if files else None


def live_upto(spark, store_dir: str, upto_batch: int) -> DataFrame | None:
    """The live partial rows with batch_id <= ``upto_batch`` (what a
    compaction to that bound folds), or None when they hold no rows —
    decided from the files' footer row counts, without a Spark job."""
    import pyarrow.parquet as pq

    files = [f for b, fs in _live_files(store_dir) if b <= upto_batch for f in fs]
    if sum(pq.read_metadata(f).num_rows for f in files) == 0:
        return None
    return _scan(spark, files)


def commit_compaction(folded: DataFrame, upto_batch: int, store_dir: str) -> bool:
    """Publish ``folded`` (the fold of all live partials with id <=
    upto_batch, WITHOUT the batch_id column) as the new compacted base.
    False if a compaction at or above this bound already exists.
    Superseded batch partials and older compact files are deleted only
    AFTER the marker is durable."""
    prev = compacted_upto(store_dir)
    if prev is not None and prev >= upto_batch:
        return False
    _publish(folded.toArrow(), store_dir, "compact", upto_batch)
    _write_marker(
        os.path.join(store_dir, f"_compact-{upto_batch}.committed"), upto_batch
    )
    # cleanup AFTER the durable marker: superseded batch partials and
    # older compact generations (their markers stay as replay guards)
    for b in committed_batches(store_dir):
        if b <= upto_batch:
            _remove_files(store_dir, "cent", b)
    prefix = f"compact-{upto_batch:08d}-"
    for p in glob.glob(os.path.join(store_dir, "compact-*.parquet")):
        if not os.path.basename(p).startswith(prefix):
            os.unlink(p)
    return True


def _marker_ids(store_dir: str, kind: str) -> list[int]:
    """Ids of the durable ``_<kind>-<id>.committed`` markers, ascending."""
    out = []
    for p in glob.glob(os.path.join(store_dir, f"_{kind}-*.committed")):
        try:
            out.append(int(os.path.basename(p)[len(kind) + 2 : -len(".committed")]))
        except ValueError:
            continue
    return sorted(out)


def _store_files(store_dir: str, kind: str, b: int) -> list[str]:
    """The ``cent`` or ``compact`` data files published under id ``b``."""
    return sorted(glob.glob(os.path.join(store_dir, f"{kind}-{b:08d}-*.parquet")))


def _remove_files(store_dir: str, kind: str, b: int) -> None:
    for p in _store_files(store_dir, kind, b):
        os.unlink(p)


def _live_files(store_dir: str) -> list[tuple[int, list[str]]]:
    """(batch_id, files) of every live partial: the newest compacted fold
    (tagged with its bound) first, then each committed batch above it,
    ascending."""
    upto = compacted_upto(store_dir)
    ids = [] if upto is None else [("compact", upto)]
    ids += [("cent", b) for b in committed_batches(store_dir) if upto is None or b > upto]
    live = []
    for kind, b in ids:
        files = _store_files(store_dir, kind, b)
        if not files:
            raise FileNotFoundError(
                f"partial store {store_dir}: the marker of {kind}-{b:08d} "
                "exists but its data file is missing"
            )
        live.append((b, files))
    return live


def _scan(spark, files: list[str]) -> DataFrame:
    """One relation over ``files`` with the first file's footer schema,
    plus batch_id parsed from each row's file name."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    schema = from_arrow_schema(pq.read_schema(files[0]))
    batch_id = F.regexp_extract("_metadata.file_name", _FILE_BATCH_ID, 1)
    return spark.read.schema(schema).parquet(*files).withColumn(
        "batch_id", batch_id.cast("long")
    )


def _publish(table, store_dir: str, kind: str, b: int) -> None:
    """Durably publish an Arrow table as the single data file
    ``<kind>-<b:08d>-0000.parquet``, replacing any file left under that
    id by an earlier, uncommitted attempt."""
    import pyarrow.parquet as pq

    _remove_files(store_dir, kind, b)
    final = os.path.join(store_dir, f"{kind}-{b:08d}-0000.parquet")
    tmp = final + ".tmp"
    pq.write_table(table, tmp)
    _replace(tmp, final)


def _write_marker(marker: str, payload: int) -> None:
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(payload))
    _replace(tmp, marker)


def _replace(src: str, dst: str) -> None:
    """Move ``src`` onto ``dst`` durably: fsync the data before the
    rename, and the directory after it, so the new name survives a
    crash and never points at a torn file."""
    _fsync(src)
    os.replace(src, dst)
    _fsync(os.path.dirname(dst))


def _fsync(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)
