"""Round-13 closures for the round-12 ADVICE findings: the hint-lock
timeout becomes a distinct NON-retryable failure (no more infinite
orphan-minting retry loops in the streaming committer), commit_snapshot
reports the already-claimed version instead of a bogus conflict when
only the hint flip timed out, the unversioned _manifest.parquet mirror
is written under the hint lock with the monotonic check (no
last-writer-wins regression), and the Bloom index records the build
session's timezone so timestamp probes from any session render the
same canonical string."""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_exporter_spark.sinks import manifest_sink as ms
from parquet_exporter_spark.sinks.manifest_sink import (
    CommitConflictError,
    HintLockTimeout,
    _flip_hint_monotonic,
    commit_snapshot,
    current_manifest_version,
    manifest_versions,
    read_manifest,
    read_manifest_version,
    streaming_snapshot_commit,
)


def _write_file(spark, d, name, lo, hi):
    t = (
        spark.range(lo, hi)
        .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
        .toPandas()
    )
    pq.write_table(
        pa.Table.from_pandas(t, preserve_index=False), os.path.join(d, name)
    )


@pytest.fixture
def fast_lock_timeout(monkeypatch):
    monkeypatch.setattr(ms, "HINT_LOCK_TIMEOUT_S", 0.2)


# ---------------------------------------------------------------------------
# ADVICE medium: stale hint lock must not be a retryable "conflict"


def test_stale_lock_raises_hint_lock_timeout_not_conflict(
    spark, fast_lock_timeout
):
    """A stale _manifest_hint.lock is operator-attention territory, not
    a version race: commit_snapshot must raise HintLockTimeout (which an
    `except CommitConflictError` retry loop does NOT catch) and must
    carry the version that WAS durably published via the os.link CAS."""
    d = tempfile.mkdtemp(prefix="pes_stale_")
    try:
        _write_file(spark, d, "a.parquet", 0, 50)
        assert commit_snapshot(d, "k") == 1
        # a crashed committer's leftover lock
        open(os.path.join(d, ms.HINT_LOCK), "w").close()
        _write_file(spark, d, "b.parquet", 50, 100)
        with pytest.raises(HintLockTimeout) as ei:
            commit_snapshot(d, "k")
        assert not isinstance(ei.value, CommitConflictError)
        assert ei.value.claimed_version == 2
        # the snapshot file for the claimed version is on disk (durable),
        # only the hint flip failed
        assert manifest_versions(d) == [1, 2]
        assert current_manifest_version(d) == 1
        # operator recovery: remove the stale lock, re-flip the hint
        os.unlink(os.path.join(d, ms.HINT_LOCK))
        _flip_hint_monotonic(d, 2)
        assert current_manifest_version(d) == 2
        assert len(read_manifest_version(d, 2)) == 2
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_commit_stale_lock_no_infinite_orphans(
    spark, fast_lock_timeout
):
    """The round-12 ADVICE loop: streaming_snapshot_commit retried
    CommitConflictError forever, and the old code raised exactly that
    from the lock-timeout path — every retry claimed a fresh orphan
    version. Now the timeout propagates after ONE claim attempt: exactly
    one new snapshot file, no marker, no infinite loop."""
    d = tempfile.mkdtemp(prefix="pes_stream_stale_")
    try:
        df0 = spark.range(0, 10).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
        assert streaming_snapshot_commit(df0, 0, d, "k") == 1
        open(os.path.join(d, ms.HINT_LOCK), "w").close()
        df1 = spark.range(10, 20).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) AS v"
        )
        with pytest.raises(HintLockTimeout):
            streaming_snapshot_commit(df1, 1, d, "k")
        # exactly ONE orphan claim (v2), not one per ~lock-timeout
        assert manifest_versions(d) == [1, 2]
        assert not os.path.isfile(os.path.join(d, "_batch-1.committed"))
        # recovery: clear the stale lock; the replayed batch commits
        # cleanly (its deterministic file overwrites itself; the next
        # claim is v3 above the orphan)
        os.unlink(os.path.join(d, ms.HINT_LOCK))
        v = streaming_snapshot_commit(df1, 1, d, "k")
        assert v == 3
        assert current_manifest_version(d) == 3
        names = sorted(
            os.path.basename(s.path) for s in read_manifest_version(d, 3)
        )
        assert names == ["batch-00000000.parquet", "batch-00000001.parquet"]
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# ADVICE low: unversioned mirror must never regress behind the hint


def test_mirror_is_monotonic_under_hint_lock(spark):
    """The unversioned _manifest.parquet is written inside the hint
    flip's lock + monotonic check: a late v-N writer calling the flip
    after v-N+1 already committed must leave BOTH the hint and the
    mirror at N+1 (the old code's last-writer-wins os.replace let the
    mirror regress while the hint said newer)."""
    d = tempfile.mkdtemp(prefix="pes_mirror_")
    try:
        _write_file(spark, d, "a.parquet", 0, 50)
        commit_snapshot(d, "k")
        _write_file(spark, d, "b.parquet", 50, 100)
        commit_snapshot(d, "k")
        mirror_before = sorted(
            os.path.basename(s.path) for s in read_manifest(d)
        )
        assert mirror_before == ["a.parquet", "b.parquet"]
        # a straggling v1 winner re-running its flip must be a no-op
        _flip_hint_monotonic(d, 1)
        assert current_manifest_version(d) == 2
        assert (
            sorted(os.path.basename(s.path) for s in read_manifest(d))
            == mirror_before
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_mirror_tracks_newest_under_racing_committers(spark):
    """Hammer commit_snapshot from 4 threads; afterwards the mirror's
    row set must equal the hinted (newest) snapshot's row set — the
    exact invariant the last-writer-wins race violated."""
    d = tempfile.mkdtemp(prefix="pes_mirror_race_")
    try:
        _write_file(spark, d, "a.parquet", 0, 50)
        commit_snapshot(d, "k")
        barrier = threading.Barrier(4)

        def racer():
            barrier.wait()
            for _ in range(8):
                try:
                    commit_snapshot(d, "k")
                except CommitConflictError:
                    pass

        ts = [threading.Thread(target=racer) for _ in range(4)]
        [t.start() for t in ts]
        [t.join() for t in ts]
        hinted = current_manifest_version(d)
        assert hinted == max(manifest_versions(d))
        want = sorted(
            (os.path.basename(s.path), s.num_rows)
            for s in read_manifest_version(d, hinted)
        )
        got = sorted(
            (os.path.basename(s.path), s.num_rows) for s in read_manifest(d)
        )
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# ADVICE low: Bloom timestamp probes across session timezones


def test_bloom_timestamp_probe_across_timezones(spark):
    """Build the index under UTC, probe under Asia/Tokyo (+9): the file
    holding the probed instant must survive pruning. CAST(timestamp AS
    STRING) renders session-local wall time, so without the recorded
    build TZ the probe would hash '2024-03-15 21:30:00' against an
    index of '2024-03-15 12:30:00' — a silent false negative."""
    from parquet_exporter_spark.sinks.bloom_index import (
        build_bloom_manifest,
        prune_with_bloom,
    )

    d = tempfile.mkdtemp(prefix="pes_bloom_tz_")
    tz_key = "spark.sql.session.timeZone"
    old_tz = spark.conf.get(tz_key)
    try:
        spark.conf.set(tz_key, "UTC")
        base = datetime.datetime(2024, 3, 15, 12, 30, 0)
        for f in range(3):
            rows = [
                (base + datetime.timedelta(hours=24 * f + i), f"r{f}_{i}")
                for i in range(40)
            ]
            spark.createDataFrame(rows, "ts timestamp, tag string").coalesce(
                1
            ).write.mode("overwrite").parquet(os.path.join(d, f"stage{f}"))
            part = [
                p
                for p in os.listdir(os.path.join(d, f"stage{f}"))
                if p.endswith(".parquet")
            ][0]
            os.replace(
                os.path.join(d, f"stage{f}", part),
                os.path.join(d, f"f{f}.parquet"),
            )
            shutil.rmtree(os.path.join(d, f"stage{f}"))
        manifest = build_bloom_manifest(spark, d, "ts")
        assert (
            pq.read_table(manifest).column("tz").to_pylist()[0] == "UTC"
        )
        # probe the instant from a +9 session with a tz-AWARE literal
        spark.conf.set(tz_key, "Asia/Tokyo")
        probe = datetime.datetime(
            2024, 3, 16, 12, 30, 0, tzinfo=datetime.timezone.utc
        )  # hour 0 of file 1
        keep = [os.path.basename(p) for p in prune_with_bloom(d, probe, spark=spark)]
        assert "f1.parquet" in keep  # the no-false-negative guarantee
        # and the session TZ was restored by the probe's render
        assert spark.conf.get(tz_key) == "Asia/Tokyo"
        # selectivity sanity: an index that keeps everything proves
        # nothing — the other files should (probabilistically, FP~0.6%)
        # be pruned
        assert len(keep) < 3
    finally:
        spark.conf.set(tz_key, old_tz)
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Round-13 verdict item 1: sketch MERGE paths executed as queries. The
# verdict booleans are DATA (hash-matched vs DuckDB by the driver); these
# tests assert they are actually TRUE, so a bound regression fails the
# suite even though the hash would still match.


def test_cms_merge_counter_add_is_exact(spark, sf_dir):
    from parquet_exporter_spark.queries.aggregates import agg_cms_merge
    from parquet_exporter_spark.streaming.cms_ingest import CMS_D, CMS_W

    rows = agg_cms_merge(spark, sf_dir).collect()
    assert 0 < len(rows) <= CMS_D * CMS_W
    assert all(r.merge_exact for r in rows)
    assert all(r.c_half0 + r.c_half1 == r.merged_c == r.whole_c for r in rows)


def test_kmv_union_kth_equals_whole_corpus(spark, sf_dir):
    from parquet_exporter_spark.queries.aggregates import agg_kmv_union

    r = agg_kmv_union(spark, sf_dir).collect()[0]
    assert r.merge_exact, "merged k-th min must equal the whole-corpus k-th"
    assert r.within_bound
    # the union of two bottom-k states can never keep more than k
    assert r.n_kept <= r.k


def test_hll_portable_estimate_within_bound(spark, sf_dir):
    from parquet_exporter_spark.queries.aggregates import agg_hll_portable

    r = agg_hll_portable(spark, sf_dir).collect()[0]
    assert r.within_bound, f"rel_error {r.rel_error} above the 0.15 bound"
    assert r.n_nonempty + r.v_empty == r.m == 512
    # the exact scaled register sum is bounded by an all-empty sketch
    assert 0 < r.s_scaled <= 512 * (1 << 52)


def test_hll_portable_small_population_linear_counting(spark):
    """Under-m populations route through the linear-counting branch —
    the published small-range bias correction — and land within a few
    percent, where the raw estimator would be badly biased."""
    import tempfile as _tf

    from parquet_exporter_spark.queries.aggregates import agg_hll_portable

    d = _tf.mkdtemp(prefix="hll_")
    try:
        spark.range(500).selectExpr(
            "id % 50 AS l_partkey", "1.0 AS l_extendedprice"
        ).write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
        r = agg_hll_portable(spark, d).collect()[0]
        assert r.true_distinct == 50
        assert r.v_empty > 0 and r.within_bound
        assert abs(r.est_distinct - 50) <= 8  # LC is near-exact down here
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_tdigest_merged_serves_all_probes_once(spark, sf_dir):
    """Merged-bucket cum-weight spans must TILE [0, n-1] (the re-bin's
    monotone-mid property): every probe hits exactly one bucket, every
    verdict holds, and estimates are monotone in p."""
    from parquet_exporter_spark.queries.aggregates import (
        _TD_PROBES,
        agg_tdigest_merged,
    )

    rows = {r.p: r for r in agg_tdigest_merged(spark, sf_dir).collect()}
    assert len(rows) == len(_TD_PROBES), "a probe hit 0 or >1 merged buckets"
    for p, r in rows.items():
        assert r.within_bound, f"p={p}: rank_err {r.rank_err} > 0.35*d+8"
        assert r.n_inputs >= 1
    ests = [rows[p].est_price for p in sorted(rows)]
    assert ests == sorted(ests)
    # the two extreme probes resolve to single-value buckets at the tails
    # at sf0.001 (dyadic level 0/1): exact there
    assert rows[0.001].rank_err <= max(2, rows[0.001].d_tail // 4)


# ---------------------------------------------------------------------------
# Round-13 verdict item 3: real BPE fit + apply


def test_bpe_fit_hand_computed_merges(spark):
    """Classic Sennrich corpus: 'low lower lowest low low'. The first
    merges are hand-derivable: (l,o) wins round 1 on the 5-5 tie with
    (o,w) by the lexicographic tiebreak, (lo,w) follows, then the
    multi-char composition (low,e) proves merged tokens re-enter the
    pair pool."""
    import tempfile as _tf

    from parquet_exporter_spark.queries.llm5 import _bpe_fit_merges

    d = _tf.mkdtemp(prefix="bpe_")
    try:
        spark.createDataFrame(
            [(0, "low lower lowest low low")], "doc_id long, text string"
        ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        merges = _bpe_fit_merges(spark, d)
        got = [(m[1], m[2], m[4]) for m in merges[:4]]
        assert got == [
            ("l", "o", 5),
            ("lo", "w", 5),
            ("low", "e", 2),
            ("lowe", "r", 1),
        ], got
        # pair counts are nonincreasing: a merge can only create pairs
        # whose count is bounded by the merged pair's own count
        counts = [m[4] for m in merges]
        assert counts == sorted(counts, reverse=True)
        # the tiny corpus exhausts its pair pool before the 24-round
        # budget — the fit stops instead of emitting degenerate rows
        assert len(merges) < 24
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_bpe_tokenize_invariants(spark, sf_dir):
    """Subword counts sit between word and character counts, and the
    fold-chain apply actually compresses (multi-char tokens fire)."""
    from parquet_exporter_spark.queries.llm5 import text_bpe_tokenize

    rows = text_bpe_tokenize(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.n_words <= r.n_bpe_tokens <= r.n_alpha_chars
        assert r.chars_per_token >= 1.0
    # corpus-level: 24 merges on a 31-word vocabulary must compress well
    total_tok = sum(r.n_bpe_tokens for r in rows)
    total_ch = sum(r.n_alpha_chars for r in rows)
    assert total_ch / total_tok > 1.3


# ---------------------------------------------------------------------------
# Round-13 verdict items 4 and 6: SCD2 build + language-ID classifier


def test_scd2_build_replays_the_change_log(spark, sf_dir):
    """Point-in-time lookups over the built dimension must equal a
    Python replay of the Debezium log at EVERY change timestamp — the
    full contract: contiguous validity per key, tombstone closure,
    exactly one is_current row per live key and none for deleted keys."""
    import json

    from parquet_exporter_spark.queries.streaming import (
        CDC_CHANGES,
        cdc_scd2_build,
    )

    dim = cdc_scd2_build(spark, sf_dir).collect()
    by_key: dict[int, list] = {}
    for r in sorted(dim, key=lambda r: (r.key_id, r.version_seq)):
        by_key.setdefault(r.key_id, []).append(r)
    # contiguity + single-current
    for key, vs in by_key.items():
        for a, b in zip(vs, vs[1:]):
            assert a.valid_to_ms == b.valid_from_ms, (key, a, b)
        assert sum(1 for v in vs if v.is_current) == (
            1 if vs[-1].valid_to_ms is None else 0
        )
    # replay the raw log; compare state at every event time
    log = [json.loads(line) for line in open(CDC_CHANGES)]
    log.sort(key=lambda e: e["ts_ms"])
    state: dict[int, tuple] = {}
    for e in log:
        t = e["ts_ms"]
        if e["op"] in ("c", "u"):
            a = e["after"]
            state[a["id"]] = (a["name"], round(a["balance"], 2))
        else:
            state.pop(e["before"]["id"], None)
        looked = {
            r.key_id: (r.name, r.balance)
            for r in dim
            if r.valid_from_ms <= t
            and (r.valid_to_ms is None or t < r.valid_to_ms)
        }
        assert looked == state, f"divergence at ts={t}"
    # live keys at the end == is_current rows
    assert {r.key_id for r in dim if r.is_current} == set(state)


def test_langid_predict_perfect_on_fixture(spark, sf_dir):
    """The four fixture languages have disjoint-enough bigram
    distributions that the NB classifier must score a clean diagonal on
    the held-out half — the pinned-accuracy gate the verdict asked for."""
    from parquet_exporter_spark.queries.llm5 import text_langid_predict

    rows = text_langid_predict(spark, sf_dir).collect()
    off_diag = [r for r in rows if r.labeled_lang != r.predicted_lang]
    assert not off_diag, off_diag
    assert sum(r.n for r in rows) == 120  # the odd-doc_id half
    assert {r.labeled_lang for r in rows} == {"en", "de", "es", "fr"}


# ---------------------------------------------------------------------------
# Round-13 verdict item 5: manifest OPTIMIZE end to end


def test_optimize_table_end_to_end(spark):
    """The full lifecycle: fragmented commits -> OPTIMIZE (plan from the
    manifest, rewrite groups, commit as a new snapshot) -> both
    snapshots read identically -> expire + vacuum reclaims ONLY the
    replaced files. This is the composition layout_compaction_plan /
    write_compacted / commit_snapshot existed for."""
    import pyarrow.parquet as _pq

    from parquet_exporter_spark.sinks.manifest_sink import (
        expire_snapshots,
        optimize_table,
        prune_with_manifest_version,
        read_manifest_version,
    )

    d = tempfile.mkdtemp(prefix="pes_opt_")
    try:
        # 8 small range-clustered files, 25 rows each
        for f in range(8):
            _write_file(spark, d, f"small-{f}.parquet", f * 25, (f + 1) * 25)
        assert commit_snapshot(d, "k") == 1
        v1_rows = sorted(
            (r["k"], r["v"])
            for s in read_manifest_version(d, 1)
            for r in _pq.read_table(s.path).to_pylist()
        )
        v2 = optimize_table(spark, d, "k", target_rows=100)
        assert v2 == 2
        v2_stats = read_manifest_version(d, 2)
        names = sorted(os.path.basename(s.path) for s in v2_stats)
        # 200 rows / target 100 -> two 4-file groups, both rewritten
        assert names == [
            "compact-v0001-g0000.parquet",
            "compact-v0001-g0001.parquet",
        ]
        # compacted files keep disjoint cluster ranges (pruning survives)
        spans = sorted((s.min_value, s.max_value) for s in v2_stats)
        assert spans == [(0, 99), (100, 199)]
        assert [os.path.basename(p) for p in
                prune_with_manifest_version(d, 2, lo=120, hi=130)] == [
            "compact-v0001-g0001.parquet"
        ]
        # both snapshots read byte-identically
        v2_rows = sorted(
            (r["k"], r["v"])
            for s in v2_stats
            for r in _pq.read_table(s.path).to_pylist()
        )
        assert v2_rows == v1_rows
        # old snapshot still time-travels (its files are still on disk)
        assert len(read_manifest_version(d, 1)) == 8
        assert all(
            os.path.isfile(s.path) for s in read_manifest_version(d, 1)
        )
        # a file in NO manifest (concurrent uncommitted batch) is safe
        _write_file(spark, d, "uncommitted.parquet", 999, 1009)
        out = expire_snapshots(d, keep_n=1, vacuum=True)
        assert out["removed_versions"] == [1]
        assert sorted(out["removed_files"]) == [
            f"small-{f}.parquet" for f in range(8)
        ]
        assert os.path.isfile(os.path.join(d, "uncommitted.parquet"))
        # post-vacuum: the current snapshot still reads identically
        assert (
            sorted(
                (r["k"], r["v"])
                for s in read_manifest_version(d)
                for r in _pq.read_table(s.path).to_pylist()
            )
            == v1_rows
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_optimize_table_skips_single_file_groups(spark):
    """A group already at target size is carried untouched — no rewrite
    amplification; only fragmented groups pay IO."""
    from parquet_exporter_spark.sinks.manifest_sink import (
        optimize_table,
        read_manifest_version,
    )

    d = tempfile.mkdtemp(prefix="pes_opt2_")
    try:
        _write_file(spark, d, "big.parquet", 0, 100)  # exactly one group
        _write_file(spark, d, "s1.parquet", 100, 125)
        _write_file(spark, d, "s2.parquet", 125, 150)
        commit_snapshot(d, "k")
        v = optimize_table(spark, d, "k", target_rows=100)
        names = sorted(os.path.basename(s.path) for s in read_manifest_version(d, v))
        assert names == ["big.parquet", "compact-v0001-g0001.parquet"]
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Round-13 part 2: merge-family completion + build->serve compositions


def test_hll_union_registers_identical(spark, sf_dir):
    from parquet_exporter_spark.queries.aggregates import agg_hll_union

    r = agg_hll_union(spark, sf_dir).collect()[0]
    assert r.n_register_mismatch == 0 and r.merge_exact
    assert r.within_bound
    assert r.n_nonempty + r.v_empty == r.m == 512


def test_kmv_jaccard_under_k_is_exact(spark):
    """A union smaller than k makes the bottom-k sample the WHOLE union,
    so the Jaccard estimate must be exactly the true Jaccard."""
    import tempfile as _tf

    from parquet_exporter_spark.queries.aggregates import agg_kmv_jaccard

    d = _tf.mkdtemp(prefix="kmvj_")
    try:
        # 60 customers: 0-39 order in half A (even keys), 20-59 in half
        # B (odd keys) -> |inter|=20, |union|=60, J = 1/3
        rows = [(2 * i, k) for i, k in enumerate(range(40))] + [
            (2 * i + 1, k) for i, k in enumerate(range(20, 60))
        ]
        spark.createDataFrame(
            rows, "o_orderkey long, o_custkey long"
        ).write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))
        r = agg_kmv_jaccard(spark, d).collect()[0]
        assert r.n_union_sample == 60
        assert r.est_jaccard == r.exact_jaccard == round(20 / 60, 6)
        assert r.abs_error == 0.0 and r.within_bound
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_kmv_jaccard_verdict_at_sf(spark, sf_dir):
    from parquet_exporter_spark.queries.aggregates import agg_kmv_jaccard

    r = agg_kmv_jaccard(spark, sf_dir).collect()[0]
    assert r.within_bound, f"abs_error {r.abs_error} above 0.30"
    assert 0.0 <= r.est_jaccard <= 1.0


def test_scd2_asof_lookup_matches_replay(spark, sf_dir):
    """The served (n_live_keys, total_balance) series must equal a
    Python replay of the log at every probe instant."""
    import json

    from parquet_exporter_spark.queries.streaming import (
        CDC_CHANGES,
        cdc_scd2_asof_lookup,
    )

    served = {
        r.probe_ts_ms: (r.n_live_keys, r.total_balance)
        for r in cdc_scd2_asof_lookup(spark, sf_dir).collect()
    }
    log = sorted(
        (json.loads(line) for line in open(CDC_CHANGES)),
        key=lambda e: e["ts_ms"],
    )
    state: dict[int, float] = {}
    for e in log:
        if e["op"] in ("c", "u"):
            state[e["after"]["id"]] = round(e["after"]["balance"], 2)
        else:
            state.pop(e["before"]["id"], None)
        want = (len(state), round(sum(state.values()), 2))
        assert served[e["ts_ms"]] == want, (e["ts_ms"], served[e["ts_ms"]], want)


def test_packing_bpe_budget_and_coverage(spark, sf_dir):
    """Every packed sequence holds <= budget real subword tokens (docs
    longer than the budget may straddle), offsets restart inside the
    budget, and every document packs exactly once."""
    from parquet_exporter_spark.queries.llm5 import (
        SEQ_BPE_BUDGET,
        sample_sequence_packing_bpe,
        text_bpe_tokenize,
    )

    rows = sample_sequence_packing_bpe(spark, sf_dir).collect()
    docs = {r.doc_id for r in rows}
    toks = {r.doc_id: r.n_bpe_tokens for r in text_bpe_tokenize(spark, sf_dir).collect()}
    assert docs >= set(toks)  # every tokenized doc packs
    for r in rows:
        assert 0 <= r.seq_offset < SEQ_BPE_BUDGET
        assert toks.get(r.doc_id, 0) == r.n_tokens


# ---------------------------------------------------------------------------
# Round-13 part 3: incremental streaming SCD2 maintenance


def _scd2_python_replay(log_prefix):
    """Independent reference: version rows from a change-log prefix."""
    by_key: dict[int, list] = {}
    for e in sorted(log_prefix, key=lambda e: e["ts_ms"]):
        key = (e["after"] or e["before"])["id"]
        by_key.setdefault(key, []).append(e)
    rows = set()
    for key, events in by_key.items():
        seq = 0
        for i, e in enumerate(events):
            nxt = events[i + 1]["ts_ms"] if i + 1 < len(events) else None
            if e["op"] == "d":
                continue
            seq += 1
            rows.add(
                (
                    key,
                    seq,
                    e["after"]["name"],
                    round(e["after"]["balance"], 2),
                    e["ts_ms"],
                    nxt,
                    nxt is None,
                )
            )
    return rows


def test_scd2_incremental_equals_full_rebuild(spark, sf_dir):
    """Apply the CDC log in 3 micro-batches; after EVERY batch the
    incremental dimension must equal an independent replay of the log
    prefix, and the final state must equal the registered full-rebuild
    query's output. Replayed batches are no-ops."""
    import json

    from parquet_exporter_spark.queries.streaming import (
        CDC_CHANGES,
        cdc_scd2_build,
    )
    from parquet_exporter_spark.streaming.scd2_ingest import (
        read_scd2_dim,
        scd2_apply_batch,
    )

    log = sorted(
        (json.loads(line) for line in open(CDC_CHANGES)),
        key=lambda e: e["ts_ms"],
    )
    cuts = [len(log) // 3, 2 * len(log) // 3, len(log)]
    d = tempfile.mkdtemp(prefix="pes_scd2inc_")

    def _batch_df(events):
        rows = [
            (
                e["ts_ms"],
                e["op"],
                (e["after"] or e["before"])["id"],
                (e["after"] or {}).get("name"),
                (e["after"] or {}).get("balance"),
            )
            for e in events
        ]
        return spark.createDataFrame(
            rows,
            "ts_ms long, op string, key_id long, name string, balance double",
        )

    def _dim_rows():
        return {
            (
                r.key_id,
                r.version_seq,
                r.name,
                r.balance,
                r.valid_from_ms,
                r.valid_to_ms,
                r.is_current,
            )
            for r in read_scd2_dim(spark, d).collect()
        }

    try:
        lo = 0
        for b, hi in enumerate(cuts):
            assert scd2_apply_batch(_batch_df(log[lo:hi]), b, d) is True
            assert _dim_rows() == _scd2_python_replay(log[:hi]), f"batch {b}"
            lo = hi
        # replay of an already-committed batch is a no-op
        final = _dim_rows()
        assert scd2_apply_batch(_batch_df(log[: cuts[0]]), 0, d) is False
        assert _dim_rows() == final
        # final incremental state == the registered full-rebuild query
        full = {
            (
                r.key_id,
                r.version_seq,
                r.name,
                r.balance,
                r.valid_from_ms,
                r.valid_to_ms,
                r.is_current,
            )
            for r in cdc_scd2_build(spark, sf_dir).collect()
        }
        assert final == full
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_scd2_incremental_rejects_out_of_order(spark):
    """A change older than an affected key's open version must raise —
    silent interleaving would corrupt immutable history."""
    from parquet_exporter_spark.streaming.scd2_ingest import scd2_apply_batch

    d = tempfile.mkdtemp(prefix="pes_scd2ooo_")
    try:
        b0 = spark.createDataFrame(
            [(1000, "c", 1, "a", 1.0)],
            "ts_ms long, op string, key_id long, name string, balance double",
        )
        assert scd2_apply_batch(b0, 0, d)
        late = spark.createDataFrame(
            [(500, "u", 1, "a2", 2.0)],
            "ts_ms long, op string, key_id long, name string, balance double",
        )
        with pytest.raises(ValueError, match="out-of-order"):
            scd2_apply_batch(late, 1, d)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_tdigest_grouped_verdicts_and_coverage(spark, sf_dir):
    """Every (group, probe) pair serves exactly once, the exact value
    sits inside the serving bucket's cents bounds by construction, and
    medians differ across groups only as the data does."""
    from parquet_exporter_spark.queries.aggregates import (
        _TDG_PROBES,
        agg_tdigest_grouped,
    )

    rows = agg_tdigest_grouped(spark, sf_dir).collect()
    groups = {r.grp for r in rows}
    assert len(rows) == len(groups) * len(_TDG_PROBES)
    for r in rows:
        assert r.within_bucket_bounds, (r.grp, r.p)
        assert r.est_price > 0 and r.exact_price > 0
    # p95 >= p50 within every group (interpolation is rank-monotone)
    by_grp = {}
    for r in rows:
        by_grp.setdefault(r.grp, {})[r.p] = r.est_price
    for g, d in by_grp.items():
        assert d[0.95] >= d[0.5], g


def test_tdigest_cdf_brackets_are_sound(spark, sf_dir):
    """The [le_lo, le_hi] bracket must contain the exact count at every
    probe (provable from span tiling), estimates must be monotone in the
    probe price, and the out-of-domain guard probes must collapse to
    exactly 0 and n."""
    from parquet_exporter_spark.queries.aggregates import agg_tdigest_cdf

    rows = sorted(
        agg_tdigest_cdf(spark, sf_dir).collect(), key=lambda r: r.probe_price
    )
    assert all(r.within_bounds for r in rows)
    assert rows[0].exact_cdf == 0.0 and rows[0].est_cdf == 0.0
    assert rows[-1].exact_cdf == 1.0 and rows[-1].est_cdf == 1.0
    ests = [r.est_cdf for r in rows]
    assert ests == sorted(ests)
    for r in rows:
        assert r.rank_bound_lo <= r.exact_le <= r.rank_bound_hi


def test_zonemap_conjunction_actually_skips(spark, sf_dir):
    """The Hilbert layout must make BOTH curve dimensions selective: each
    single-column predicate prunes files, the conjunction prunes at
    least as hard as either, and the kept set plus residual filter
    reproduces the plain filtered read exactly."""
    import glob as _glob

    from parquet_exporter_spark.queries.extras import (
        _ZM_UID,
        _ZM_VAL,
        _zonemap_scratch_dir,
        scan_zonemap_pruned,
    )
    from parquet_exporter_spark.sinks.zonemap import prune_with_zonemap
    from parquet_exporter_spark.tables import read_table

    rows = scan_zonemap_pruned(spark, sf_dir).collect()  # builds the scratch
    dd = os.path.join(_zonemap_scratch_dir(sf_dir), "events_hilbert")
    nall = len(
        [
            p
            for p in _glob.glob(os.path.join(dd, "*.parquet"))
            if not os.path.basename(p).startswith("_")
        ]
    )
    keep_uid = prune_with_zonemap(dd, {"user_id": _ZM_UID})
    keep_val = prune_with_zonemap(dd, {"value": _ZM_VAL})
    keep_both = prune_with_zonemap(dd, {"user_id": _ZM_UID, "value": _ZM_VAL})
    assert set(keep_both) == set(keep_uid) & set(keep_val)
    assert len(keep_both) < nall, "conjunction pruned nothing"
    # at sf0.001 the user_id domain (0-14) is so narrow the uid range
    # alone may span every file; the curve still makes SOME dimension
    # selective, and the conjunction above must always prune
    assert len(keep_uid) < nall or len(keep_val) < nall
    # row-level correctness vs the unpruned original table
    ev = read_table(spark, sf_dir, "events")
    want = (
        ev.filter(
            ev.user_id.between(*_ZM_UID) & ev.value.between(*_ZM_VAL)
        ).count()
    )
    assert len(rows) == want


def test_zonemap_statless_and_unindexed_degrade_safely(spark):
    """Files missing from the zonemap and columns without stats must be
    KEPT — pruning degrades to scanning, never to wrong answers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_exporter_spark.sinks.zonemap import (
        prune_with_zonemap,
        write_zonemap,
    )

    d = tempfile.mkdtemp(prefix="pes_zm_")
    try:
        pq.write_table(
            pa.table({"k": [1, 2, 3], "v": [1.0, 2.0, 3.0]}),
            os.path.join(d, "a.parquet"),
        )
        write_zonemap(d, ["k", "v"])
        # a file written AFTER the zonemap commit: unindexed -> kept
        pq.write_table(
            pa.table({"k": [100], "v": [9.9]}), os.path.join(d, "b.parquet")
        )
        keep = prune_with_zonemap(d, {"k": (50, 200)})
        names = sorted(os.path.basename(p) for p in keep)
        assert names == ["b.parquet"]  # a pruned by stats, b kept blind
        # unknown predicate column: cannot prune on it -> everything kept
        keep2 = prune_with_zonemap(d, {"missing_col": (0, 1)})
        assert len(keep2) == 2
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_hdr_histogram_relative_bound(spark, sf_dir):
    """The octave/subbucket structure caps relative bucket width at 1/8
    regardless of magnitude; serving verdicts must hold and the actual
    relative error must sit inside the structural ceiling."""
    from parquet_exporter_spark.queries.aggregates import agg_hdr_histogram

    rows = agg_hdr_histogram(spark, sf_dir).collect()
    assert len(rows) == 2
    for r in rows:
        assert r.within_bucket and r.width_bound_ok, r.p
        assert r.rel_bucket_width <= 0.125
        assert abs(r.est_price - r.exact_price) / r.exact_price <= 0.125
        assert r.bucket_lo <= r.est_price <= r.bucket_hi + 1e-9
