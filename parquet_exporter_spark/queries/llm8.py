"""Round-9 additions: MATCH_RECOGNIZE-style row-pattern matching with
multi-symbol quantifiers (one row per match, with measures), RaBitQ-style
rotated binary quantization next to the existing sign-bit BQ, Holt linear
trend smoothing (completing the EWMA/Kalman fold family), the
compaction-plan operator (greedy contiguous bin-packing of file stats),
Holt-Winters additive triple smoothing (level + trend + period-7
seasonal state, the 9-state member of the fold family), and k-core
decomposition by fixed-round peeling over the part co-purchase graph
(the unrolled-iteration oracle pattern from graph_pagerank).

Both follow the established contract: a Spark-first plan plus a DuckDB
oracle over the same parquet tables, floats rounded before ranking (the
round-before-rank rule in registry.py's docstring), ids as tiebreaks.

Reference parity note: the reference engine (OpenBeta/parquet-exporter,
export.py) delegates querying to embedded DuckDB; these operators extend
the training-data-pipeline surface beyond it, per SURVEY.md §2's extended
inventory.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_exporter_spark.queries._util import source_version
from parquet_exporter_spark.registry import query
from parquet_exporter_spark.tables import read_table

# Row-pattern: "a view, then AT LEAST TWO clicks, then a purchase, with
# any amount of signup/error noise between the stages" — three pattern
# variables with quantifiers (v once, noise *, c{2,}), the multi-symbol
# shape single-funnel windows can't express. Non-overlapping leftmost
# matching == MATCH_RECOGNIZE's default AFTER MATCH SKIP PAST LAST ROW.
_MR_PATTERN = "v[sce]*c{2,}[sce]*p"


@query(
    "analytics_match_recognize",
    oracle=f"""
    WITH seqs AS (
        SELECT user_id,
               string_agg(left(event_type, 1), '' ORDER BY ts, event_id)
                   AS seq
        FROM events GROUP BY user_id
    ),
    ms AS (
        SELECT user_id, regexp_extract_all(seq, '{_MR_PATTERN}') AS l
        FROM seqs
    ),
    ex AS (
        SELECT user_id,
               unnest([{{'i': i, 'm': l[i]}}
                       for i in generate_series(1, len(l))],
                      recursive := true)
        FROM ms
    )
    SELECT user_id, CAST(i AS BIGINT) AS match_seq,
           CAST(len(m) AS BIGINT) AS match_len,
           CAST(len(m) - len(replace(m, 'v', '')) AS BIGINT) AS n_view,
           CAST(len(m) - len(replace(m, 'c', '')) AS BIGINT) AS n_click
    FROM ex
    """,
    doc=(
        "MATCH_RECOGNIZE-style row-pattern matching with MULTI-SYMBOL "
        "QUANTIFIERS and per-match measures — the step past "
        "analytics_event_regex_match's single boolean: the pattern "
        f"'{_MR_PATTERN}' (a view, any signup/error noise, AT LEAST two "
        "clicks, noise, then a purchase) is matched non-overlapping "
        "left-to-right per user (SQL:2016's default AFTER MATCH SKIP "
        "PAST LAST ROW), emitting ONE ROW PER MATCH with measures "
        "(match ordinal, length, per-symbol counts) — the shape "
        "MEASURES/ONE ROW PER MATCH produces. Each user's history "
        "collapses in event order to a 1-char-per-event symbol string "
        "inside the aggregate, so the user-keyed shuffle carries bytes, "
        "not event payloads, and the regex engine runs the pattern "
        "automaton per user in one pass; regexp_extract_all + "
        "posexplode turn the match list into rows without a second "
        "shuffle. Greedy quantifiers resolve identically in Java regex "
        "and RE2 for this backtracking-free pattern class."
    ),
)
def analytics_match_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    seqs = ev.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts",
                            "event_id",
                            F.substring("event_type", 1, 1).alias("sym"),
                        )
                    )
                ),
                lambda s: s.sym,
            ),
        ).alias("seq")
    )
    m = seqs.select(
        "user_id",
        F.posexplode(F.regexp_extract_all("seq", F.lit(_MR_PATTERN), F.lit(0))).alias(
            "pos", "m"
        ),
    )
    return m.select(
        "user_id",
        (F.col("pos") + 1).cast("long").alias("match_seq"),
        F.length("m").cast("long").alias("match_len"),
        (F.length("m") - F.length(F.expr("replace(m, 'v', '')")))
        .cast("long")
        .alias("n_view"),
        (F.length("m") - F.length(F.expr("replace(m, 'c', '')")))
        .cast("long")
        .alias("n_click"),
    )


# RaBitQ-style rotated binary quantization. The rotation is the
# structured orthogonal transform R = (1/sqrt(D)) * H * diag(d): a
# deterministic md5-derived sign flip per dimension followed by the
# Walsh-Hadamard transform, whose entry H[j][i] = (-1)^popcount(j & i)
# needs no materialized matrix — both engines compute it from bit_count.
# Rotating before sign-quantization is what fixes plain sign-bit BQ's
# failure mode: vectors concentrated near a coordinate axis all share
# one sign pattern (Hamming distance 0 everywhere), while a rotation
# spreads their mass across every dimension so the signs discriminate
# again (tested on exactly that adversarial input).
_RBQ_DIM = 64
_RBQ_QUERIES = 3
_RBQ_TOPK = 10
_RBQ_SIGNS = tuple(
    1.0
    if int(hashlib.md5(f"rabitq:{i}".encode()).hexdigest()[:2], 16) % 2 == 0
    else -1.0
    for i in range(_RBQ_DIM)
)


def rotate_hadamard(col, dim: int = _RBQ_DIM, signs=_RBQ_SIGNS):
    """x' = (1/sqrt(dim)) * H * diag(signs) * x as a per-row expression
    (no matrix literal: H[j][i] from popcount parity). O(dim^2) per row —
    at corpus scale the rotated SIGNS are computed once at index-build
    time and persisted next to the vectors, like the IVF cells."""
    d_arr = F.array(*[F.lit(v) for v in signs])
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    scale = F.lit(float(dim) ** 0.5)
    return F.transform(
        idx,
        lambda j: F.aggregate(
            idx,
            F.lit(0.0),
            lambda acc, i: acc
            + (
                F.lit(1) - F.lit(2) * (F.bit_count(j.bitwiseAND(i)) % F.lit(2))
            ).cast("double")
            * F.element_at(d_arr, i + 1)
            * F.element_at(col, i + 1).cast("double"),
        )
        / scale,
    )


def rotate_hadamard_fast(col, dim: int = _RBQ_DIM, signs=_RBQ_SIGNS):
    """The same rotation as rotate_hadamard, computed as an Arrow-batched
    FWHT (O(dim log dim) numpy butterflies per batch) instead of the
    O(dim^2) interpreted HOF — measured 24x faster end-to-end on the
    200k-vector sf1 corpus (41.1 s -> 1.7 s, SCALE.md round-9), taking
    the query from 5.4x slower than DuckDB to 4.5x FASTER. The
    butterfly reassociates the additions, so results can differ from the
    expression form in the last float ulps; the registered query
    therefore defaults to the expression form (bit-identical to the
    DuckDB oracle) and offers this as the scale path — same
    flag-not-prose convention as tfidf's skew_safe and zorder's exact.
    The closure is self-contained (numpy imported inside), so no module
    shipping is needed on executors."""
    import pandas as pd  # noqa: F401  (pandas_udf requires pandas present)
    from pyspark.sql.functions import pandas_udf

    sign_row = list(signs)

    @pandas_udf("array<double>")
    def _rot(batch):
        import numpy as np
        import pandas as pd

        # Null/ragged tolerance: a NULL or wrong-length embedding yields
        # a NULL rotation instead of poisoning the whole Arrow batch
        # (np.asarray on a ragged list would raise and fail every row in
        # the batch, where the expression form degrades row-by-row).
        vals = batch.tolist()
        ok = [i for i, v in enumerate(vals) if v is not None and len(v) == dim]
        out = [None] * len(vals)
        if ok:
            m = np.asarray([vals[i] for i in ok], dtype=np.float64)
            m = m * np.asarray(sign_row)
            h = 1
            while h < dim:
                for i in range(0, dim, h * 2):
                    a = m[:, i : i + h].copy()
                    b = m[:, i + h : i + 2 * h]
                    m[:, i : i + h] = a + b
                    m[:, i + h : i + 2 * h] = a - b
                h *= 2
            m /= np.sqrt(float(dim))
            for row_i, row in zip(ok, m):
                out[row_i] = row
        return pd.Series(out)

    return _rot(col)


def _sql_rbq_signs() -> str:
    return "[" + ",".join(str(v) for v in _RBQ_SIGNS) + "]::DOUBLE[]"


def _rbq_scored(spark: SparkSession, sf_dir: str, rotate) -> DataFrame:
    """The shared RaBitQ pipeline up to the UNROUNDED estimator:
    rotate -> sign/L1 signatures -> broadcast first-{_RBQ_QUERIES}
    queries x linear signature scan -> est_raw = <q', sign(x')>/||x'||_1.
    Both the oracle-parity expression form and the FWHT scale path
    compose over this; only the rotation differs."""
    emb = read_table(spark, sf_dir, "embeddings")
    rot = emb.select("vec_id", rotate(F.col("embedding")).alias("r"))
    sig = rot.select(
        "vec_id",
        F.transform("r", lambda x: F.when(x > 0, F.lit(1.0)).otherwise(F.lit(-1.0))).alias("s"),
        F.aggregate(
            F.transform("r", lambda x: F.abs(x)), F.lit(0.0), lambda a, b: a + b
        ).alias("l1"),
    )
    q = F.broadcast(
        rot.orderBy("vec_id")
        .limit(_RBQ_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("r").alias("qr"))
    )
    return (
        q.crossJoin(sig)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.aggregate(
                    F.zip_with("qr", "s", lambda a, b: a * b),
                    F.lit(0.0),
                    lambda a, b: a + b,
                )
                / F.col("l1")
            ).alias("est_raw"),
        )
    )


@query(
    "similarity_rabitq_topk",
    oracle=f"""
    WITH dd AS (SELECT {_sql_rbq_signs()} AS dv),
    rot AS (
        SELECT vec_id,
               [ list_sum([ (1 - 2*(bit_count(j & i) % 2)) * dv[i+1]
                            * embedding[i+1]
                            for i in generate_series(0, {_RBQ_DIM - 1})])
                 / sqrt({_RBQ_DIM})
                 for j in generate_series(0, {_RBQ_DIM - 1})] AS r
        FROM embeddings, dd
    ),
    sig AS (
        SELECT vec_id,
               [CASE WHEN x > 0 THEN 1.0 ELSE -1.0 END for x in r] AS s,
               list_sum([abs(x) for x in r]) AS l1
        FROM rot
    ),
    q AS (SELECT vec_id AS query_id, r AS qr FROM rot
          ORDER BY vec_id LIMIT {_RBQ_QUERIES}),
    scored AS (
        SELECT query_id, vec_id AS neighbor_id,
               round(list_sum([qr[k] * s[k]
                               for k in generate_series(1, {_RBQ_DIM})]) / l1,
                     6) AS est
        FROM q JOIN sig ON vec_id <> query_id
    )
    SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank, est FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY est DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= {_RBQ_TOPK}
    """,
    doc=(
        "RaBitQ-style rotated binary quantization ANN: vectors are "
        "rotated by a structured orthogonal transform (md5-derived sign "
        "diagonal then Walsh-Hadamard, H[j][i] = (-1)^popcount(j&i) — no "
        "materialized matrix) BEFORE taking one sign bit per dimension, "
        "and similarity is estimated as <q', sign(x')> / ||x'||_1 — the "
        "rotated query against the data vector's sign pattern with its "
        "stored L1 correction, the 1-bit estimator RaBitQ popularized. "
        "The rotation is what the existing sign-bit baseline "
        "(similarity_binary_quantized) lacks: axis-concentrated corpora "
        "collapse to a single sign pattern there (every Hamming distance "
        "0), while rotated signs keep discriminating (positive-tested on "
        "exactly that input). Estimates are rounded before ranking with "
        "id tiebreaks for the cross-engine contract. The per-row "
        "rotation is O(dim^2) interpreted HOF here; at 100 TB the signs "
        "+ L1 corrections (9 bytes/vector) are computed once at "
        f"index-build time and persisted. Top-{_RBQ_TOPK} per query, "
        "broadcast queries x linear signature scan, one query-keyed "
        "window for the cut — the same exact-baseline plan shape as the "
        "other searches."
    ),
)
def similarity_rabitq_topk(
    spark: SparkSession, sf_dir: str, fast_rotation: bool = False
) -> DataFrame:
    rotate = rotate_hadamard_fast if fast_rotation else rotate_hadamard
    scored = _rbq_scored(spark, sf_dir, rotate).select(
        "query_id", "neighbor_id", F.round("est_raw", 6).alias("est")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("est"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _RBQ_TOPK)
        .select(
            "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "est"
        )
    )


@query(
    "similarity_rabitq_fast_topk",
    oracle=f"""
    WITH dd AS (SELECT {_sql_rbq_signs()} AS dv),
    rot AS (
        SELECT vec_id,
               [ list_sum([ (1 - 2*(bit_count(j & i) % 2)) * dv[i+1]
                            * embedding[i+1]
                            for i in generate_series(0, {_RBQ_DIM - 1})])
                 / sqrt({_RBQ_DIM})
                 for j in generate_series(0, {_RBQ_DIM - 1})] AS r
        FROM embeddings, dd
    ),
    sig AS (
        SELECT vec_id,
               [CASE WHEN x > 0 THEN 1.0 ELSE -1.0 END for x in r] AS s,
               list_sum([abs(x) for x in r]) AS l1
        FROM rot
    ),
    q AS (SELECT vec_id AS query_id, r AS qr FROM rot
          ORDER BY vec_id LIMIT {_RBQ_QUERIES}),
    scored AS (
        SELECT query_id, vec_id AS neighbor_id,
               round(list_sum([qr[k] * s[k]
                               for k in generate_series(1, {_RBQ_DIM})]) / l1,
                     6) AS est
        FROM q JOIN sig ON vec_id <> query_id
    ),
    topk AS (
        SELECT query_id, round(sum(est), 4) AS top_est_sum FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY est DESC, neighbor_id) AS rn
            FROM scored
        ) WHERE rn <= {_RBQ_TOPK}
        GROUP BY query_id
    )
    SELECT s.query_id,
           CAST(count(*) AS BIGINT) AS n_scored,
           any_value(t.top_est_sum) AS top_est_sum,
           TRUE AS est_within_tol,
           TRUE AS topk_overlap_ok
    FROM scored s JOIN topk t ON s.query_id = t.query_id
    GROUP BY s.query_id
    """,
    doc=(
        "The RaBitQ FWHT SCALE PATH as a first-class registered query "
        "with a bounded-error VERDICT oracle (the dedup_minhash_mllib "
        "pattern for engine-private numerics): the Arrow-batched "
        "Walsh-Hadamard butterfly (rotate_hadamard_fast — O(dim log "
        "dim) numpy per batch, measured 24x faster than the interpreted "
        "O(dim^2) HOF at sf1: 41.1 s -> 1.7 s, Spark-FASTER than "
        "DuckDB) reassociates float additions, so its raw estimates "
        "can differ from the expression form in the last ulps and its "
        "row-level output cannot be hash-pinned across engines. This "
        "query therefore runs BOTH rotations and emits a per-query "
        "verdict the exact engine CAN pin: n_scored (every neighbor "
        "scored), top_est_sum (the fast path's top-k estimator mass, "
        "round-4 to absorb summation-order ulps — DuckDB recomputes it "
        "from its own full exact-rotation replica, so a hash match "
        "proves the fast path's RANKING and VALUES against independent "
        "ground truth, not liveness), est_within_tol (max "
        "|fast - exact| raw estimator gap <= 1e-9 over every scored "
        "pair), and topk_overlap_ok (ALL top-10 ids per query agree — "
        "pinned at 10/10, because top_est_sum is hash-checked against "
        "the oracle's exact-rotation top-k mass, so any one-member "
        "divergence would fail the hash anyway; a >=9/10 slack here "
        "would be tolerance theater). The "
        "fast branch is the plan an index build would run at 100 TB: "
        "rotation + 1-bit signatures + L1 persist as 9 bytes/vector at "
        "write time (ArrowEvalPython plan-asserted in tests); the "
        "expression branch exists here only as the in-query ground "
        "truth, exactly as the MLlib twin carries its exact-Jaccard "
        "truth side."
    ),
)
def similarity_rabitq_fast_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = _rbq_scored(spark, sf_dir, rotate_hadamard).select(
        "query_id", "neighbor_id", F.col("est_raw").alias("est_exact")
    )
    fast = _rbq_scored(spark, sf_dir, rotate_hadamard_fast).select(
        "query_id", "neighbor_id", F.col("est_raw").alias("est_fast")
    )
    j = exact.join(fast, ["query_id", "neighbor_id"])

    def _topk(df, col):
        w = Window.partitionBy("query_id").orderBy(
            F.desc(F.round(col, 6)), "neighbor_id"
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _RBQ_TOPK)
            .select("query_id", "neighbor_id", F.round(col, 6).alias("est6"))
        )

    tk_exact = _topk(exact, F.col("est_exact")).select("query_id", "neighbor_id")
    tk_fast = _topk(fast, F.col("est_fast"))
    overlap = (
        tk_fast.join(tk_exact, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    top_sum = tk_fast.groupBy("query_id").agg(
        F.round(F.sum("est6"), 4).alias("top_est_sum")
    )
    verdict = j.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        (F.max(F.abs(F.col("est_fast") - F.col("est_exact"))) <= 1e-9).alias(
            "est_within_tol"
        ),
    )
    return (
        verdict.join(top_sum, "query_id")
        .join(overlap, "query_id")
        .select(
            "query_id",
            "n_scored",
            "top_est_sum",
            "est_within_tol",
            (F.col("n_overlap") == _RBQ_TOPK).alias("topk_overlap_ok"),
        )
    )


def _rbq_scratch_path(sf_dir: str) -> str:
    """Versioned scratch path for the persisted RaBitQ signature index
    (the IVF/band-index freshness contract: keyed on source file
    mtimes+sizes so regenerated testdata never reuses a stale index)."""
    import glob
    import hashlib
    import os
    import tempfile

    src = sorted(glob.glob(os.path.join(sf_dir, "embeddings*")))
    version = source_version(src) or sf_dir
    tag = hashlib.sha256(f"{sf_dir}|{version}".encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"pes_rbq_sig_{tag}")


@query(
    "similarity_rabitq_persisted_probe",
    oracle=f"""
    WITH dd AS (SELECT {_sql_rbq_signs()} AS dv),
    rot AS (
        SELECT vec_id,
               [ list_sum([ (1 - 2*(bit_count(j & i) % 2)) * dv[i+1]
                            * embedding[i+1]
                            for i in generate_series(0, {_RBQ_DIM - 1})])
                 / sqrt({_RBQ_DIM})
                 for j in generate_series(0, {_RBQ_DIM - 1})] AS r
        FROM embeddings, dd
    ),
    sig AS (
        SELECT vec_id,
               [CASE WHEN x > 0 THEN 1.0 ELSE -1.0 END for x in r] AS s,
               list_sum([abs(x) for x in r]) AS l1
        FROM rot
    ),
    q AS (SELECT vec_id AS query_id, r AS qr FROM rot WHERE vec_id < 3),
    scored AS (
        SELECT query_id, vec_id AS neighbor_id,
               round(list_sum([qr[k] * s[k]
                               for k in generate_series(1, {_RBQ_DIM})]) / l1,
                     6) AS est
        FROM q JOIN sig ON vec_id <> query_id
    )
    SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank, est FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY est DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= {_RBQ_TOPK}
    """,
    doc=(
        "RaBitQ SERVING from a PERSISTED signature index — the "
        "compute-once-serve-many form the similarity_rabitq_topk "
        "docstring promises: the corpus is rotated ONCE at build time "
        "and committed as (vec_id, signs int64, l1) — one sign bit per "
        "dimension packed into a single BIGINT plus the L1 correction, "
        "~9 bytes/vector (functions/similarity.py write_rabitq_index; "
        "published atomically via private temp dir + rename, the IVF "
        "index protocol) — and probing reads ONLY that 16-byte-row "
        "table, unpacking bits inline (getbit) while accumulating in "
        "ascending dimension order, so the estimate is bit-identical "
        "to the unpersisted expression pipeline (each term is qr_i x "
        "+-1, an exact product) and the whole build->pack->persist->"
        "unpack->probe round trip hash-matches DuckDB's from-scratch "
        "replica. Build here uses the oracle-parity expression "
        "rotation; a 100 TB index build would run rotate_hadamard_fast "
        "(the verdict-stamped FWHT twin) and identical signs follow "
        "except for components within one ulp of zero — the estimator "
        "contract, not a bit-level one, is what an index serves. "
        "Probe cost per query: |corpus| x (64 getbits + 1 fma) over "
        "16-byte rows — 32x less IO than rescanning float32 vectors, "
        "the whole point of the quantization."
    ),
)
def similarity_rabitq_persisted_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import uuid

    from parquet_exporter_spark.functions.similarity import (
        probe_rabitq_index,
        write_rabitq_index,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    rot = emb.select("vec_id", rotate_hadamard(F.col("embedding")).alias("r"))
    path = _rbq_scratch_path(sf_dir)
    if not os.path.isfile(os.path.join(path, "_COMPLETE")):
        tmp = f"{path}.build-{uuid.uuid4().hex}"
        try:
            write_rabitq_index(rot, tmp, dim=_RBQ_DIM)
            with open(os.path.join(tmp, "_COMPLETE"), "w"):
                pass
            try:
                os.rename(tmp, path)
            except OSError:
                if not os.path.isfile(os.path.join(path, "_COMPLETE")):
                    shutil.rmtree(path, ignore_errors=True)
                    os.rename(tmp, path)
                # else: lost the publish race to an equivalent build
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    queries = rot.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("r").alias("qr")
    )
    return probe_rabitq_index(spark, path, queries, k=_RBQ_TOPK, dim=_RBQ_DIM)


_HOLT_ALPHA, _HOLT_BETA = 0.5, 0.25  # exact binary fractions: scaling by
# them is exact in doubles, so the sequential fold is bit-identical
# across engines (the oracle-float rule: no libm, no re-association).


@query(
    "timeseries_holt_linear",
    oracle=f"""
    WITH pts AS (
        SELECT user_id, list([value] ORDER BY ts, event_id) AS xs
        FROM events WHERE user_id < 200 AND value IS NOT NULL
        GROUP BY user_id
    ),
    folded AS (
        SELECT user_id, CAST(len(xs) AS BIGINT) AS n_points,
               list_reduce(xs, (acc, x) -> [
                   {_HOLT_ALPHA} * x[1]
                   + {1 - _HOLT_ALPHA} * (acc[1] + coalesce(acc[2], 0.0)),
                   {_HOLT_BETA} * (({_HOLT_ALPHA} * x[1]
                       + {1 - _HOLT_ALPHA} * (acc[1] + coalesce(acc[2], 0.0)))
                       - acc[1])
                   + {1 - _HOLT_BETA} * coalesce(acc[2], 0.0)
               ]) AS st
        FROM pts
    )
    SELECT user_id, n_points,
           round(st[1], 6) AS level,
           -- single-point series: list_reduce returns the seed element
           -- [x1] unapplied, so st[2] is an out-of-bounds NULL — the
           -- init state (trend 0) by coalesce, matching Spark's seed.
           round(coalesce(st[2], 0.0), 6) AS trend,
           round(st[1] + coalesce(st[2], 0.0), 6) AS forecast_1
    FROM folded
    """,
    doc=(
        "Holt linear-trend exponential smoothing per user — the 2-state "
        "member of the fold family (EWMA: 1 state, Kalman: adaptive "
        "gain): level' = a*x + (1-a)*(level+trend), trend' = "
        "b*(level'-level) + (1-b)*trend, seeded from the first "
        f"observation (level=x1, trend=0), a={_HOLT_ALPHA} b={_HOLT_BETA} "
        "— exact binary fractions so both engines' sequential folds are "
        "bit-identical; emits the final state and the one-step-ahead "
        "forecast level+trend, which a moving average structurally "
        "cannot produce (it has no trend state to extrapolate). Same "
        "scale shape as the siblings: ONE user-keyed shuffle, O(1) "
        "state per key, and the recurrence drops into "
        "applyInPandasWithState unchanged for the streaming twin."
    ),
)
def timeseries_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").filter(
        (F.col("user_id") < 200) & F.col("value").isNotNull()
    )
    pts = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("ts").cast("double").alias("t"),
                    F.col("event_id").cast("double").alias("e"),
                    F.col("value").cast("double").alias("v"),
                )
            )
        ).alias("xs")
    )
    a, b = _HOLT_ALPHA, _HOLT_BETA

    def step(acc, x):
        level = F.lit(a) * x.v + F.lit(1 - a) * (acc.level + acc.trend)
        trend = F.lit(b) * (level - acc.level) + F.lit(1 - b) * acc.trend
        return F.struct(level.alias("level"), trend.alias("trend"))

    fold = F.aggregate(
        F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))),
        F.struct(
            F.element_at("xs", 1).v.alias("level"),
            F.lit(0.0).alias("trend"),
        ),
        step,
    )
    return pts.select(
        "user_id",
        F.size("xs").cast("long").alias("n_points"),
        F.round(fold.level, 6).alias("level"),
        F.round(fold.trend, 6).alias("trend"),
        F.round(fold.level + fold.trend, 6).alias("forecast_1"),
    )


_HOLT_PHI = 0.875  # damping: 7/8, an exact binary fraction like alpha/beta;
# phi/(1-phi) = 7 exactly, so the damped trend's FINITE forecast asymptote
# level + 7*trend is itself exact arithmetic.


@query(
    "timeseries_holt_damped",
    oracle=f"""
    WITH pts AS (
        SELECT user_id, list([value] ORDER BY ts, event_id) AS xs
        FROM events WHERE user_id < 200 AND value IS NOT NULL
        GROUP BY user_id
    ),
    folded AS (
        SELECT user_id, CAST(len(xs) AS BIGINT) AS n_points,
               list_reduce(xs, (acc, x) -> [
                   {_HOLT_ALPHA} * x[1]
                   + {1 - _HOLT_ALPHA}
                     * (acc[1] + {_HOLT_PHI} * coalesce(acc[2], 0.0)),
                   {_HOLT_BETA} * (({_HOLT_ALPHA} * x[1]
                       + {1 - _HOLT_ALPHA}
                         * (acc[1] + {_HOLT_PHI} * coalesce(acc[2], 0.0)))
                       - acc[1])
                   + {1 - _HOLT_BETA} * {_HOLT_PHI} * coalesce(acc[2], 0.0)
               ]) AS st
        FROM pts
    )
    SELECT user_id, n_points,
           round(st[1], 6) AS level,
           round(coalesce(st[2], 0.0), 6) AS trend,
           round(st[1] + {_HOLT_PHI} * coalesce(st[2], 0.0), 6) AS forecast_1,
           round(st[1] + ({_HOLT_PHI} + {_HOLT_PHI * _HOLT_PHI}
                          + {_HOLT_PHI ** 3}) * coalesce(st[2], 0.0), 6)
               AS forecast_3,
           round(st[1] + 7.0 * coalesce(st[2], 0.0), 6) AS forecast_limit
    FROM folded
    """,
    doc=(
        "Damped-trend Holt exponential smoothing (Gardner-McKenzie) per "
        "user — the one-parameter extension of timeseries_holt_linear "
        "the round-11 verdict queued: level' = a*x + (1-a)*(level + "
        "phi*trend), trend' = b*(level'-level) + (1-b)*phi*trend with "
        f"phi={_HOLT_PHI}. Where plain Holt extrapolates its last trend "
        "forever (the classic multi-step blow-up on noisy series), the "
        "damped trend decays geometrically: the h-step forecast is "
        "level + (phi + ... + phi^h)*trend and converges to the FINITE "
        "asymptote level + phi/(1-phi)*trend — with phi=7/8 that "
        "damping factor is exactly 7, so even the infinite-horizon "
        "forecast is exact arithmetic. All three constants are exact "
        "binary fractions: every fold step is products and sums of "
        "binary-exact scalars in identical ascending order on both "
        "engines, so the recursion is bit-identical cross-engine (the "
        "holt_linear contract); emits the final state plus 1-step, "
        "3-step and limit forecasts. Same scale shape as the fold "
        "family: ONE user-keyed shuffle, O(1) state per key, streaming "
        "twin via applyInPandasWithState unchanged."
    ),
)
def timeseries_holt_damped(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").filter(
        (F.col("user_id") < 200) & F.col("value").isNotNull()
    )
    pts = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("ts").cast("double").alias("t"),
                    F.col("event_id").cast("double").alias("e"),
                    F.col("value").cast("double").alias("v"),
                )
            )
        ).alias("xs")
    )
    a, b, phi = _HOLT_ALPHA, _HOLT_BETA, _HOLT_PHI

    def step(acc, x):
        level = F.lit(a) * x.v + F.lit(1 - a) * (acc.level + F.lit(phi) * acc.trend)
        trend = F.lit(b) * (level - acc.level) + F.lit(1 - b) * F.lit(phi) * acc.trend
        return F.struct(level.alias("level"), trend.alias("trend"))

    fold = F.aggregate(
        F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))),
        F.struct(
            F.element_at("xs", 1).v.alias("level"),
            F.lit(0.0).alias("trend"),
        ),
        step,
    )
    damp3 = phi + phi * phi + phi**3
    return pts.select(
        "user_id",
        F.size("xs").cast("long").alias("n_points"),
        F.round(fold.level, 6).alias("level"),
        F.round(fold.trend, 6).alias("trend"),
        F.round(fold.level + F.lit(phi) * fold.trend, 6).alias("forecast_1"),
        F.round(fold.level + F.lit(damp3) * fold.trend, 6).alias("forecast_3"),
        F.round(fold.level + F.lit(7.0) * fold.trend, 6).alias("forecast_limit"),
    )


_COMPACT_TARGET = 100  # rows per planned compaction group


@query(
    "layout_compaction_plan",
    oracle=f"""
    WITH stats AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM events GROUP BY 1, 2
    ),
    planned AS (
        SELECT event_type, day, n_rows,
               CAST(floor(coalesce(sum(n_rows) OVER (
                        PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    / {_COMPACT_TARGET}) AS BIGINT) AS compact_group
        FROM stats
    )
    SELECT event_type, day, n_rows, compact_group,
           CAST(sum(n_rows) OVER (PARTITION BY event_type, compact_group)
                AS BIGINT) AS group_rows
    FROM planned
    """,
    doc=(
        "Compaction planning: greedy contiguous bin-packing of per-unit "
        "row counts into groups of ~"
        f"{_COMPACT_TARGET} rows — a unit joins group floor(rows_before "
        "/ target) within its partition, the strategy Spark's scan uses "
        "to coalesce small files into maxPartitionBytes splits, run over "
        "the LISTING instead of the data (sinks/layout.compaction_groups "
        "is the reusable form; dq_file_row_distribution supplies real "
        "per-file stats in production and write_compacted executes the "
        "plan). Here the per-(event_type, day) rollup stands in for the "
        "file listing so the plan is data-dependent at every SF. Greedy "
        "prefix packing may overshoot a group by at most one unit — the "
        "right bias for compaction (merging too much beats leaving "
        "stubs). Every window runs over a partition's bounded unit list, "
        "never the events themselves: the plan's cost is O(files), the "
        "whole point of planning from metadata."
    ),
)
def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_exporter_spark.sinks.layout import compaction_groups

    ev = read_table(spark, sf_dir, "events")
    stats = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    return compaction_groups(
        stats,
        _COMPACT_TARGET,
        partition_col="event_type",
        order_col="day",
        rows_col="n_rows",
    ).select("event_type", "day", "n_rows", "compact_group", "group_rows")


_HW_ALPHA, _HW_BETA, _HW_GAMMA = 0.5, 0.25, 0.25  # exact binary fractions,
# same rule as Holt linear: scaling is exact in doubles so the sequential
# fold is bit-identical across engines.
_HW_PERIOD = 7


def _hw_level_sql() -> str:
    """The level-update expression, textually shared by every use site in
    the oracle (DuckDB has no lateral let-binding inside a lambda; the
    repeated subexpression evaluates identically each time)."""
    j = "CAST(x[1] AS INT)"
    return (
        f"{_HW_ALPHA} * (x[2] - acc[{j} + 3])"
        f" + {1 - _HW_ALPHA} * (acc[1] + acc[2])"
    )


@query(
    "timeseries_holt_winters",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS v,
               CAST(date_diff('day', DATE '1970-01-01',
                              CAST(date_trunc('day', ts) AS DATE))
                    % {_HW_PERIOD} AS DOUBLE) AS j
        FROM events GROUP BY 1, 2
    ),
    series AS (
        SELECT event_type,
               list([j, v] ORDER BY day) AS xs,
               max(day) AS last_day,
               CAST(count(*) AS BIGINT) AS n_days
        FROM daily GROUP BY event_type
    ),
    folded AS (
        SELECT event_type, n_days, last_day,
               list_reduce(
                   list_prepend(
                       CAST([xs[1][2], 0, 0, 0, 0, 0, 0, 0, 0] AS DOUBLE[]),
                       xs[2:]),
                   (acc, x) -> list_concat(
                       [{_hw_level_sql()},
                        {_HW_BETA} * (({_hw_level_sql()}) - acc[1])
                            + {1 - _HW_BETA} * acc[2]],
                       list_transform(acc[3:{2 + _HW_PERIOD}],
                           (e, i) -> CASE WHEN i - 1 = CAST(x[1] AS INT)
                               THEN {_HW_GAMMA} * (x[2] - ({_hw_level_sql()}))
                                    + {1 - _HW_GAMMA} * e
                               ELSE e END))
               ) AS st
        FROM series
    )
    SELECT event_type, n_days,
           round(st[1], 6) AS level,
           round(st[2], 6) AS trend,
           round(st[1] + st[2]
                 + st[CAST((date_diff('day', DATE '1970-01-01', last_day) + 1)
                           % {_HW_PERIOD} AS INT) + 3], 6) AS forecast_1,
           round(list_min(st[3:{2 + _HW_PERIOD}]), 6) AS season_min,
           round(list_max(st[3:{2 + _HW_PERIOD}]), 6) AS season_max
    FROM folded
    """,
    doc=(
        "Holt-Winters additive triple exponential smoothing per "
        "event_type over the DAILY COUNT series — the 9-state member of "
        "the fold family (EWMA: 1, Holt: 2, Kalman: 2+gain): level' = "
        "a*(x - s_j) + (1-a)*(level+trend), trend' = b*(level'-level) + "
        "(1-b)*trend, s_j' = g*(x - level') + (1-g)*s_j, where j is the "
        "CALENDAR day-of-week (epoch-day mod 7), so missing days simply "
        "contribute no update. The input is a count series, not a sum — "
        "counts are exact integers in both engines, so the fold input is "
        "bit-identical and no pre-aggregation float drift can compound "
        "through the recurrence (the same reason the siblings fold raw "
        "values). Seeded with an EXPLICIT full-arity state prepended to "
        "the fold (level=x1, trend=0, seasonals 0) — the single-"
        "element-safe form the token-bucket fix established: DuckDB's "
        "list_reduce consumes the seed as its first element, Spark "
        "folds xs[2:] from the same literal struct, and a 1-day series "
        "returns the seed unapplied with full arity on both engines. "
        "Emits the final state plus the seasonally-adjusted one-step "
        "forecast level + trend + s_(next day's j) — the column a "
        "trend-only smoother structurally cannot produce. Scale shape: "
        "one partial-agg shuffle to |event_type, day| rows, one "
        "entity-keyed shuffle of bounded daily arrays, O(period) state "
        "per key; the recurrence drops into applyInPandasWithState "
        "unchanged for a streaming twin."
    ),
)
def timeseries_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    day = F.to_date(F.date_trunc("day", "ts"))
    daily = ev.groupBy(
        "event_type", day.alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    daily = daily.withColumn(
        "j", (F.datediff("day", F.lit("1970-01-01").cast("date")) % _HW_PERIOD)
    )
    series = daily.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("day").alias("d"), "j", "v"))
        ).alias("xs"),
        F.max("day").alias("last_day"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    a, b, g = _HW_ALPHA, _HW_BETA, _HW_GAMMA

    def step(acc, x):
        s_j = F.element_at(acc, x["j"] + F.lit(3))
        level, trend = F.element_at(acc, 1), F.element_at(acc, 2)
        level2 = F.lit(a) * (x["v"] - s_j) + F.lit(1 - a) * (level + trend)
        trend2 = F.lit(b) * (level2 - level) + F.lit(1 - b) * trend
        s2 = F.lit(g) * (x["v"] - level2) + F.lit(1 - g) * s_j
        seasonals = F.transform(
            F.slice(acc, 3, _HW_PERIOD),
            lambda e, i: F.when(i == x["j"], s2).otherwise(e),
        )
        return F.concat(F.array(level2, trend2), seasonals)

    seed = F.concat(
        F.array(F.element_at("xs", 1)["v"]),
        F.array_repeat(F.lit(0.0), 1 + _HW_PERIOD),
    )
    fold = F.aggregate(
        F.slice("xs", 2, F.greatest(F.size("xs") - 1, F.lit(0))), seed, step
    )
    next_j = (
        (F.datediff("last_day", F.lit("1970-01-01").cast("date")) + 1) % _HW_PERIOD
    )
    st = series.select(
        "event_type",
        "n_days",
        fold.alias("st"),
        next_j.alias("next_j"),
    )
    seas = F.slice("st", 3, _HW_PERIOD)
    return st.select(
        "event_type",
        "n_days",
        F.round(F.element_at("st", 1), 6).alias("level"),
        F.round(F.element_at("st", 2), 6).alias("trend"),
        F.round(
            F.element_at("st", 1)
            + F.element_at("st", 2)
            + F.element_at("st", F.col("next_j") + F.lit(3)),
            6,
        ).alias("forecast_1"),
        F.round(F.array_min(seas), 6).alias("season_min"),
        F.round(F.array_max(seas), 6).alias("season_max"),
    )


def _hwm_level_sql() -> str:
    """The MULTIPLICATIVE level-update expression, textually shared by
    every use site in the oracle (same no-lateral-let workaround as the
    additive twin; the repeated subexpression evaluates identically)."""
    j = "CAST(x[1] AS INT)"
    return (
        f"{_HW_ALPHA} * (x[2] / acc[{j} + 3])"
        f" + {1 - _HW_ALPHA} * (acc[1] + acc[2])"
    )


@query(
    "timeseries_holt_winters_mult",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS v,
               CAST(date_diff('day', DATE '1970-01-01',
                              CAST(date_trunc('day', ts) AS DATE))
                    % {_HW_PERIOD} AS DOUBLE) AS j
        FROM events GROUP BY 1, 2
    ),
    series AS (
        SELECT event_type,
               list([j, v] ORDER BY day) AS xs,
               max(day) AS last_day,
               CAST(count(*) AS BIGINT) AS n_days
        FROM daily GROUP BY event_type
    ),
    folded AS (
        SELECT event_type, n_days, last_day,
               list_reduce(
                   list_prepend(
                       CAST([xs[1][2], 0, 1, 1, 1, 1, 1, 1, 1] AS DOUBLE[]),
                       xs[2:]),
                   (acc, x) -> list_concat(
                       [{_hwm_level_sql()},
                        {_HW_BETA} * (({_hwm_level_sql()}) - acc[1])
                            + {1 - _HW_BETA} * acc[2]],
                       list_transform(acc[3:{2 + _HW_PERIOD}],
                           (e, i) -> CASE WHEN i - 1 = CAST(x[1] AS INT)
                               THEN {_HW_GAMMA} * (x[2] / ({_hwm_level_sql()}))
                                    + {1 - _HW_GAMMA} * e
                               ELSE e END))
               ) AS st
        FROM series
    )
    SELECT event_type, n_days,
           round(st[1], 6) AS level,
           round(st[2], 6) AS trend,
           round((st[1] + st[2])
                 * st[CAST((date_diff('day', DATE '1970-01-01', last_day) + 1)
                           % {_HW_PERIOD} AS INT) + 3], 6) AS forecast_1,
           round(list_min(st[3:{2 + _HW_PERIOD}]), 6) AS season_min,
           round(list_max(st[3:{2 + _HW_PERIOD}]), 6) AS season_max
    FROM folded
    """,
    doc=(
        "Holt-Winters MULTIPLICATIVE triple exponential smoothing per "
        "event_type over the daily count series — the seasonality form "
        "retail/traffic series need, where the weekly swing scales WITH "
        "the level (a +20% Saturday is +20% whether the week averages "
        "100 or 10,000; the additive twin would freeze it at a fixed "
        "row count): level' = a*(x / s_j) + (1-a)*(level+trend), "
        "trend' = b*(level'-level) + (1-b)*trend, s_j' = g*(x / "
        "level') + (1-g)*s_j, forecast = (level'+trend') * s_(next j). "
        "Same rational-arithmetic fold contract as the additive twin "
        "(llm8.py timeseries_holt_winters): exact-binary-fraction "
        "smoothing constants, exact integer count inputs, and IEEE "
        "division is correctly rounded like sqrt — every fold step is "
        "bit-identical cross-engine given identical order, which the "
        "sorted-array sequential fold guarantees. Seeded level=x1, "
        "trend=0, seasonals all 1.0 (the multiplicative identity — a "
        "0-seed would divide by zero on the first visit to each "
        "weekday), prepended full-arity so a 1-day series returns the "
        "seed unapplied on both engines. Scale shape unchanged: one "
        "partial-agg shuffle to |event_type, day| rows, one "
        "entity-keyed shuffle of bounded daily arrays, O(period) state "
        "per key, applyInPandasWithState-ready."
    ),
)
def timeseries_holt_winters_mult(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    day = F.to_date(F.date_trunc("day", "ts"))
    daily = ev.groupBy(
        "event_type", day.alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    daily = daily.withColumn(
        "j", (F.datediff("day", F.lit("1970-01-01").cast("date")) % _HW_PERIOD)
    )
    series = daily.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("day").alias("d"), "j", "v"))
        ).alias("xs"),
        F.max("day").alias("last_day"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    a, b, g = _HW_ALPHA, _HW_BETA, _HW_GAMMA

    def step(acc, x):
        s_j = F.element_at(acc, x["j"] + F.lit(3))
        level, trend = F.element_at(acc, 1), F.element_at(acc, 2)
        level2 = F.lit(a) * (x["v"] / s_j) + F.lit(1 - a) * (level + trend)
        trend2 = F.lit(b) * (level2 - level) + F.lit(1 - b) * trend
        s2 = F.lit(g) * (x["v"] / level2) + F.lit(1 - g) * s_j
        seasonals = F.transform(
            F.slice(acc, 3, _HW_PERIOD),
            lambda e, i: F.when(i == x["j"], s2).otherwise(e),
        )
        return F.concat(F.array(level2, trend2), seasonals)

    seed = F.concat(
        F.array(F.element_at("xs", 1)["v"], F.lit(0.0)),
        F.array_repeat(F.lit(1.0), _HW_PERIOD),
    )
    fold = F.aggregate(
        F.slice("xs", 2, F.greatest(F.size("xs") - 1, F.lit(0))), seed, step
    )
    next_j = (
        (F.datediff("last_day", F.lit("1970-01-01").cast("date")) + 1) % _HW_PERIOD
    )
    st = series.select(
        "event_type",
        "n_days",
        fold.alias("st"),
        next_j.alias("next_j"),
    )
    seas = F.slice("st", 3, _HW_PERIOD)
    return st.select(
        "event_type",
        "n_days",
        F.round(F.element_at("st", 1), 6).alias("level"),
        F.round(F.element_at("st", 2), 6).alias("trend"),
        F.round(
            (F.element_at("st", 1) + F.element_at("st", 2))
            * F.element_at("st", F.col("next_j") + F.lit(3)),
            6,
        ).alias("forecast_1"),
        F.round(F.array_min(seas), 6).alias("season_min"),
        F.round(F.array_max(seas), 6).alias("season_max"),
    )


_KCORE_K = 3
_KCORE_ROUNDS = 10
_KCORE_MIN_CO = 2  # edge = parts co-ordered in >= 2 distinct orders


def _kcore_oracle() -> str:
    """Unrolled fixed-round peel, the graph_pagerank oracle pattern.
    Every CTE is MATERIALIZED: each alive{{i}} is referenced twice by
    alive{{i+1}} (src AND dst membership), so plain CTE inlining would
    blow up 2^rounds."""
    ctes = [
        """lines AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)""",
        """co AS MATERIALIZED (
        SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS n
        FROM lines a JOIN lines b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2)""",
        f"edges AS MATERIALIZED (SELECT src, dst FROM co WHERE n >= {_KCORE_MIN_CO})",
        "alive0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges)",
    ]
    for i in range(1, _KCORE_ROUNDS + 1):
        ctes.append(
            f"""alive{i} AS MATERIALIZED (
            SELECT e.src AS node FROM edges e
            JOIN alive{i - 1} a ON e.src = a.node
            JOIN alive{i - 1} b ON e.dst = b.node
            GROUP BY e.src HAVING count(*) >= {_KCORE_K})"""
        )
    return (
        "WITH "
        + ", ".join(ctes)
        + f"""
        SELECT e.src AS part_key, CAST(count(*) AS BIGINT) AS core_degree
        FROM edges e
        JOIN alive{_KCORE_ROUNDS} a ON e.src = a.node
        JOIN alive{_KCORE_ROUNDS} b ON e.dst = b.node
        GROUP BY e.src"""
    )


@query(
    "graph_kcore",
    oracle=_kcore_oracle(),
    doc=(
        f"k-core decomposition (k={_KCORE_K}, {_KCORE_ROUNDS} fixed peel "
        "rounds) over the part co-purchase graph — parts are adjacent "
        f"when co-ordered in >= {_KCORE_MIN_CO} distinct orders, and each "
        "round removes nodes whose degree WITHIN the surviving set is "
        "below k; what remains is the maximal subgraph where every node "
        "keeps >= k strong co-purchase partners (the dense-bundle finder "
        "degree thresholds can't express, because deleting a node "
        "cascades). Fixed rounds make the iterative algorithm hash-"
        "comparable, the graph_pagerank pattern: the oracle unrolls the "
        "peel into chained MATERIALIZED CTEs (each round references the "
        "previous one twice, so un-materialized inlining would double "
        "per round). Measured at sf0.01 the peel reaches its fixpoint at "
        "exactly round 10 (1880 -> 935 nodes, every round shrinking), so "
        "10 rounds IS the k-core there; the contract is the fixed-round "
        "peel, exact whenever converged (at sf0.1 the strong-edge graph "
        "peels to an EMPTY 3-core in 2 rounds — co-occurrence >= 2 gets "
        "rarer as the part dimension grows). Scale shape: pairing runs "
        "over DISTINCT (order, part) lines — duplicate-part order lines "
        "cannot fake a co-order — and is bounded per order by TPC-H's "
        "<= 7 lines (never all-pairs over parts); "
        "each round is ONE shuffle of the surviving node set "
        "with lineage truncated via localCheckpoint, and the "
        "until-fixpoint production form detects convergence with an "
        "O(nodes) count, exactly like connected_components."
    ),
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dedupe (order, part) BEFORE pairing: an order listing the same part
    # on two lines must not fake a second co-order (the contract is
    # ">= 2 DISTINCT orders"), and deduping the input is cheaper than a
    # countDistinct over the expanded pair rows (measured: 9.7 s -> the
    # committed sf1 figure). localCheckpoint (not persist/unpersist): the
    # materialized edge set must outlive this function — the returned
    # plan references edges twice, and an unpersist-in-finally would
    # force the final action to recompute the self-join from scratch.
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _KCORE_MIN_CO)
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    alive = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(_KCORE_ROUNDS):
        alive = (
            edges.join(alive.withColumnRenamed("node", "src"), "src")
            .join(alive.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select(F.col("src").alias("node"))
            .localCheckpoint(eager=True)
        )
    return (
        edges.join(alive.withColumnRenamed("node", "src"), "src")
        .join(alive.withColumnRenamed("node", "dst"), "dst")
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .select(F.col("src").alias("part_key"), "core_degree")
    )


_BT_FOLDS = 5


@query(
    "timeseries_forecast_backtest",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2),
    series AS (
        -- 1-element arrays so list_reduce's implicit seed (= the first
        -- element) and the 2-state acc share a type, the holt_linear
        -- oracle's ragged-array trick (trend starts as an
        -- out-of-bounds NULL -> coalesce 0)
        SELECT event_type, list([v] ORDER BY day) AS xs,
               CAST(count(*) AS BIGINT) AS n
        FROM daily GROUP BY event_type),
    folds AS (
        SELECT event_type, n, xs, k.k, n - k.k AS m
        FROM series CROSS JOIN generate_series(1, {_BT_FOLDS}) AS k(k)
        WHERE n - k.k >= 2),
    fitted AS (
        SELECT event_type, CAST(k AS BIGINT) AS fold_back, m,
               xs[CAST(m + 1 AS INT)][1] AS actual,
               list_reduce(
                   xs[:CAST(m AS INT)],
                   (acc, x) -> [{_HOLT_ALPHA} * x[1]
                                    + {1 - _HOLT_ALPHA}
                                      * (acc[1] + coalesce(acc[2], 0.0)),
                                {_HOLT_BETA} * (({_HOLT_ALPHA} * x[1]
                                    + {1 - _HOLT_ALPHA}
                                      * (acc[1] + coalesce(acc[2], 0.0)))
                                    - acc[1])
                                    + {1 - _HOLT_BETA}
                                      * coalesce(acc[2], 0.0)]) AS st
        FROM folds)
    SELECT event_type, fold_back,
           CAST(m AS BIGINT) AS n_train,
           round(st[1] + coalesce(st[2], 0.0), 6) AS forecast,
           CAST(actual AS BIGINT) AS actual,
           round(abs(st[1] + coalesce(st[2], 0.0) - actual), 6) AS abs_err
    FROM fitted
    """,
    doc=(
        f"Rolling-origin forecast backtest: for each of the last "
        f"{_BT_FOLDS} days, refit the Holt linear smoother "
        "(timeseries_holt_linear's exact fold contract — a=1/2, b=1/4, "
        "seed level=x1 trend=0) on the series TRUNCATED before that "
        "day and score the one-step forecast against the held-out "
        "actual — the out-of-sample evaluation loop that separates 'the "
        "smoother converged' from 'the smoother predicts', and the "
        "harness MASE (timeseries_mase) plugs into as the error "
        "numerator. Each fold is the same bit-exact rational-"
        "arithmetic fold on a shorter prefix (integer counts, exact "
        "binary gains), so forecast, actual, and error are all "
        "hash-exact cross-engine. Scale shape: one partial-agg shuffle "
        "to the daily rollup, one entity-keyed shuffle of bounded "
        f"arrays, then {_BT_FOLDS} bounded refolds per entity — "
        "backtesting multiplies per-ENTITY work, never re-scans the "
        "fact table."
    ),
)
def timeseries_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    series = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "v"))).alias("dxs"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).select(
        "event_type", F.transform("dxs", lambda x: x["v"]).alias("xs"), "n"
    )
    ks = spark.range(1, _BT_FOLDS + 1).select(F.col("id").cast("long").alias("k"))
    folds = series.crossJoin(F.broadcast(ks)).filter(
        F.col("n") - F.col("k") >= 2
    ).withColumn("m", (F.col("n") - F.col("k")).cast("int"))
    a, b = _HOLT_ALPHA, _HOLT_BETA

    def step(acc, x):
        level = F.lit(a) * x + F.lit(1 - a) * (
            F.element_at(acc, 1) + F.element_at(acc, 2)
        )
        trend = F.lit(b) * (level - F.element_at(acc, 1)) + F.lit(1 - b) * F.element_at(
            acc, 2
        )
        return F.array(level, trend)

    fold = F.aggregate(
        F.slice("xs", 2, F.col("m") - 1),
        F.array(F.element_at("xs", 1), F.lit(0.0)),
        step,
    )
    fitted = folds.select(
        "event_type",
        F.col("k").alias("fold_back"),
        F.col("m").cast("long").alias("n_train"),
        fold.alias("st"),
        F.element_at("xs", F.col("m") + 1).alias("actual"),
    )
    fc = F.element_at("st", 1) + F.element_at("st", 2)
    return fitted.select(
        "event_type",
        "fold_back",
        "n_train",
        F.round(fc, 6).alias("forecast"),
        F.col("actual").cast("long").alias("actual"),
        F.round(F.abs(fc - F.col("actual")), 6).alias("abs_err"),
    )
