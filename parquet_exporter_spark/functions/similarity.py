"""Similarity-search primitives over embedding columns (array<float>).

The exact path (cosine via zip_with + aggregate) is a pure Catalyst
expression: elementwise double products accumulated left-to-right, which is
bit-identical to a sequential SQL implementation — that's what makes the
brute-force top-k oracle-checkable. The approximate path (random
hyperplane LSH) is the 100 TB strategy: candidate generation touches only
bucket-colliding pairs instead of the full cross product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two float arrays."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# SQL twin (DuckDB): identical arithmetic, sequential over the list.
def sql_dot(a: str, b: str) -> str:
    return f"list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)} / (sqrt({sql_dot(a, a)}) * sqrt({sql_dot(b, b)})))"


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, one window per query for the top-k cut.

    Scale shape: |Q| × |corpus| scored rows with Q broadcast — linear in
    corpus size, no corpus self-join. The per-query window shuffles only
    the scored pairs (WindowGroupLimit prunes each partition to its local
    top-k before the exchange), and ranking uses the rounded score with
    the corpus id as tiebreak so results are stable across engines.

    Parallelism: the scoring stage is compute-heavy per row (the dot
    product is a higher-order function — interpreted, not codegen'd), so
    a BYTE-sized scan split is the wrong granularity: a few-MB embedding
    table scans as 1-2 partitions and strands the other cores. When the
    corpus scan has fewer partitions than the cluster's parallelism, the
    corpus is repartitioned up — a trivial shuffle of the small input for
    a full-width scoring stage (measured 2.4x end-to-end at sf1,
    local[32]: 1.04 -> 0.43 s). When the scan is already wide (the 100 TB
    case: thousands of splits), no repartition happens — reshuffling a
    large corpus to "widen" it would be a regression.
    """
    from parquet_exporter_spark.functions.dedup import _widen_if_undersplit

    corpus = _widen_if_undersplit(corpus)
    # norms attach per ROW before the pair join — one dot product per pair
    # instead of three (cosine() would recompute both norms per pair)
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec).alias("__qvec"),
        norm(F.col(vec)).alias("__qn"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec).alias("__cvec"),
        norm(F.col(vec)).alias("__cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("__qvec"), F.col("__cvec")) / (F.col("__qn") * F.col("__cn")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes (LCG-based so no
    numpy state leaks into the plan; same planes every run)."""
    planes: list[list[float]] = []
    state = seed & 0x7FFFFFFF
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append((state / float(1 << 31)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec: str, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id from random-hyperplane projections: bit i set
    iff dot(vec, plane_i) >= 0. Cosine-similar vectors collide with high
    probability; bucket count = 2^n_planes. ``vec`` is the column NAME
    (or any SQL expression) of the float-array column.

    Optimization r15 (guide §1.2 step 2; the operators/pq.py recipe):
    built as ONE ``F.expr`` string per table instead of ~300 py4j Column
    round-trips — the parsed tree is the SAME evaluation as the Column
    form (identical zip_with/aggregate fold, identical casts and sign
    tests; repr'd doubles round-trip bit-exactly, the property
    tests/test_round15_ops.py pins), so buckets, candidates and scores
    are unchanged. Construction measured 1.7-2.0 s -> ~0.1 s for the
    8-table lsh_topk plan."""
    from parquet_exporter_spark.operators.pq import sql_double_literal

    if isinstance(vec, Column):
        raise TypeError(
            "lsh_bucket: vec must be a column name or SQL expression string, "
            "not a Column"
        )

    def _dot_sql(plane: list[float]) -> str:
        arr = "array(" + ", ".join(sql_double_literal(x) for x in plane) + ")"
        return (
            f"aggregate(zip_with({vec}, {arr}, (x, y) -> "
            f"(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))), 0.0D, "
            f"(acc, x) -> acc + x)"
        )

    bits = " + ".join(
        f"(CASE WHEN {_dot_sql(p)} >= 0 THEN {1 << i}L ELSE 0L END)"
        for i, p in enumerate(planes)
    )
    return F.expr(f"CAST(0 AS BIGINT) + {bits}")


def lsh_topk(
    df: DataFrame,
    k: int,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Approximate all-pairs top-k via multi-table random-hyperplane LSH.

    Each of the L tables buckets on n_planes hyperplane signs; a pair is a
    candidate if it collides in ANY table (OR-amplification): recall is
    1 - (1 - p^n_planes)^n_tables for collision probability p = 1 - θ/π.
    Candidates are deduped across tables, then scored exactly.

    At 100 TB this replaces the O(n^2) cross join with one shuffle per
    table over (bucket, vector) plus within-bucket scoring: tune n_planes
    up to shrink buckets, n_tables up to recover recall.
    """
    # Optimization r14 (guide §2.3, §4.1): norms attach per ROW (one
    # interpreted-HOF dot per vector) so the per-candidate score is a
    # single dot — cosine() per pair re-derived BOTH norms, tripling the
    # dominant interpreted-HOF work on the candidate stream (the same fix
    # brute_force_topk documents). The vectors also no longer ride the
    # band self-join and the candidate dedup: those exchanges now carry
    # 16-byte id pairs instead of the 64-double query vector per row
    # (shuffle keys, not payloads); both sides' vectors+norms re-attach
    # by id join after the dedup.
    tagged = df.select(
        F.col(id_col).alias("id"), F.col(vec).alias("v"), norm(F.col(vec)).alias("__nv")
    )
    # One bucket column per table, then explode: a single shuffle on
    # (table, bucket) instead of L separate joins.
    bucket_cols = []
    for t in range(n_tables):
        planes = random_hyperplanes(dim, n_planes, seed=42 + 1000 * t)
        bucket_cols.append(
            F.struct(F.lit(t).alias("t"), lsh_bucket("v", planes).alias("b"))
        )
    bucketed = tagged.select(
        "id", F.explode(F.array(*bucket_cols)).alias("tb")
    ).select("id", F.col("tb.t").alias("t"), F.col("tb.b").alias("b"))
    left = bucketed.select(F.col("id").alias("query_id"), "t", "b")
    right = bucketed.select(F.col("id").alias("neighbor_id"), "t", "b")
    candidates = (
        left.join(right, ["t", "b"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qside = tagged.select(
        F.col("id").alias("query_id"), F.col("v").alias("__qv"), F.col("__nv").alias("__qn")
    )
    cside = tagged.select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("__cv"), F.col("__nv").alias("__cn")
    )
    scored = (
        candidates.join(qside, "query_id")
        .join(cside, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def ivf_topk(
    df: DataFrame,
    k: int,
    n_centroids: int = 16,
    n_probes: int = 4,
    id_col: str = "vec_id",
    vec: str = "embedding",
    queries: DataFrame | None = None,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means cells + multi-probe search.

    Build: cluster the L2-normalized corpus with MLlib KMeans (normalizing
    first makes euclidean cells equivalent to cosine cells, i.e. spherical
    k-means); each corpus vector lands in exactly ONE cell — the inverted
    file. Search: a query scores the (tiny, broadcast) centroid table,
    probes its n_probes nearest cells, and scores exact cosine only within
    them.

    Scale shape vs lsh_topk: candidates come from one equi-join on cell id
    (corpus shuffled once by cell, no per-table explode, no candidate
    dedup since cells partition the corpus). Cost ≈ |corpus|·(n_probes /
    n_centroids) scored pairs per query; tune n_centroids ~ sqrt(n) and
    n_probes for the recall target. At 100 TB, fit the KMeans on a bounded
    sample (the cells only need to be roughly balanced) and persist the
    centroid table; here the corpus is small enough to fit on directly.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    # Bind the norm in its own projection: referencing norm(vec) inside the
    # transform lambda would re-evaluate it per element.
    normed = df.select(
        F.col(id_col).alias("id"), F.col(vec).alias("v0"), norm(F.col(vec)).alias("__n")
    ).select(
        "id",
        F.transform("v0", lambda x: x.cast("double") / F.col("__n")).alias("v"),
    )
    featurized = normed.withColumn("__fv", array_to_vector("v"))
    model = KMeans(
        k=n_centroids, seed=seed, featuresCol="__fv", predictionCol="cell"
    ).fit(featurized)
    inverted = model.transform(featurized).select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("__cv"), "cell"
    )

    spark = df.sparkSession
    # single-partition local relation: k centroid rows otherwise spread
    # over defaultParallelism near-empty partitions (see tables.tiny_df)
    from parquet_exporter_spark.tables import tiny_df

    centroids = tiny_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    )
    q = normed if queries is None else normed.join(
        queries.select(F.col(id_col).alias("id")), "id", "left_semi"
    )
    # Nearest cells by euclidean distance to a unit vector:
    # dist^2 = 1 + |c|^2 - 2 v.c  ->  rank by |c|^2 - 2 v.c ascending.
    probe_w = Window.partitionBy("query_id").orderBy("__d", "cell")
    probes = (
        q.select(F.col("id").alias("query_id"), F.col("v").alias("__qv"))
        .crossJoin(F.broadcast(centroids))
        .withColumn(
            "__d",
            dot(F.col("centroid"), F.col("centroid"))
            - 2.0 * dot(F.col("__qv"), F.col("centroid")),
        )
        .withColumn("__pr", F.row_number().over(probe_w))
        .filter(F.col("__pr") <= n_probes)
        .select("query_id", "__qv", "cell")
    )
    scored = (
        probes.join(inverted, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            # both sides unit vectors: dot IS the cosine
            F.round(dot(F.col("__qv"), F.col("__cv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def write_ivf_index(
    df: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec: str = "embedding",
    seed: int = 42,
) -> None:
    """Persist an IVF index as a PARTITIONED PARQUET LAYOUT: the corpus
    (unit-normalized) hive-partitioned by k-means cell under
    ``<path>/vectors/cell=<i>/``, centroids under ``<path>/centroids``.

    The index IS the directory structure — a probe is a parquet read with
    a ``cell IN (...)`` predicate that Spark resolves by PARTITION
    PRUNING, so serving touches only n_probes/n_centroids of the files.
    This is the batch-engine equivalent of an ANN index file: build cost
    amortizes across every later probe, and the layout co-locates each
    cell's vectors for sequential scanning. At 100 TB: fit KMeans on a
    sample, and size n_centroids so each cell is a few files.
    """
    import os

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    normed = df.select(
        F.col(id_col).alias("id"),
        F.col(vec).alias("v0"),
        norm(F.col(vec)).alias("__n"),
    ).select(
        "id",
        F.transform("v0", lambda x: x.cast("double") / F.col("__n")).alias("v"),
    )
    featurized = normed.withColumn("__fv", array_to_vector("v"))
    model = KMeans(
        k=n_centroids, seed=seed, featuresCol="__fv", predictionCol="cell"
    ).fit(featurized)
    (
        model.transform(featurized)
        .select("id", "v", "cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(path, "vectors"))
    )
    spark = df.sparkSession
    from parquet_exporter_spark.tables import tiny_df

    # single-slice literal relation (tables.tiny_df): createDataFrame +
    # coalesce(1) is the documented trap — it serializes 32 Python-worker
    # partition evaluations into one task (measured ~5.3 s for a k-row
    # table); parallelize(data, 1) is one partition from the start.
    tiny_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    ).write.mode("overwrite").parquet(os.path.join(path, "centroids"))


def append_ivf_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> None:
    """Incrementally add vectors to a persisted IVF index WITHOUT a
    refit: assign each new (unit-normalized) vector to its nearest
    EXISTING centroid and append under that cell's partition directory.

    The maintenance half of the serving index (mirrors the dedup band
    index's append): ingest batches keep landing in the right cells at
    O(batch x n_centroids) assignment cost — the bounded centroid table
    broadcasts, the argmin is one max_by-style aggregate, and probes are
    unchanged because the layout contract (vectors/cell=<i>) is
    preserved. Centroids drift as data grows; the production knob is a
    periodic refit (write_ivf_index) when cell-occupancy skew crosses a
    threshold, exactly like ANN-index rebuild schedules."""
    import os

    spark = df.sparkSession
    cents = spark.read.parquet(os.path.join(path, "centroids"))
    normed = df.select(
        F.col(id_col).alias("id"),
        F.col(vec).alias("v0"),
        norm(F.col(vec)).alias("__n"),
    ).select(
        "id",
        F.transform("v0", lambda x: x.cast("double") / F.col("__n")).alias("v"),
    )
    # unit query vs centroid: ranking by |c|^2 - 2 v.c matches probe_ivf_index
    d2 = (
        F.aggregate(
            F.transform("centroid", lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        - 2.0 * dot(F.col("v"), F.col("centroid"))
    )
    assigned = (
        normed.join(F.broadcast(cents))
        .select("id", "v", "cell", d2.alias("__d2"))
        .groupBy("id")
        .agg(
            F.min_by(
                F.struct("cell", "v"), F.struct(F.col("__d2"), F.col("cell"))
            ).alias("b")
        )
        .select("id", F.col("b.v").alias("v"), F.col("b.cell").alias("cell"))
    )
    assigned.write.mode("append").partitionBy("cell").parquet(
        os.path.join(path, "vectors")
    )


def probe_ivf_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int,
    n_probes: int = 4,
) -> DataFrame:
    """Serve one ANN query from a persisted IVF index.

    Probe-cell selection runs driver-side over the BOUNDED centroid table
    (n_centroids rows — catalog-sized, like reading an index header);
    the corpus itself is touched only through the pruned parquet read.
    Returns (neighbor_id, cos_sim, rnk) for the k nearest by cosine.
    """
    import math
    import os

    centroids = spark.read.parquet(os.path.join(path, "centroids")).collect()
    qn = math.sqrt(sum(x * x for x in query_vec))
    q = [x / qn for x in query_vec]
    # nearest cells for a unit query: rank by |c|^2 - 2 q.c ascending
    ranked = sorted(
        (
            sum(c * c for c in r.centroid) - 2.0 * sum(a * b for a, b in zip(q, r.centroid)),
            r.cell,
        )
        for r in centroids
    )
    probe_cells = [cell for _, cell in ranked[:n_probes]]

    vectors = spark.read.parquet(os.path.join(path, "vectors")).filter(
        F.col("cell").isin(probe_cells)
    )
    qcol = F.array(*[F.lit(float(x)) for x in q])
    scored = vectors.select(
        "neighbor_id" if "neighbor_id" in vectors.columns else F.col("id").alias("neighbor_id"),
        F.round(dot(qcol, F.col("v")), 6).alias("cos_sim"),
    )
    # top-k via orderBy+limit -> TakeOrderedAndProject (per-partition heaps,
    # no single-partition sort of the probed cells); ranks are then a
    # window over only the k surviving rows.
    topk = scored.orderBy(F.col("cos_sim").desc(), F.col("neighbor_id")).limit(k)
    w = Window.orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return topk.withColumn("rnk", F.row_number().over(w).cast("long"))


def write_ivfpq_index(
    df: DataFrame,
    path: str,
    n_centroids: int = 8,
    n_subspaces: int = 8,
    pq_centroids: int = 16,
    id_col: str = "vec_id",
    vec: str = "embedding",
    seed: int = 42,
) -> list[list[list[float]]]:
    """FAISS-style IVF+PQ index as a parquet LAYOUT: vectors are
    k-means-cell partitioned (coarse quantizer, like write_ivf_index)
    but each row stores only its M PQ codes — the 256-byte float vector
    never lands in the index. Layout: ``<path>/codes/cell=<i>/`` with
    (id, codes), ``<path>/centroids`` for the coarse cells; the PQ
    codebooks are returned (and also the residual-free simple variant:
    codebooks trained on the raw vectors, not residuals — documented
    simplification, same serving shape).

    A probe = partition-pruned scan of n_probes cells + ADC lookup
    scoring over codes — I/O is M bytes per candidate instead of 4·D.
    """
    import os

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from parquet_exporter_spark.operators.pq import pq_model

    normed = df.select(
        F.col(id_col).alias("id"),
        F.col(vec).alias("v0"),
        norm(F.col(vec)).alias("__n"),
    ).select(
        "id",
        F.transform("v0", lambda x: x.cast("double") / F.col("__n")).alias("v"),
    )
    featurized = normed.withColumn("__fv", array_to_vector("v"))
    model = KMeans(
        k=n_centroids, seed=seed, featuresCol="__fv", predictionCol="cell"
    ).fit(featurized)
    assigned = model.transform(featurized).select("id", "v", "cell")

    encoded, books = pq_model(
        normed, n_subspaces, pq_centroids, id_col="id", vec="v"
    )
    (
        assigned.select("id", "cell")
        .join(encoded.select(F.col("vec_id").alias("id"), "codes"), "id")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(path, "codes"))
    )
    spark = df.sparkSession
    from parquet_exporter_spark.tables import tiny_df

    # single-slice literal relation (tables.tiny_df): createDataFrame +
    # coalesce(1) is the documented trap — it serializes 32 Python-worker
    # partition evaluations into one task (measured ~5.3 s for a k-row
    # table); parallelize(data, 1) is one partition from the start.
    tiny_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    ).write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    return books


def probe_ivfpq_index(
    spark,
    path: str,
    books: list[list[list[float]]],
    query_vec: list[float],
    k: int,
    n_probes: int = 3,
) -> DataFrame:
    """Serve one ANN query from the IVF+PQ index: prune to n_probes
    cells via the centroid table (index-header read), then ADC-score
    the candidates' CODES — the full vectors are never touched.
    Returns (vec_id, adc_dist, in both the codes' id domain)."""
    import math
    import os

    from parquet_exporter_spark.operators.pq import pq_adc_topk

    centroids = spark.read.parquet(os.path.join(path, "centroids")).collect()
    qn = math.sqrt(sum(x * x for x in query_vec))
    q = [x / qn for x in query_vec]
    ranked = sorted(
        (
            sum(c * c for c in r.centroid) - 2.0 * sum(a * b for a, b in zip(q, r.centroid)),
            r.cell,
        )
        for r in centroids
    )
    probe_cells = [cell for _, cell in ranked[:n_probes]]
    codes = (
        spark.read.parquet(os.path.join(path, "codes"))
        .filter(F.col("cell").isin(probe_cells))
        .select(F.col("id").alias("vec_id"), "codes")
    )
    return pq_adc_topk(codes, books, q, k)


def write_rabitq_index(rot_df: DataFrame, path: str, dim: int = 64) -> None:
    """Persist RaBitQ 1-bit signatures for ALREADY-ROTATED vectors:
    (vec_id, signs BIGINT, l1 DOUBLE) — one sign bit per dimension
    packed into a single int64 (bit i set iff rotated component i > 0)
    plus the L1 correction, the ~9-bytes-per-vector layout the RaBitQ
    estimator serves from (the full vectors are never read at probe
    time). ``rot_df`` must carry (vec_id, r array<double>); rotation
    happens at build time exactly as queries/llm8.py's docstring
    promises — compute once, serve many. Packing uses addition of
    distinct powers of two, so bit 63 (min-long in two's complement)
    is overflow-safe under ANSI arithmetic."""
    sig = rot_df.select(
        "vec_id",
        F.expr(
            f"aggregate(sequence(0, {dim - 1}), 0L, (acc, i) -> "
            "acc + IF(element_at(r, i + 1) > 0D, shiftleft(1L, i), 0L))"
        ).alias("signs"),
        F.expr(
            "aggregate(transform(r, x -> abs(x)), 0D, (acc, x) -> acc + x)"
        ).alias("l1"),
    )
    sig.write.mode("overwrite").parquet(path)


def probe_rabitq_index(
    spark, path: str, queries_rot: DataFrame, k: int = 10, dim: int = 64
) -> DataFrame:
    """Serve top-k from the persisted signature table: broadcast the
    bounded rotated-query set against a linear scan of (signs, l1) —
    16 bytes a row — and estimate <q', sign(x')>/||x'||_1 by unpacking
    sign bits inline (getbit), accumulating in ascending dimension
    order so the estimate is bit-identical to the unpersisted
    expression pipeline (each term is qr_i * (+-1), an exact product).
    ``queries_rot`` must carry (query_id, qr array<double>). Returns
    (query_id, neighbor_id, rank, est) with the contract's round-6 +
    id tiebreak ranking; self-matches are excluded."""
    sig = spark.read.parquet(path)
    est_raw = (
        F.expr(
            f"aggregate(sequence(0, {dim - 1}), 0D, (acc, i) -> "
            "acc + element_at(qr, i + 1) * (2.0D * getbit(signs, i) - 1.0D))"
        )
        / F.col("l1")
    )
    scored = (
        F.broadcast(queries_rot)
        .crossJoin(sig)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(est_raw, 6).alias("est"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("est"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "est"
        )
    )
