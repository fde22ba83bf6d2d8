"""The benchmark's workloads, each a closed loop with one client: the next
op starts only after the previous one returned.

- ``oneshot``: what a one-shot caller pays. Each pass runs, in an order
  shuffled by the seed, the twelve one-per-family headline queries and
  one reference export. A query op builds its plan fresh through
  ``REGISTRY[q].raw_fn`` (the prepared-plan cache is bypassed) and
  writes every output column to the ``noop`` sink; blocks the op
  persisted or checkpointed are released after it. The export op is
  ``pipeline.run_export`` over a nested JSON-lines corpus to snappy
  Parquet in a fresh directory.
- ``ingest``: each pass commits three micro-batches of one key/value
  stream, each through the five ``*_apply_batch`` partial stores, then
  runs one maintenance op per store: compact, read and serve it.

Only public functions of ``parquet_exporter_spark`` and Spark's status
APIs are called. The program is imported after ``run.py`` has isolated
the run.
"""

from __future__ import annotations

import glob
import importlib
import os
import random
import shutil
import time
from contextlib import contextmanager
from urllib.parse import urlparse

import pyarrow.parquet as pq

import checks
import datagen
import sparkstats
from tracing import Tracer

HEADLINE = [
    "agg_pricing_summary",
    "flagship_revenue_by_region",
    "join_inner_equi",
    "join_asof",
    "topk_global",
    "window_frames",
    "fn_explode_wordcount",
    "text_tfidf_top_terms",
    "dedup_minhash_lsh_pairs",
    "similarity_topk_bruteforce",
    "stream_tumbling_window",
    "sql_exists_correlated",
]
NO_ORACLE = "dedup_minhash_lsh_pairs"
EXPORT = "run_export"
# the query tables: the engine's testdata at scale factor 0.01 (60k
# lineitem rows), the same for every seed
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "sf0.01")
CORPUS_DOCS = 10_000  # export corpus: about 4.5 MB of JSON lines
SKETCHES = ("hll", "cms", "kmv", "hdr", "tdigest")
EXACT_SKETCHES = ("hll", "cms", "kmv", "hdr")
BATCH_ROWS = 8000
BATCHES_PER_PASS = 3  # then one maintenance op per sketch store


def load1() -> float:
    return round(os.getloadavg()[0], 2)


def sink(df) -> None:
    """The timed action: every output column reaches the noop sink."""
    df.write.format("noop").mode("overwrite").save()


def error(e: Exception) -> str:
    return f"{type(e).__name__}: {str(e)[:300]}"


class Bench:
    """State of one run: inputs, session, op records and tracer."""

    def __init__(self, seed: int, seconds: int, trace: bool, work: str):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.data = os.path.join(work, "data")
        self.tracer = Tracer(False)  # on during the traced timed pass only
        self.loadavg: list[tuple[str, float]] = [("start", load1())]
        self.phases: list[tuple[str, float]] = [("start", time.perf_counter())]
        self.ops: list[dict] = []
        self.untraced_ops: list[dict] = []
        self.failures: list[str] = []
        self.wrong: set[str] = set()
        self.setup_times: dict = {}
        self.conf: dict = {}
        self.forensics: dict = {}
        self.spark = None
        self._op_seq = 0
        # op kinds that run warm in both the traced pass and the untraced
        # pass after it; the tracing overhead compares these only
        self.warm_kinds: set[str] | None = None

    # ------------------------------------------------------------ set-up

    def setup(self) -> None:
        """Program set-up as a one-shot caller pays it: query-module
        import (``registry._ensure_loaded``), ``session.get_spark()`` with
        its defaults, which launches the JVM, and a first action."""
        t0 = time.perf_counter()
        registry = importlib.import_module("parquet_exporter_spark.registry")
        registry._ensure_loaded()
        t1 = time.perf_counter()
        spark = importlib.import_module("parquet_exporter_spark.session").get_spark()
        t2 = time.perf_counter()
        registry.REGISTRY["count_star"].raw_fn(spark, TABLES_DIR).collect()
        t3 = time.perf_counter()
        self.spark = spark
        self.setup_times = {
            "registry.load_s": t1 - t0,
            "session.start_s": t2 - t1,
            "session.first_action_s": t3 - t2,
            "total_s": t3 - t0,
        }
        self.registry = registry
        self.sc = spark.sparkContext
        keys = ("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled", "spark.driver.memory")
        self.conf = {k: spark.conf.get(k, None) for k in keys}
        self.conf["default_parallelism"] = self.sc.defaultParallelism
        self.mark("setup")

    def mark(self, phase: str) -> None:
        """End of a run phase: record its time and the 1-minute load."""
        self.phases.append((phase, time.perf_counter()))
        self.loadavg.append((phase, load1()))

    def phase_seconds(self) -> dict[str, float]:
        return {b[0]: b[1] - a[1] for a, b in zip(self.phases, self.phases[1:])}

    # --------------------------------------------------------- op records

    def new_op(self, kind: str, name: str) -> dict:
        self._op_seq += 1
        op = {"id": f"op-{self._op_seq}", "kind": kind, "name": name, "ok": True}
        self.tracer.op = op["id"]
        op["cpu0"] = sparkstats.tree_cpu_s()
        op["t0_ms"] = time.time() * 1000
        return op

    def end_op(self, op: dict, t0: float, timed: bool) -> None:
        op["latency_s"] = time.perf_counter() - t0
        op["t1_ms"] = time.time() * 1000
        op["cpu_s"] = sparkstats.tree_cpu_s() - op.pop("cpu0")
        op["timed"] = timed
        op["traced"] = timed and self.tracer.enabled
        self.tracer.op = None
        self.ops.append(op)

    def fail(self, target: str, what: str) -> None:
        """Record a failed check; every op named or of kind ``target``
        counts as wrong."""
        self.failures.append(f"{target}: {what}")
        self.wrong.add(target)

    def timed_loop(self, run_pass) -> tuple[float, float, float]:
        """Run whole passes, at least one, while another pass of the mean
        length so far still ends within ``seconds``; return the wall
        seconds, the CPU seconds of the process tree and the share of the
        machine's CPU time stolen by the hypervisor."""
        t0, c0, m0 = time.perf_counter(), sparkstats.tree_cpu_s(), sparkstats.cpu_times()
        n = 0
        while True:
            run_pass(n)
            n += 1
            self.mark(f"{'traced ' if self.tracer.enabled else ''}pass{n}")
            wall = time.perf_counter() - t0
            if wall + wall / n > self.seconds:
                return wall, sparkstats.tree_cpu_s() - c0, sparkstats.steal_frac(m0, sparkstats.cpu_times())

    def measure(self, run_pass) -> None:
        """The timed region. A traced run then repeats it untraced, so
        the tracing overhead is measured within the same run."""
        self.tracer.enabled = self.trace
        self.wall, self.cpu_s, self.steal_frac = self.timed_loop(run_pass)
        self.tracer.enabled = False
        if self.trace:
            traced = [op for op in self.ops if op["traced"]]
            for op, counts in zip(traced, sparkstats.op_counts(self.sc, [(op["t0_ms"], op["t1_ms"]) for op in traced])):
                op.update(counts)
            n0 = len(self.ops)
            self.timed_loop(run_pass)
            self.untraced_ops = self.ops[n0:]
            del self.ops[n0:]


@contextmanager
def wrapped(tracer: Tracer, owner, attr: str, span: str):
    """While tracing, wrap ``owner.attr`` from outside in a span."""
    orig = getattr(owner, attr)
    if not tracer.enabled:
        yield
        return

    def wrapper(*a, **k):
        with tracer.span(span):
            return orig(*a, **k)

    setattr(owner, attr, wrapper)
    try:
        yield
    finally:
        setattr(owner, attr, orig)


def data_files(path: str) -> tuple[int, int]:
    """(parquet files, bytes of all files) under ``path``."""
    files = [p for p in glob.glob(os.path.join(path, "**"), recursive=True) if os.path.isfile(p)]
    return sum(p.endswith(".parquet") for p in files), sum(os.path.getsize(p) for p in files)


# ====================================================================
# oneshot: cold queries and the reference export


def run_oneshot(b: Bench) -> None:
    os.makedirs(b.data)
    corpus = os.path.join(b.data, "climbs.jsonl")
    corpus_bytes = datagen.climbs_corpus(corpus, b.seed, CORPUS_DOCS)
    b.forensics.update(corpus_docs=CORPUS_DOCS, corpus_bytes=corpus_bytes)
    exports_dir = os.path.join(b.work, "exports")
    os.makedirs(exports_dir)
    b.mark("inputs")
    b.setup()
    R = b.registry.REGISTRY
    tables = importlib.import_module("parquet_exporter_spark.tables")
    pipeline = importlib.import_module("parquet_exporter_spark.pipeline")
    climbs_src = importlib.import_module("parquet_exporter_spark.sources.climbs")
    DataFrame = type(b.spark.range(0))  # the session's concrete class
    views = {t: tables.table_path(TABLES_DIR, t) for t in tables.TABLES}
    in_rows: dict[str, int] = {}
    kept: dict[str, tuple[dict, object]] = {}  # query -> (its last op, its DataFrame)
    tr = b.tracer

    def query_op(q: str) -> None:
        op = b.new_op("query", q)
        df = None
        t0 = time.perf_counter()
        try:
            with tr.span("op", query=q):
                with tr.span("queries.build", query=q):
                    df = R[q].raw_fn(b.spark, TABLES_DIR)
                if tr.enabled:
                    with tr.span("spark.plan", query=q):
                        df._jdf.queryExecution().executedPlan()
                with tr.span("spark.exec", query=q):
                    sink(df)
        except Exception as e:
            op.update(ok=False, error=error(e))
        op["rows_in"] = in_rows.get(q, 0)
        b.end_op(op, t0, timed=True)
        if df is not None:
            kept[q] = (op, df)
        op["persisted_rdds_after_op"] = sparkstats.release_blocks(b.spark)

    def export_op(timed: bool) -> str:
        out = os.path.join(exports_dir, f"out-{b._op_seq + 1}")
        op = b.new_op("export", EXPORT)
        t0 = time.perf_counter()
        try:
            with tr.span("op", kind="export"), \
                    wrapped(tr, pipeline, "reshape", "operators.reshape_build"), \
                    wrapped(tr, pipeline, "write_parquet", "sinks.write"), \
                    wrapped(tr, pipeline, "export_stats", "sinks.export_stats"), \
                    wrapped(tr, DataFrame, "count", "export.readback"), \
                    wrapped(tr, DataFrame, "first", "export.rawsize"):
                climbs = climbs_src.read_climbs_json(b.spark, corpus)
                stats = pipeline.run_export(b.spark, climbs, out)
            rows = stats["metrics"]["rows_observed"]
            if not rows == stats["total_rows"] == CORPUS_DOCS:
                op.update(ok=False, error=f"rows_observed={rows} total_rows={stats['total_rows']} docs={CORPUS_DOCS}")
        except Exception as e:
            op.update(ok=False, error=error(e))
        op["rows_in"] = CORPUS_DOCS
        op["bytes_in"] = corpus_bytes
        b.end_op(op, t0, timed)
        op["files_written"], op["bytes_out"] = data_files(out)
        return out

    # warm-up and correctness pass, untimed: each query built fresh and
    # delivered whole to the driver, checked against its DuckDB oracle;
    # one export checked against the reshape oracle
    first_hash = None
    warm_s = b.forensics["warmup_query_s"] = {}
    for q in HEADLINE:
        t = [time.perf_counter()]
        try:
            df = R[q].raw_fn(b.spark, TABLES_DIR)
            in_rows[q] = sum(pq.read_metadata(urlparse(p).path).num_rows for p in df.inputFiles())
            t.append(time.perf_counter())
            pdf = df.toPandas()
            t.append(time.perf_counter())
            if R[q].oracle is None:
                first_hash = checks.value_hash(pdf)
            else:
                why = checks.compare(pdf, checks.oracle_frame(R[q].oracle, views))
                if why:
                    b.fail(q, why)
            t.append(time.perf_counter())
        except Exception as e:
            b.fail(q, f"warm-up raised {error(e)}")
        sparkstats.release_blocks(b.spark)
        warm_s[q] = [round(y - x, 3) for x, y in zip(t, t[1:])]
    try:
        prepared = checks.value_hash(R[NO_ORACLE].fn(b.spark, TABLES_DIR).toPandas())
        if prepared != first_hash:
            b.fail(NO_ORACLE, "prepared-plan result differs from a fresh build")
    except Exception as e:
        b.fail(NO_ORACLE, f"prepared plan raised {error(e)}")
    sparkstats.release_blocks(b.spark)
    last_out = [export_op(timed=False)]
    check_export(b, last_out[0], corpus)
    b.mark("warmup")

    rng = random.Random(b.seed)

    def run_pass(_n: int) -> None:
        order = HEADLINE + [EXPORT]
        rng.shuffle(order)
        for name in order:
            if name == EXPORT:
                shutil.rmtree(last_out[0], ignore_errors=True)
                last_out[0] = export_op(timed=True)
            else:
                query_op(name)

    b.measure(run_pass)

    # after the timed region: the last export against the oracle, and the
    # plan-drop guard on each query's last timed action
    check_export(b, last_out[0], corpus)
    plans = sparkstats.op_plans(b.spark, [(op["t0_ms"], op["t1_ms"]) for op, _ in kept.values()])
    for (q, (_, df)), action in zip(kept.items(), plans):
        lost = sparkstats.plan_drop(sparkstats.executed_plan_text(df), action)
        if lost:
            b.fail(q, f"timed action dropped plan operators {lost}; its plan: {action[:1500]!r}")
    b.forensics["plan_guard_checked"] = sorted(kept)
    b.mark("checks")
    b.forensics["input_rows_per_query"] = in_rows


def check_export(b: Bench, out_dir: str, corpus: str) -> None:
    """Hash-match the exported Parquet against the ``climbs_reshape``
    oracle SQL evaluated by DuckDB over the same JSON lines."""
    rp = importlib.import_module("parquet_exporter_spark.queries.reference_parity")
    source = (
        f"read_json('{corpus}', format='newline_delimited', columns={{"
        "uuid: 'VARCHAR', name: 'VARCHAR', fa: 'VARCHAR', length: 'INTEGER', "
        "boltsCount: 'INTEGER', safety: 'VARCHAR', "
        "grades: 'STRUCT(yds VARCHAR, vscale VARCHAR, french VARCHAR)', "
        "type: 'STRUCT(sport BOOLEAN, trad BOOLEAN, bouldering BOOLEAN, alpine BOOLEAN, tr BOOLEAN)', "
        "metadata: 'STRUCT(lat DOUBLE, lng DOUBLE)', "
        "content: 'STRUCT(description VARCHAR)', pathTokens: 'VARCHAR[]'})"
    )
    sql = b.registry.REGISTRY["climbs_reshape"].oracle.replace(f"'{rp.CLIMBS_PQ}'", source)
    try:
        why = checks.compare(pq.read_table(out_dir).to_pandas(), checks.oracle_frame(sql, {}))
    except Exception as e:
        why = error(e)
    if why:
        b.fail(EXPORT, why)


# ====================================================================
# ingest: sketch partial stores


def run_ingest(b: Bench) -> None:
    stream_dir = os.path.join(b.work, "stream")
    stores_dir = os.path.join(b.work, "stores")
    os.makedirs(stream_dir)
    b.mark("inputs")
    b.setup()
    sk = {n: importlib.import_module(f"parquet_exporter_spark.streaming.{n}_ingest") for n in SKETCHES}
    # per sketch: apply, read, serve(spark, module, state), compact,
    # merge, one-shot partial, input column
    api = {
        "hll": ("hll_apply_batch", "read_hll_registers", lambda s, m, st: m.serve_hll_estimate(s, st),
                "compact_hll_store", "merge_hll", "hll_partial", "user_id"),
        "cms": ("cms_apply_batch", "read_cms_counters", lambda s, m, st: m.serve_cms_estimates(s, st, [1, 2, 3, 5, 8]),
                "compact_cms_store", "merge_cms", "cms_partial", "user_id"),
        "kmv": ("kmv_apply_batch", "read_kmv_hashes", lambda s, m, st: m.serve_kmv_estimate(s, st),
                "compact_kmv_store", "merge_kmv", "kmv_partial", "user_id"),
        "hdr": ("hdr_apply_batch", "read_hdr_buckets", lambda s, m, st: m.serve_hdr_quantiles(s, st, [0.5, 0.9, 0.99]),
                "compact_hdr_store", "merge_hdr", "hdr_partial", "cents"),
        "tdigest": ("tdigest_apply_batch", "read_tdigest_centroids",
                    lambda s, m, st: m.serve_tdigest_quantiles(s, st, [0.5, 0.9, 0.99]),
                    "compact_tdigest_store", "merge_tdigest", "tdigest_partial", "cents"),
    }
    stores = {n: os.path.join(stores_dir, n) for n in SKETCHES}
    tr = b.tracer
    batch_files: list[str] = []
    stream_bytes = [0]
    replays = [0]
    served: dict[str, tuple[list, int]] = {}

    def batch_op(timed: bool) -> None:
        batch_id = len(batch_files)
        path = os.path.join(stream_dir, f"batch-{batch_id:06d}.parquet")
        stream_bytes[0] += datagen.stream_batch(path, b.seed, batch_id, BATCH_ROWS)
        batch_files.append(path)
        op = b.new_op("batch", "apply")
        t0 = time.perf_counter()
        try:
            with tr.span("op", kind="batch"):
                bdf = b.spark.read.parquet(path)
                for n in SKETCHES:
                    apply, col = api[n][0], api[n][6]
                    with tr.span(f"streaming.{n}.apply"):
                        if not getattr(sk[n], apply)(bdf, batch_id, stores[n], col):
                            replays[0] += 1
        except Exception as e:
            op.update(ok=False, error=error(e))
        op["rows_in"] = BATCH_ROWS
        b.end_op(op, t0, timed)

    def maintain_op(n: str) -> None:
        """Fold one store's committed batches, then read and serve it."""
        _, read, serve, compact, _, _, _ = api[n]
        upto = len(batch_files) - 1
        op = b.new_op("maintain", n)
        t0 = time.perf_counter()
        try:
            with tr.span("op", kind="maintain"):
                with tr.span(f"streaming.{n}.compact"):
                    getattr(sk[n], compact)(b.spark, stores[n], upto)
                with tr.span(f"streaming.{n}.read"):
                    state = getattr(sk[n], read)(b.spark, stores[n])
                with tr.span(f"streaming.{n}.serve"):
                    served[n] = (serve(b.spark, sk[n], state).collect(), (upto + 1) * BATCH_ROWS)
        except Exception as e:
            op.update(ok=False, error=error(e))
        b.end_op(op, t0, timed=True)

    def run_pass(_n: int) -> None:
        for _ in range(BATCHES_PER_PASS):
            batch_op(timed=True)
        for n in SKETCHES:
            maintain_op(n)

    # warm-up, untimed: one batch. Maintenance is not warmed up: a run
    # times one pass, so its maintenance ops include the first compilation
    # of their plans, as the first compaction in a process does.
    batch_op(timed=False)
    b.mark("warmup")
    b.warm_kinds = {"batch"}

    b.measure(run_pass)

    # after the timed region: the exact-merge law for the lossless
    # sketches, and the t-digest's served row count
    def store_wrong(why: str) -> None:
        b.fail("batch", why)
        b.wrong.add("maintain")  # a store is the output of both op kinds

    whole = b.spark.read.parquet(*batch_files)
    for n in EXACT_SKETCHES:
        _, read, _, _, merge, partial, col = api[n]
        try:
            merged = getattr(sk[n], merge)(getattr(sk[n], read)(b.spark, stores[n]))
            oneshot = getattr(sk[n], partial)(whole, col)
            if checks.value_hash(merged.toPandas()) != checks.value_hash(oneshot.toPandas()):
                store_wrong(f"{n}: merged store differs from the one-shot partial of the stream")
        except Exception as e:
            store_wrong(f"{n}: exact-merge check raised {error(e)}")
    rows, committed = served.get("tdigest", ([], 0))
    if not rows or any(int(r["n"]) != committed for r in rows):
        b.fail("maintain", f"tdigest served n={[r['n'] for r in rows]} after {committed} committed rows")
    b.mark("checks")
    files, store_bytes = 0, 0
    for n in SKETCHES:
        f, nbytes = data_files(stores[n])
        files += f
        store_bytes += nbytes
    b.forensics.update(
        batch_rows=BATCH_ROWS,
        batches_per_pass=BATCHES_PER_PASS,
        batches=len(batch_files),
        stream_bytes=stream_bytes[0],
        store_files=files,
        store_bytes=store_bytes,
        replays=replays[0],
    )


WORKLOADS = {"oneshot": run_oneshot, "ingest": run_ingest}
