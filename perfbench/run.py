"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload oneshot --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. The last line of standard output
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``;
with ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones. The line before it carries the run's
forensics (environment, per-op raw timings, load trace, failures), and a
copy of both plus the span list is written under ``perfbench_out/``.

Each run works in a fresh directory under ``.perfbench_work/``: inputs,
``TMPDIR``, ``SPARK_LOCAL_DIRS``, the JVM's temp directory and the
session's working directory (its ``spark-warehouse/``) all live there,
and the directory is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import time

import sparkstats
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def isolate(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the JVM's own temp files (native-library extraction, perf data)
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.chdir(work)


def pct(values: list[float], p: int) -> float:
    """The p-th percentile, interpolated between order statistics."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def tail_rule_pct(n: int) -> int | None:
    """Highest whole percentile with at least ten samples beyond it."""
    return int(100 * (1 - 10 / n)) if n > 10 else None


def stop_jvm(gateway) -> None:
    """Close the py4j gateway and wait for the driver JVM to exit (it
    exits when its standard input closes)."""
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def end_to_end(b) -> dict:
    timed = [op for op in b.ops if op["timed"]]
    lat = [op["latency_s"] for op in timed]
    return {
        "setup_s": (b.setup_times["total_s"], "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_p90_s": (pct(lat, 90), "s"),
        "ops_per_s": (len(timed) / b.wall, "1/s"),
        "rows_per_s": (sum(op.get("rows_in", 0) for op in timed) / b.wall, "rows/s"),
        "cpu_s_per_op": (b.cpu_s / len(timed), "s"),
    }


def per_layer(b) -> dict:
    tr = b.tracer
    traced = [op for op in b.ops if op.get("traced")]
    queries = [op for op in traced if op["kind"] == "query"]
    exports = [op for op in traced if op["kind"] == "export"]

    def mean_span(name: str, n: int) -> float:
        return sum(tr.durations(name)) / n if n else 0.0

    def med(values) -> float:
        values = list(values)
        return statistics.median(values) if values else 0.0

    def per_op(key: str) -> float:
        return sum(op.get(key, 0) for op in traced) / len(traced) if traced else 0.0

    def q_spans(q: str, layer: str) -> list[float]:
        return [s["end"] - s["start"] for s in tr.spans if s["name"] == layer and s.get("query") == q]

    s = b.setup_times
    m = {
        "process.peak_rss_mb": (b.peak_rss_mb, "MB"),
        "session.start_s": (s["session.start_s"], "s"),
        "registry.load_s": (s["registry.load_s"], "s"),
        "session.first_action_s": (s["session.first_action_s"], "s"),
        "queries.build_s": (mean_span("queries.build", len(queries)), "s"),
        "spark.plan_s": (mean_span("spark.plan", len(queries)), "s"),
        "spark.exec_s": (mean_span("spark.exec", len(queries)), "s"),
    }
    for q in workloads.HEADLINE:
        for layer, key in (("queries.build", "build_s"), ("spark.plan", "plan_s"), ("spark.exec", "exec_s")):
            m[f"queries.{q}.{key}"] = (med(q_spans(q, layer)), "s")
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"spark.{key}"] = (per_op(key), "count")
    m["spark.shuffle_write_bytes"] = (per_op("shuffle_write_bytes"), "bytes")
    m["spark.spill_bytes"] = (per_op("spill_bytes"), "bytes")
    m["spark.persisted_rdds_after_op"] = (
        sum(op.get("persisted_rdds_after_op", 0) for op in queries) / len(queries) if queries else 0.0,
        "count",
    )
    n_exp = len(exports)
    m["sinks.write_s"] = (mean_span("sinks.write", n_exp), "s")
    m["sinks.files_written"] = (sum(op["files_written"] for op in exports) / n_exp if n_exp else 0.0, "count")
    m["sinks.bytes_written"] = (sum(op["bytes_out"] for op in exports) / n_exp if n_exp else 0.0, "bytes")
    m["export.readback_s"] = (mean_span("export.readback", n_exp), "s")
    m["export.rawsize_s"] = (mean_span("export.rawsize", n_exp), "s")
    m["sinks.export_stats_s"] = (mean_span("sinks.export_stats", n_exp), "s")
    m["operators.reshape_build_s"] = (mean_span("operators.reshape_build", n_exp), "s")
    m["export.bytes_out_per_byte_in"] = (
        sum(op["bytes_out"] for op in exports) / sum(op["bytes_in"] for op in exports) if n_exp else 0.0,
        "ratio",
    )
    for sk in workloads.SKETCHES:
        for part in ("apply", "read", "serve", "compact"):
            m[f"streaming.{sk}.{part}_s"] = (med(tr.durations(f"streaming.{sk}.{part}")), "s")
    f = b.forensics
    m["partial_store.files"] = (f.get("store_files", 0), "count")
    m["partial_store.bytes"] = (f.get("store_bytes", 0), "bytes")
    m["partial_store.replays"] = (f.get("replays", 0), "count")
    m["ingest.bytes_out_per_byte_in"] = (
        f["store_bytes"] / f["stream_bytes"] if f.get("stream_bytes") else 0.0,
        "ratio",
    )
    m["trace.overhead_frac"] = (trace_overhead(b), "frac")
    return m


def trace_overhead(b) -> float:
    """Median over ops of traced latency / untraced latency - 1, pairing
    each traced op with the untraced op of the same name and rank. Only
    op kinds that run warm in both passes are compared."""
    def by_name(ops) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for op in ops:
            if op["timed"] and (b.warm_kinds is None or op["kind"] in b.warm_kinds):
                out.setdefault(op["name"], []).append(op["latency_s"])
        return out

    traced, untraced = by_name(b.ops), by_name(b.untraced_ops)
    ratios = [t / u for name, ts in traced.items() for t, u in zip(ts, untraced.get(name, []))]
    return statistics.median(ratios) - 1.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "parquet_exporter_spark", "registry.py")):
        print(f"perfbench: no parquet_exporter_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, "perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(work)
    t_start = time.perf_counter()
    isolate(work)
    b = workloads.Bench(args.seed, args.seconds, bool(args.trace), work)
    try:
        workloads.WORKLOADS[args.workload](b)
        b.peak_rss_mb = sparkstats.peak_rss_mb(b.sc)
        metrics = per_layer(b) if args.trace else end_to_end(b)
    finally:
        if b.spark is not None:
            b.spark.stop()
            stop_jvm(b.spark.sparkContext._gateway)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        b.mark("teardown")

    timed = [op for op in b.ops if op["timed"]]
    failed = sum(1 for op in timed if not op["ok"] or op["name"] in b.wrong or op["kind"] in b.wrong)
    for op in b.ops:
        if not op["ok"]:
            b.failures.append(f"{op['id']} {op['name']}: {op.get('error')}")
    from pyspark import __version__ as spark_version

    lat = [op["latency_s"] for op in timed]
    forensics = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "spark_conf": b.conf,
        "spark_version": spark_version,
        "python_version": platform.python_version(),
        "loadavg_1min": b.loadavg,
        "phase_s": b.phase_seconds(),
        "setup_parts_s": b.setup_times,
        "timed_ops": len(timed),
        "timed_wall_s": b.wall,
        "timed_cpu_s": b.cpu_s,
        "timed_steal_frac": b.steal_frac,
        "tail_rule_pct": tail_rule_pct(len(lat)),
        "tail_rule_s": pct(lat, tail_rule_pct(len(lat))) if len(lat) > 10 else None,
        "failures": b.failures,
        "total_run_s": time.perf_counter() - t_start,
        **b.forensics,
        "ops": b.ops,
    }
    if args.trace:
        forensics["untraced_ops"] = b.untraced_ops
        forensics["self_time_s"] = b.tracer.self_times()
        stem = f"{args.workload}-seed{args.seed}-trace"
        b.tracer.dump(os.path.join(out_dir, f"{stem}-spans.json"))
    else:
        stem = f"{args.workload}-seed{args.seed}"
    result = {
        "correct": not b.failures and failed == 0,
        "attempted": len(timed),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(out_dir, f"{stem}.json"), "w") as f:
        json.dump({"result": result, "forensics": forensics}, f, indent=1, default=str)
    print(json.dumps({"forensics": forensics}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
