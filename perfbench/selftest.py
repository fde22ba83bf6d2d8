"""Self-test of the benchmark's plan-drop guard.

    python3 perfbench/selftest.py

The timed action of a query op (``workloads.sink``) must keep every
Window, Join, Generate and Aggregate operator of the query's full plan.
For ``window_frames`` and ``join_asof`` the test checks that the timed
action passes the guard and that a ``.count()`` action, which Catalyst
prunes to a scan count, fails it. Exits 0 when both hold, 1 otherwise.
Reads the benchmark's copy of the testdata; Spark's scratch goes to a
directory under ``.perfbench_work/``, removed afterwards.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import run  # noqa: E402
import sparkstats  # noqa: E402
import workloads  # noqa: E402

PINNED = ("window_frames", "join_asof")

SAMPLE = """AdaptiveSparkPlan (9)
+- == Final Plan ==
   OverwriteByExpression (8)
   +- * Project (7)
      +- Window (6)
         +- * Sort (5)
            +- * BroadcastHashJoin Inner BuildRight (4)
               :- * HashAggregate (2)
               +- Generate (3)
+- == Initial Plan ==
   Window (1)
"""


def main() -> int:
    problems = []
    want = {"Window": 1, "Join": 1, "Generate": 1, "Aggregate": 1}
    if sparkstats.plan_nodes(SAMPLE) != want:
        problems.append(f"plan_nodes(sample) = {sparkstats.plan_nodes(SAMPLE)}, want {want}")

    work = os.path.join(run.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    run.isolate(work)
    spark = None
    try:
        from parquet_exporter_spark.registry import REGISTRY, _ensure_loaded
        from parquet_exporter_spark.session import get_spark

        _ensure_loaded()
        spark = get_spark()
        for q in PINNED:
            df = REGISTRY[q].raw_fn(spark, workloads.TABLES_DIR)
            full = sparkstats.executed_plan_text(df)
            windows = []
            for action in (workloads.sink, type(df).count):
                t0 = time.time() * 1000
                action(df)
                windows.append((t0, time.time() * 1000))
            timed, counted = sparkstats.op_plans(spark, windows)
            lost = sparkstats.plan_drop(full, timed)
            if lost:
                problems.append(f"{q}: the timed action dropped {lost}")
            if not sparkstats.plan_drop(full, counted):
                problems.append(f"{q}: the guard did not catch the pruned .count() plan")
    finally:
        if spark is not None:
            spark.stop()
            run.stop_jvm(spark.sparkContext._gateway)
        os.chdir(run.ROOT)
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAIL" if problems else "PASS")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
