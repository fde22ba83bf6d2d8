"""Engine-side readings taken through Spark's own status APIs: per-op job,
stage and task counts, shuffle and spill bytes (the application status
store), the executed plan of each op's action (the SQL status store),
persisted-RDD release, process-tree CPU time, the machine's stolen CPU
time and the driver's peak resident memory.
"""

from __future__ import annotations

import os
import re

# Physical operators whose loss means the timed action skipped work the
# caller pays for. Join covers every join strategy (AQE may switch
# sort-merge to broadcast-hash at run time, which keeps the operator).
GUARDED = {
    "Window": re.compile(r"Window(GroupLimit)?"),
    "Join": re.compile(r"\w*Join|CartesianProduct"),
    "Generate": re.compile(r"Generate"),
    "Aggregate": re.compile(r"\w*Aggregate"),
}
# head of a tree line: indentation and branch marks, an optional
# whole-stage-codegen marker ("*" or "*(3)"), then the operator name
_NODE = re.compile(r"^[\s:+\-|]*(?:\*(?:\(\d+\))?\s*)?(\w+)")


def plan_nodes(plan_text: str) -> dict[str, int]:
    """Count guarded operator kinds in a plan tree rendering. Only the
    operator name at the head of each tree line counts, and for an AQE
    plan only its final (or, before execution, its current) plan."""
    text = plan_text.split("+- == Initial Plan ==")[0]
    counts = {k: 0 for k in GUARDED}
    for line in text.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        name = m.group(1)
        for kind, pat in GUARDED.items():
            if pat.fullmatch(name):
                counts[kind] += 1
    return counts


def executed_plan_text(df) -> str:
    """The DataFrame's own physical plan (forces planning)."""
    return df._jdf.queryExecution().executedPlan().treeString()


def plan_drop(full_text: str, action_text: str) -> dict[str, tuple[int, int]]:
    """Operator kinds the action's plan has fewer of than the full plan:
    {kind: (full, action)}; empty when nothing was pruned away."""
    full, act = plan_nodes(full_text), plan_nodes(action_text)
    return {k: (full[k], act[k]) for k in GUARDED if act[k] < full[k]}


def _drain(sc) -> None:
    """Wait until the listener bus has delivered every event, so the
    status stores hold the finished jobs and executions."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def _window(windows: list[tuple[float, float]], t_ms: float) -> int | None:
    for k, (t0, t1) in enumerate(windows):
        if t0 <= t_ms <= t1:
            return k
    return None


def op_plans(spark, windows: list[tuple[float, float]]) -> list[str]:
    """For each op window (epoch ms), the physical plan of the last SQL
    action submitted in it, as the SQL status store recorded it (the AQE
    final plan for adaptive queries); "" when none. Ops are matched by
    time: matching by a per-op job group intermittently gave an op the
    plan of another op."""
    _drain(spark.sparkContext)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    last: dict[int, tuple[int, str]] = {}
    for i in range(execs.size()):
        e = execs.apply(i)
        k = _window(windows, e.submissionTime())
        if k is not None and (k not in last or e.executionId() > last[k][0]):
            last[k] = (e.executionId(), e.physicalPlanDescription())
    return [last[k][1].split("\n\n")[0] if k in last else "" for k in range(len(windows))]


def op_counts(sc, windows: list[tuple[float, float]]) -> list[dict[str, int]]:
    """For each op window (epoch ms): jobs submitted in it, their stages,
    tasks and failed tasks, and the shuffle-write and spill bytes of the
    stages they ran. A stage shared with an earlier job (shuffle reuse)
    counts once."""
    _drain(sc)
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = [dict(jobs=0, stages=0, tasks=0, failed_tasks=0, shuffle_write_bytes=0, spill_bytes=0) for _ in windows]
    seen: set[int] = set()
    for job in sorted((jobs.apply(i) for i in range(jobs.size())), key=lambda j: j.jobId()):
        submitted = job.submissionTime()
        k = _window(windows, submitted.get().getTime()) if submitted.isDefined() else None
        if k is None:
            continue
        c = out[k]
        c["jobs"] += 1
        c["tasks"] += job.numCompletedTasks() + job.numFailedTasks()
        c["failed_tasks"] += job.numFailedTasks()
        stage_ids = job.stageIds()
        c["stages"] += stage_ids.size()
        for j in range(stage_ids.size()):
            sid = int(stage_ids.apply(j))
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # the stage never ran
                continue
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


def release_blocks(spark) -> int:
    """Unpersist every persisted or locally checkpointed RDD the session
    holds and clear the SQL cache; return how many RDDs were persisted."""
    sc = spark.sparkContext
    rdds = sc._jsc.getPersistentRDDs()
    n = int(rdds.size())
    if n:
        for rdd in list(rdds.values()):
            rdd.unpersist(True)
    spark.catalog.clearCache()
    return n


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) used so
    far by process ``root`` (default: this one) and all its
    descendants: the driver JVM and its Python workers. Time the
    hypervisor steals from the machine is not in it."""
    root = os.getpid() if root is None else root
    stats: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rfind(")") + 2 :].split()
        stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    keep, frontier = {root}, [root]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in stats.items():
            if ppid == parent and pid not in keep:
                keep.add(pid)
                frontier.append(pid)
    return sum(stats[p][1] for p in keep if p in stats) / _TICK


def cpu_times() -> list[int]:
    """The machine's aggregate CPU time counters (/proc/stat "cpu")."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time the hypervisor stole between two
    ``cpu_times`` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(sc) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    jvm = sc._gateway.proc.pid if getattr(sc._gateway, "proc", None) else None
    kb = _vm_hwm_kb(os.getpid()) + (_vm_hwm_kb(jvm) if jvm else 0)
    return kb / 1024.0
