"""Per-layer counters read from outside the engine, for the traced run.

Every number comes from Spark's own bookkeeping, read after the timed call
returns: the job group's jobs and stages from the status store, the
Catalyst phase times from ``QueryExecution.tracker()``, the SQL metrics of
the executed plan's nodes, and the JVM-wide codegen compile counters. The
engine itself carries no tracing.
"""

from __future__ import annotations

import itertools

MB = 1 << 20

_groups = itertools.count()


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _covered(intervals, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Probe:
    """Counters of one timed call: ``with probe.span() as s: ...; s.read()``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.codegen = self.sc._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self.codegen_metrics = self.sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._stage_defaults = [
            getattr(self.store, f"stageData$default${i}")() for i in range(2, 6)
        ]

    def span(self):
        return Span(self)


class Span:
    def __init__(self, probe: Probe):
        self.p = probe
        self.group = f"perfbench-{next(_groups)}"

    def __enter__(self):
        self.p.sc.setJobGroup(self.group, self.group)
        self.cg_ns = self.p.codegen.compileTime()
        self.cg_n = self.p.codegen_metrics.METRIC_COMPILATION_TIME().getCount()
        import time

        self.t0 = time.time()
        return self

    def __exit__(self, *exc):
        import time

        self.t1 = time.time()
        self.p.sc._jsc.clearJobGroup()
        return False

    def read(self, df=None, executed: bool = False) -> dict:
        """Counters of the span, plus ``df``'s Catalyst phases and, once it
        has ``executed``, its plan's SQL metrics."""
        p = self.p
        p.jsc.listenerBus().waitUntilEmpty()
        out = {
            "codegen.compile_ms": (p.codegen.compileTime() - self.cg_ns) / 1e6,
            "codegen.classes": p.codegen_metrics.METRIC_COMPILATION_TIME().getCount() - self.cg_n,
        }
        jobs, stages, tasks, skipped, intervals = 0, 0, 0, 0, []
        task = dict.fromkeys(
            ["task.run_s", "task.cpu_s", "task.gc_s", "task.deserialize_s", "scan.input_mb",
             "scan.input_rows", "shuffle.write_mb", "shuffle.read_mb", "spill.mb"], 0.0)
        for jid in p.sc.statusTracker().getJobIdsForGroup(self.group):
            job = p.store.job(jid)
            jobs += 1
            skipped += job.numSkippedStages()
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append((job.submissionTime().get().getTime() / 1e3,
                                  job.completionTime().get().getTime() / 1e3))
            for sid in _iter(job.stageIds()):
                for sd in _iter(p.store.stageData(sid, *p._stage_defaults)):
                    if sd.status().toString() == "SKIPPED":
                        continue
                    stages += 1
                    tasks += sd.numTasks()
                    task["task.run_s"] += sd.executorRunTime() / 1e3
                    task["task.cpu_s"] += sd.executorCpuTime() / 1e9
                    task["task.gc_s"] += sd.jvmGcTime() / 1e3
                    task["task.deserialize_s"] += sd.executorDeserializeTime() / 1e3
                    task["scan.input_mb"] += sd.inputBytes() / MB
                    task["scan.input_rows"] += sd.inputRecords()
                    task["shuffle.write_mb"] += sd.shuffleWriteBytes() / MB
                    task["shuffle.read_mb"] += sd.shuffleReadBytes() / MB
                    task["spill.mb"] += sd.diskBytesSpilled() / MB
        wall = self.t1 - self.t0
        covered = _covered(intervals, self.t0, self.t1)
        out.update(task)
        out.update({
            "exec.jobs": jobs,
            "exec.stages": stages,
            "exec.skipped_stages": skipped,
            "exec.tasks": tasks,
            "exec.job_s": covered,
            "exec.outside_jobs_s": max(0.0, wall - covered),
        })
        if df is not None:
            out.update(catalyst(df))
        if executed:
            out.update(plan_metrics(df))
        return out


def catalyst(df) -> dict:
    phases = {}
    for kv in _iter(df._jdf.queryExecution().tracker().phases()):
        phases[kv._1()] = kv._2().durationMs()
    return {
        "catalyst.analysis_ms": phases.get("parsing", 0) + phases.get("analysis", 0),
        "catalyst.optimization_ms": phases.get("optimization", 0),
        "catalyst.planning_ms": phases.get("planning", 0),
    }


def _children(node):
    kids = list(_iter(node.children()))
    for name in ("plan", "child"):  # query stages and reused exchanges
        if not kids and node.nodeName().startswith(("ShuffleQueryStage", "BroadcastQueryStage",
                                                    "ResultQueryStage", "Reused")):
            try:
                kids.append(getattr(node, name)())
                break
            except Exception:  # noqa: BLE001 - not that kind of node
                pass
    kids.extend(_iter(node.subqueries()))
    return kids


def plan_metrics(df) -> dict:
    """Broadcast and Python-worker SQL metrics of ``df``'s executed plan."""
    out = {"exec.broadcast_exchanges": 0, "broadcast.mb": 0.0, "python.mb_sent": 0.0,
           "python.mb_received": 0.0, "python.rows": 0, "python.worker_s": 0.0}
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName().startswith("AdaptiveSparkPlan"):
        plan = plan.executedPlan()
    stack, seen = [plan], set()
    while stack:
        node = stack.pop()
        if node.id() in seen:
            continue
        seen.add(node.id())
        metrics = {kv._1(): kv._2().value() for kv in _iter(node.metrics())}
        name = node.nodeName()
        if name == "BroadcastExchange":
            out["exec.broadcast_exchanges"] += 1
            out["broadcast.mb"] += metrics.get("dataSize", 0) / MB
        if "pythonDataSent" in metrics:
            out["python.mb_sent"] += metrics["pythonDataSent"] / MB
            out["python.mb_received"] += metrics.get("pythonDataReceived", 0) / MB
            out["python.rows"] += metrics.get("pythonNumRowsReceived", 0)
            out["python.worker_s"] += metrics.get("pythonTotalTime", 0) / 1e3
        stack.extend(_children(node))
    return out
