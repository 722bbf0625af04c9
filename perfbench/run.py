"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload olap_sf01 --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the engine; the package is imported from
that checkout, in this process and in Spark's Python workers. Steps:

1. make the seeded inputs (cached per seed, untimed; see datagen.py);
2. set up once, cold, as a client does: session start (a new JVM), registry
   import, warm-up probe and view registration; then, untimed, DuckDB's
   expected answers (cached per seed; see expected.py);
3. record three host-calibration probes, as context only;
4. cold pass, per query: **build** (the registry builder, or ``sqlx.sql``
   for SQL text), then **first** fetch of the full result through
   ``Relation(df).arrow()`` (or a ``Relation.to_parquet`` write);
5. warm loop: four untimed warm-up rounds, then timed rounds for
   ``--seconds`` and at least five; a round is a **build** again and a
   **warm** fetch of what it built, so each fetch runs a fresh physical plan
   and reuses no shuffle output of an earlier fetch;
6. check every fetched answer against DuckDB's: column names, column types
   and rows as a multiset.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1``
the per-layer ones). The end-to-end times of the phases are CPU seconds of
this process and its descendants (the Spark JVM and its Python workers),
which time stolen by the hypervisor does not stretch. Per-query details
(wall-clock times too), failure reasons, calibration, the git commit and the
resolved package path go to
``.perfbench/out/<workload>-seed<seed>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "duckdb_parachute_spark"
WORK = os.path.join(ROOT, ".perfbench")
TMP = os.path.join(WORK, "tmp")
CORES = 4
CATALOG_GROUP = "perfbench-catalog"
WARMUP_ROUNDS = 4  # warm rounds run and checked, not timed: JIT compilation settles
WARM_ROUNDS = 5  # timed warm rounds, at least; more while --seconds have not passed
MB = 1 << 20
TICKS = os.sysconf("SC_CLK_TCK")

#: Queries that fail the check on every input, because of a type fault in
#: the engine: the checker's exact message for it. Only that message counts
#: as the known fault; the column is then cast and its values still checked.
KNOWN_FAULTS = {
    "tpcds_q2_week_pivot_yoy": "type of week_seq: int32 != int64",  # olap_sf01
    "string_metric_suite": "type of lev: int32 != int64",
}


def data_dir(workload, seed: int) -> str:
    return os.path.join(WORK, "data", f"sf{workload.sf:g}-seed{seed}")


def _peak_rss_mb(pids) -> list[float]:
    """High-water RSS (``VmHWM``) of each process, in MB."""
    out = []
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            out += [int(line.split()[1]) / 1024 for line in f if line.startswith("VmHWM:")]
    return out


def _tree_cpu() -> int:
    """CPU time, in clock ticks, used so far by this process and all its
    live descendants (the Spark JVM, its Python daemon and workers), with
    the children each has reaped. Time the hypervisor stole from them is not
    in it, so this does not stretch when other machines load the host."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:  # exited meanwhile
            continue
        fields = stat[stat.rindex(")") + 2:].split()  # from field 3, state
        # ppid; utime, stime, cutime, cstime (fields 4 and 14-17)
        procs[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        ticks += procs.get(pid, (0, 0))[1]
        stack.extend(kids.get(pid, ()))
    return ticks


def _steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def _provenance() -> dict:
    import duckdb_parachute_spark as pkg

    path = os.path.dirname(os.path.realpath(pkg.__file__))
    digest = hashlib.sha1()
    for dirpath, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    digest.update(f.encode() + b"\0" + fh.read())
    commit = None
    try:
        top, head = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"], capture_output=True,
            text=True, timeout=10,
        ).stdout.split() or (None, None)
        if top == os.path.realpath(ROOT):
            commit = head
    except (OSError, subprocess.SubprocessError, ValueError):
        pass
    return {"git_commit": commit, "package_path": path, "package_sha1": digest.hexdigest(),
            "worker_pythonpath": os.environ["PYTHONPATH"]}


def setup(wl, data: str):
    """The run's one set-up, cold: nothing of the package or of PySpark is
    imported before it. Every workload registers the ten tables as views,
    which loads them into the session's catalog (``load_table`` keeps each
    loaded table for later builds). Returns (spark, registry, seconds,
    session start seconds, catalog load seconds)."""
    t0 = time.perf_counter()
    from duckdb_parachute_spark import get_session
    from duckdb_parachute_spark.session import scaled_adaptive, scaled_shuffle_partitions

    spark = get_session(
        app_name=f"perfbench-{wl.name}",
        master=f"local[{CORES}]",
        shuffle_partitions=scaled_shuffle_partitions(data),
        extra_conf={
            "spark.sql.adaptive.enabled": scaled_adaptive(data),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData",
        },
    )
    t1 = time.perf_counter()
    from duckdb_parachute_spark.workload import load_all

    registry = load_all()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from duckdb_parachute_spark.catalog import Catalog

    t2 = time.perf_counter()
    spark.sparkContext.setJobGroup(CATALOG_GROUP, CATALOG_GROUP)
    Catalog(spark, data).register_temp_views()
    spark.sparkContext._jsc.clearJobGroup()
    t3 = time.perf_counter()
    return spark, registry, t3 - t0, t1 - t0, t3 - t2


def stop(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)


def calibrate(spark) -> dict:
    """bench.py's three host probes (min of 3), recorded as context only."""

    def best(f):
        out = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            f()
            out = min(out, time.perf_counter() - t0)
        return out

    def spin():
        x = 0
        for i in range(2_000_000):
            x += i
        return x

    return {
        "cpu_spin": best(spin),
        "spark_noop": best(lambda: spark.range(1).count()),
        "spark_shuffle": best(lambda: spark.range(100).repartition(8, "id").count()),
    }


class Runner:
    def __init__(self, wl, spark, registry, data, answers, names, probe):
        import check
        import duckdb
        from duckdb_parachute_spark.relation import Relation

        self.wl, self.spark, self.registry, self.data = wl, spark, registry, data
        self.answers, self.names, self.probe = answers, names, probe
        self.Relation, self.check = Relation, check
        self.con = duckdb.connect()
        self.attempted = 0
        self.failures: list[dict] = []
        self.writes = 0

    # -- one timed call, with its layer counters when tracing -------------
    def timed(self, fn, df=None):
        """(result, wall seconds, CPU seconds, layer counters or None).
        ``df``: the DataFrame the call built (a callable of the result) or
        fetched."""
        if self.probe is None:
            c0, t0 = _tree_cpu(), time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            return out, dt, (_tree_cpu() - c0) / TICKS, None
        with self.probe.span() as span:
            c0, t0 = _tree_cpu(), time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            cpu = (_tree_cpu() - c0) / TICKS
        if callable(df):
            return out, dt, cpu, span.read(df(out))
        return out, dt, cpu, span.read(df, executed=df is not None)

    def build(self, name):
        if self.wl.sql:
            from duckdb_parachute_spark import sqlx

            return sqlx.sql(self.spark, self.registry[name].oracle)
        return self.registry[name].fn(self.spark, self.data)

    def fetch(self, name, df):
        """The timed call: fetch the full result, or write it to parquet."""
        if name not in self.wl.writes:
            return self.Relation(df).arrow()
        path = os.path.join(WORK, "out", "writes", f"{name}-{self.writes}")
        self.writes += 1
        self.Relation(df).to_parquet(path)
        return path

    def fetched(self, name, df):
        """The DataFrame whose plan a fetch executed, for its layer counters.

        None for a write: ``to_parquet`` plans and runs its own write command,
        so ``df``'s Catalyst phases and plan metrics are not the ones that
        ran. A write's jobs, stages and tasks are still counted."""
        return None if name in self.wl.writes else df

    def result(self, name, out, dt):
        """The fetched table (read back after a write), with its counters."""
        if name not in self.wl.writes:
            return out, _result_layers(out)
        import pyarrow.parquet as pq

        path = out
        files = [f for f in os.listdir(path) if f.endswith(".parquet")]
        size = sum(os.path.getsize(os.path.join(path, f)) for f in files)
        table = pq.read_table(path)
        shutil.rmtree(path)
        return table, {"write.s": dt, "write.files": len(files), "write.mb": size / MB}

    def verdict(self, name, phase, fn):
        """Count one operation; record why it failed, if it did."""
        self.attempted += 1
        try:
            reason = fn()
        except Exception as e:  # noqa: BLE001 - a failed operation, reported
            reason = f"{type(e).__name__}: {str(e).strip().splitlines()[0][:200]}"
        if reason:
            self.failures.append({"query": name, "phase": phase, "reason": reason,
                                  "known": reason == KNOWN_FAULTS.get(name)})

    # -- phases ------------------------------------------------------------
    def _build(self, name, rec):
        """Timed build, recorded in ``rec``; returns the DataFrame."""
        df, dt, cpu, layers = self.timed(lambda: self.build(name), df=lambda d: d)
        rec.setdefault("build_s", []).append(dt)
        rec.setdefault("build_cpu_s", []).append(cpu)
        if layers is not None:
            rec.setdefault("build", []).append(_build_layers(layers, dt))
        return df

    def _fetch(self, name, df, rec, phase):
        """Timed fetch (or write), recorded in ``rec``; returns the check's
        reason for failing, or None."""
        out, dt, cpu, layers = self.timed(lambda: self.fetch(name, df),
                                          df=self.fetched(name, df))
        table, extra = self.result(name, out, dt)
        rec.setdefault(f"{phase}_s", []).append(dt)
        rec.setdefault(f"{phase}_cpu_s", []).append(cpu)
        if layers is not None:
            rec.setdefault(phase, []).append({**layers, **extra})
        return self.check.check(table, self.answers[name], self.con,
                                known=KNOWN_FAULTS.get(name))

    def plan_only(self, name, rec):
        """Plan one SQL statement and check its column names: once in the
        cold pass and once in each warm round."""
        self.verdict(name, "plan", lambda: self.check.check_names(
            self._build(name, rec).columns, self.names[name]))

    def run(self, name, rec, phase):
        """Build, then fetch: the cold pass (``phase`` "first") or one warm
        round ("warm"). A warm round builds the query again, as a client
        re-issuing it would, so its fetch runs a fresh physical plan and
        reuses no shuffle output of an earlier fetch, and a builder that
        materializes its result does so again."""
        self.verdict(name, phase, lambda: self._fetch(name, self._build(name, rec), rec, phase))


def _build_layers(layers, wall):
    if layers is None:
        return None
    return {
        "exec.jobs": layers["exec.jobs"],
        "driver_s": max(0.0, wall - layers["exec.job_s"]),
        "catalyst.analysis_ms": layers.get("catalyst.analysis_ms", 0),
    }


def _phase_totals(records, suffix) -> dict:
    """Totals over queries of one measure (``suffix`` "_s": wall seconds,
    "_cpu_s": CPU seconds): ``cold_`` the cold pass (first build and first
    fetch), ``build_`` the median warm rebuild, ``warm_`` the median warm
    fetch, ``warm_geomean_`` the geometric mean of the median warm fetches."""
    med = statistics.median
    warm = [med(r["warm" + suffix]) for r in records.values() if r.get("warm" + suffix)]
    return {
        "cold_": sum(r["build" + suffix][0] + sum(r.get("first" + suffix, ()))
                     for r in records.values() if r.get("build" + suffix)),
        "build_": sum(med(r["build" + suffix][1:]) for r in records.values()
                      if len(r.get("build" + suffix, ())) > 1),
        "warm_": sum(warm),
        "warm_geomean_": math.exp(statistics.fmean(math.log(w) for w in warm)),
    }


def _result_layers(table):
    return {"result.rows": table.num_rows, "result.mb": table.nbytes / MB}


def _transpile_ms(registry, names) -> float:
    """Mean ``sqlx.transpile`` time over the statements it accepts on its own
    (some need ``sqlx.sql``'s catalog-aware pre-pass first)."""
    from duckdb_parachute_spark import sqlx

    per = []
    for n in names:
        t0 = time.perf_counter()
        try:
            sqlx.transpile(registry[n].oracle)
        except Exception:  # noqa: BLE001 - deterministic per statement
            continue
        per.append(time.perf_counter() - t0)
    return 1e3 * statistics.fmean(per)


FETCH_LAYERS = [
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "codegen.compile_ms", "codegen.classes",
    "exec.jobs", "exec.stages", "exec.skipped_stages", "exec.tasks", "exec.broadcast_exchanges",
    "exec.job_s", "exec.outside_jobs_s",
    "task.run_s", "task.cpu_s", "task.gc_s", "task.deserialize_s",
    "scan.input_mb", "scan.input_rows", "shuffle.write_mb", "shuffle.read_mb",
    "broadcast.mb", "spill.mb",
    "python.mb_sent", "python.mb_received", "python.rows", "python.worker_s",
    "result.rows", "result.mb", "write.s", "write.files", "write.mb",
]


def per_layer(records, session_start, catalog, transpile_ms, wl) -> dict:
    """Per-layer totals over the workload's queries: the cold pass's first
    fetch, and each query's median over the warm rounds' builds and fetches."""
    rebuilds = [r["build"][1:] for r in records.values() if len(r.get("build", ())) > 1]

    def warm_sum(groups, key):
        return sum(statistics.median(d.get(key, 0) for d in g) for g in groups)

    out = {
        "session.start_s": session_start,
        "catalog.first_load_s": catalog["s"],
        "catalog.first_load_jobs": catalog["jobs"],
        "build.exec.jobs": warm_sum(rebuilds, "exec.jobs"),
        "build.driver_s": warm_sum(rebuilds, "driver_s"),
        "build.catalyst.analysis_ms": warm_sum(rebuilds, "catalyst.analysis_ms"),
        "sqlx.transpile_ms_per_stmt": transpile_ms,
        "sqlx.sql_ms_per_stmt": (
            1e3 * statistics.fmean(
                statistics.median(r["build_s"][1:]) for r in records.values()
                if len(r.get("build_s", ())) > 1)
            if wl.sql else 0.0),
    }
    fetched = [r for r in records.values() if r.get("first") and r.get("warm")]
    for key in FETCH_LAYERS:
        out[f"first.{key}"] = sum(r["first"][0].get(key, 0) for r in fetched)
        out[f"warm.{key}"] = warm_sum([r["warm"] for r in fetched], key)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: no {PKG}/ package next to {HERE}; run from a checkout of the engine",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    # Spark's Python workers inherit the environment of the JVM this
    # process starts: point them at the checkout under test too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # Scratch files (shuffle blocks, py4j and worker temp files) stay in
    # the checkout too.
    os.makedirs(TMP, exist_ok=True)
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.environ[var] = TMP
    tempfile.tempdir = None

    import datagen
    import expected
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    data = data_dir(wl, args.seed)
    datagen.ensure(args.seed, wl.sf, data)

    steal0 = _steal_ticks()
    spark, registry, setup_s, session_start, catalog_s = setup(wl, data)
    exp = expected.ensure(wl, data, registry)
    prov = _provenance()
    if not prov["package_path"].startswith(os.path.realpath(ROOT) + os.sep):
        print(f"perfbench: {PKG} resolves to {prov['package_path']}, outside the checkout",
              file=sys.stderr)
        stop(spark)
        return 2
    calib = calibrate(spark)

    probe = None
    if args.trace:
        import layers

        probe = layers.Probe(spark)
    runner = Runner(wl, spark, registry, data, exp["answers"], exp["names"], probe)

    catalog = {"s": catalog_s,
               "jobs": len(spark.sparkContext.statusTracker().getJobIdsForGroup(CATALOG_GROUP))}

    records = {name: {} for name in wl.planned + wl.queries}
    # Every round, the cold pass included, holds the same operations, so
    # the failed share of a run does not depend on how many rounds it ran.
    t_warm, rounds = None, -1 - WARMUP_ROUNDS  # the cold pass, then the warm-up
    while rounds < WARM_ROUNDS or time.perf_counter() - t_warm < args.seconds:
        for name in wl.planned:
            runner.plan_only(name, records[name])
        for name in wl.queries:
            runner.run(name, records[name], "first" if rounds < -WARMUP_ROUNDS else "warm")
        rounds += 1
        if rounds == 0:  # warm-up over: keep the cold pass, time from here
            for rec in records.values():
                for key in ("build_s", "build_cpu_s", "build"):
                    del rec.get(key, [])[1:]
                for key in ("warm_s", "warm_cpu_s", "warm"):
                    rec.pop(key, None)
            t_warm = time.perf_counter()

    transpile_ms = _transpile_ms(registry, list(wl.planned) + list(wl.queries)) if (
        args.trace and wl.sql) else 0.0
    rss = _peak_rss_mb([os.getpid(), spark.sparkContext._jvm.ProcessHandle.current().pid()])
    stop(spark)
    steal1 = _steal_ticks()
    calib["host_steal_share"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

    e2e = {
        "setup_s": (setup_s, "s"),
        **{f"{k}cpu_s": (v, "s") for k, v in _phase_totals(records, "_cpu_s").items()},
    }
    unexpected = [f for f in runner.failures if not f["known"]]
    result = {
        "correct": not unexpected,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
    }
    if args.trace:
        lay = {**per_layer(records, session_start, catalog, transpile_ms, wl),
               "peak_rss_mb": sum(rss)}
        result["metrics"] = {k: {"value": v, "unit": _unit(k)} for k, v in lay.items()}
    else:
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    detail = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        **prov, "calibration": calib, "warmup_rounds": WARMUP_ROUNDS, "warm_rounds": rounds,
        "setup_parts_s": {"session_start": session_start, "catalog_load": catalog_s},
        "peak_rss_mb_python_jvm": rss, "peak_rss_mb": sum(rss),
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
        "wall_s": {f"{k}s": v for k, v in _phase_totals(records, "_s").items()},
        "failures": runner.failures, "queries": records,
    }
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    with open(os.path.join(WORK, "out", f"{wl.name}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(detail, f, indent=1, default=str)
    for fail in runner.failures[: len(wl.queries) + len(wl.planned)]:
        print(f"# FAILED {fail['query']} ({fail['phase']}): {fail['reason']}", file=sys.stderr)
    print(f"# calibration {json.dumps(calib)}; package {prov['package_path']} "
          f"commit {prov['git_commit']}", file=sys.stderr)
    print(json.dumps(result))
    return 0


def _unit(name: str) -> str:
    words = name.replace(".", "_").split("_")
    if "ms" in words:
        return "ms"
    if words[-1] == "s":
        return "s"
    return "MB" if "mb" in words else "count"


if __name__ == "__main__":
    sys.exit(main())
