"""Same-host DuckDB reference figures for the benchmark's queries.

For each workload, times every query's registry oracle SQL in DuckDB (min of
5, after one unmeasured run) on the same seeded input files, reads Spark's
median warm fetch per query from the untraced run's detail file, and prints
a markdown table with the per-query geomean of Spark over DuckDB. Queries
whose DuckDB time rounds to 0.000 s are named and left out of the geomean.

    python3 perfbench/run.py --workload olap_sf01 --seed 1 --seconds 5 --trace 0
    python3 perfbench/reference.py --seed 1 olap_sf01 llm_pipeline sql_dialect
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def duckdb_seconds(con, sql: str, runs: int = 5) -> float:
    con.execute(sql).arrow()
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        con.execute(sql).arrow()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    sys.path[:0] = [HERE, os.path.dirname(HERE)]
    import datagen
    import run
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("workloads", nargs="+", choices=sorted(WORKLOADS))
    a = ap.parse_args()
    from duckdb_parachute_spark.testkit import OracleSession
    from duckdb_parachute_spark.workload import load_all

    registry = load_all()
    for name in a.workloads:
        wl = WORKLOADS[name]
        data = run.data_dir(wl, a.seed)
        datagen.ensure(a.seed, wl.sf, data)
        detail = os.path.join(run.WORK, "out", f"{name}-seed{a.seed}-trace0.json")
        with open(detail) as f:
            spark = {q: statistics.median(r["warm_s"]) for q, r in json.load(f)["queries"].items()
                     if r.get("warm_s")}
        con = OracleSession(data).con
        print(f"\n### {name} (seed {a.seed}, sf{wl.sf:g})\n")
        print("| query | Spark warm s | DuckDB s | Spark/DuckDB |")
        print("|---|---:|---:|---:|")
        ratios, zero = [], []
        for q in wl.queries:
            d = duckdb_seconds(con, registry[q].oracle)
            if round(d, 3) == 0:
                zero.append(q)
                print(f"| {q} | {spark[q]:.3f} | {d:.4f} | zero basis |")
                continue
            ratios.append(spark[q] / d)
            print(f"| {q} | {spark[q]:.3f} | {d:.3f} | {spark[q] / d:.1f}x |")
        geo = math.exp(statistics.fmean(map(math.log, ratios)))
        print(f"\nPer-query geomean Spark/DuckDB: **{geo:.1f}x** over {len(ratios)} queries"
              + (f"; zero basis, left out: {', '.join(zero)}" if zero else ""))


if __name__ == "__main__":
    main()
