"""Expected answers: DuckDB runs each query's registry oracle SQL.

Answers are cached per input set, next to the inputs, as Arrow IPC files,
under a name that digests the workload's statement lists and oracle texts;
a ``_COMPLETE`` marker is written last and a set without it is recomputed.
For ``sql_dialect`` the cache also holds DuckDB's column names for every
planned statement (DuckDB binds it without running it).

    python3 perfbench/expected.py --workload olap_sf01 --seed 1   # recompute
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil

import pyarrow.ipc as ipc

MARKER = "_COMPLETE"


def _cache_dir(workload, data_dir: str, registry) -> str:
    names = list(workload.queries) + list(workload.planned)
    key = json.dumps([names, [registry[n].oracle for n in names]])
    digest = hashlib.sha1(key.encode()).hexdigest()[:12]
    return os.path.join(data_dir, f"expected-{workload.name}-{digest}")


def compute(workload, data_dir: str, registry) -> dict:
    """Recompute and cache the expected answers; returns ``load``'s result."""
    out = _cache_dir(workload, data_dir, registry)
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    from duckdb_parachute_spark.testkit import OracleSession

    con = OracleSession(data_dir).con
    for name in workload.queries:
        table = con.execute(registry[name].oracle).arrow()
        with ipc.new_file(os.path.join(out, f"{name}.arrow"), table.schema) as w:
            w.write_table(table)
    names = {n: con.sql(registry[n].oracle).columns for n in workload.planned}
    with open(os.path.join(out, "names.json"), "w") as f:
        json.dump(names, f)
    open(os.path.join(out, MARKER), "w").close()
    return load(workload, data_dir, registry)


def load(workload, data_dir: str, registry) -> dict:
    out = _cache_dir(workload, data_dir, registry)
    answers = {}
    for name in workload.queries:
        with ipc.open_file(os.path.join(out, f"{name}.arrow")) as r:
            answers[name] = r.read_all()
    with open(os.path.join(out, "names.json")) as f:
        return {"answers": answers, "names": json.load(f)}


def ensure(workload, data_dir: str, registry) -> dict:
    if os.path.exists(os.path.join(_cache_dir(workload, data_dir, registry), MARKER)):
        return load(workload, data_dir, registry)
    return compute(workload, data_dir, registry)


def main() -> None:
    import sys

    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(here))
    import datagen
    import run
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]
    data_dir = run.data_dir(wl, a.seed)
    datagen.ensure(a.seed, wl.sf, data_dir)
    from duckdb_parachute_spark.workload import load_all

    registry = load_all()
    compute(wl, data_dir, registry)
    print(f"recomputed {_cache_dir(wl, data_dir, registry)}")


if __name__ == "__main__":
    main()
