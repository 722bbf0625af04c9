"""Regenerate ``sql_statements.json``, the statement list of ``sql_dialect``.

Every registry oracle statement is offered to ``sqlx.sql`` over temp views
of seeded sf0.01 inputs. The ones it plans form ``plannable``; every eighth
of them is ``planned`` in each run (all of them do not fit a run), and a
fixed sample of the planned ones (seed 0) is also ``executed``. The rest are
listed in ``excluded``, grouped by reason. A sampled statement whose second
execution takes longer than ``SLOW_S`` is not executed (it would take the
whole run), and is listed in ``too_slow_to_execute``.

    python3 perfbench/sql_list.py
"""

from __future__ import annotations

import json
import os
import random
import re
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
STRIDE = 8
EXECUTED = 4
SLOW_S = 1.5
QUERY_STARTS = ("SELECT", "WITH", "FROM", "PIVOT", "UNPIVOT")


def main() -> None:
    sys.path[:0] = [HERE, os.path.dirname(HERE)]
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    import datagen
    import run

    from workloads import Workload

    wl = Workload(name="sql_list", sf=0.01, queries=(), sql=True)
    data = run.data_dir(wl, 1)
    datagen.ensure(1, wl.sf, data)
    spark, registry, _, _ = run.setup(wl, data)
    from duckdb_parachute_spark import sqlx

    plannable, excluded = [], {}
    for name, q in registry.items():
        if q.oracle is None:
            reason = "no oracle SQL"
        elif re.search(r"'/[^'/]+/[^']*[.*][^']*'", q.oracle):
            reason = "reads or writes a file at an absolute path"
        elif q.oracle.lstrip().split()[0].upper() not in QUERY_STARTS:
            reason = "not a query (DDL or a statement list)"
        else:
            try:
                sqlx.sql(spark, q.oracle)
                plannable.append(name)
                continue
            except Exception as e:  # noqa: BLE001 - classified below
                reason = f"sqlx.sql raises {type(e).__name__}"
        excluded.setdefault(reason, []).append(name)
    planned = plannable[::STRIDE]
    executed, slow = [], []
    for name in random.Random(0).sample(planned, len(planned)):
        if len(executed) == EXECUTED:
            break
        df = sqlx.sql(spark, registry[name].oracle)
        df.toArrow()  # the first run in the session pays one-off reader set-up
        t0 = time.perf_counter()
        df.alias("again").toArrow()
        (executed if time.perf_counter() - t0 < SLOW_S else slow).append(name)
    spark.stop()
    out = {
        "planned": planned,
        "executed": [n for n in planned if n in executed],
        "too_slow_to_execute": slow,
        "plannable": plannable,
        "excluded": {k: sorted(v) for k, v in sorted(excluded.items())},
    }
    with open(os.path.join(HERE, "sql_statements.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"{len(plannable)} plannable, {len(planned)} planned, {EXECUTED} executed, "
          f"{sum(map(len, excluded.values()))} excluded")


if __name__ == "__main__":
    main()
