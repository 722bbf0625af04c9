"""The benchmark's workloads: inputs, query lists and Spark settings.

Each workload is a closed loop with one client: one Python process, one
``local[4]`` session, queries run one after another in the fixed order below.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float  # input size, in TESTDATA.md's scale factors
    queries: tuple[str, ...]  # registry names, fetched (or written) each round
    writes: frozenset[str] = frozenset()  # written through Relation.to_parquet
    planned: tuple[str, ...] = ()  # SQL statements only planned (sql_dialect)
    sql: bool = False  # build through sqlx.sql on temp views


def _statements() -> dict:
    with open(os.path.join(HERE, "sql_statements.json")) as f:
        return json.load(f)


def _sql_dialect() -> Workload:
    st = _statements()
    return Workload(
        name="sql_dialect",
        sf=0.01,
        queries=tuple(st["executed"]),
        planned=tuple(n for n in st["planned"] if n not in st["executed"]),
        sql=True,
    )


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in [
        Workload(
            name="olap_sf01",
            sf=0.1,
            queries=(
                "tpch_q1_pricing_summary",
                "tpch_q3_shipping_priority",
                "tpch_q18_large_volume_customer",
                "tpcds_q2_week_pivot_yoy",
                "job_star_wide_five",
            ),
        ),
        Workload(
            name="llm_pipeline",
            sf=0.1,
            queries=(
                "dedup_minhash_pairs",
                "sim_lsh_topk",
                "udf_pandas_scalar",
                "string_metric_suite",
            ),
            writes=frozenset({"dedup_minhash_pairs"}),
        ),
        _sql_dialect(),
    ]
}
