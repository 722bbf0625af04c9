"""Seeded input tables with the shape of the repository's test data.

Writes the ten tables the registry queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the column names, types, value domains and row
counts per scale factor of the TPC-H-ish test data in TESTDATA.md:
uniform keys and measures, 5 % of documents a copy of another document plus
the word ``dup`` (the near-duplicates the dedup queries find), unit-norm
Gaussian embeddings of width 64.

The same ``(seed, sf)`` always gives byte-identical files. An input set is
written into its own directory and a ``_COMPLETE`` marker is written last;
``ensure`` regenerates any directory whose marker is missing, so an
interrupted write is never half-used.

    python3 perfbench/datagen.py --sf 0.1 --seed 1 --out .perfbench/data/x
"""

from __future__ import annotations

import argparse
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MARKER = "_COMPLETE"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

DAY_US = 86_400 * 10**6
EPOCH_1995_US = 788_918_400 * 10**6  # 1995-01-01
EPOCH_2024_US = 1_704_067_200 * 10**6  # 2024-01-01
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01


def _cat(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every table for one ``(seed, sf)``, built in memory."""
    rng = np.random.default_rng([seed, int(round(sf * 1000))])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _cat(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": _cat(rng, names, n_part),
            "p_brand": _cat(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _cat(rng, PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2),
        }
    )
    odate = EPOCH_1995_US + rng.integers(0, ORDER_DAYS + 1, n_ord) * DAY_US
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _cat(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(odate),
            "o_orderpriority": _cat(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _cat(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _cat(rng, ["F", "O"], n_li),
            "l_shipdate": _ts(EPOCH_1995_US + rng.integers(1, ORDER_DAYS + 96, n_li) * DAY_US),
        }
    )
    ts = EPOCH_2024_US + np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev),
            "event_type": _cat(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = _documents(rng, n_doc)
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(vec.ravel(), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, n_emb, dtype=np.int32),
        }
    )
    return out


def _documents(rng, n: int) -> pa.Table:
    words = np.asarray(WORDS, dtype=object)
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # 5 % near-duplicates: a copy of an earlier document plus one word.
    for i in np.sort(rng.choice(np.arange(1, n), n // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": _cat(rng, LANGS, n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write(seed: int, sf: float, out: str) -> None:
    """Write one input set into ``out`` (replaced), marker last."""
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    open(os.path.join(out, MARKER), "w").close()


def ensure(seed: int, sf: float, out: str) -> None:
    """Write the input set at ``out`` unless a complete one is there."""
    if not os.path.exists(os.path.join(out, MARKER)):
        write(seed, sf, out)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    write(a.seed, a.sf, a.out)


if __name__ == "__main__":
    main()
