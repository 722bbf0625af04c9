"""Answer checker: a fetched Arrow result against DuckDB's answer.

A result passes when its column names, its column types and its rows (as a
multiset: row order is free) equal the expected answer's. Types compare by
logical family and width, so ``int32`` against ``int64`` fails while
``string`` against ``large_string`` passes. Rows compare exactly, through
DuckDB's ``EXCEPT ALL`` over the two Arrow tables.

A query with a known type fault passes ``known``, the exact message of that
fault. The fault is reported only when it shows exactly so; the column is
then cast to the expected type and the values are still compared, so any
other difference is reported in its place.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa


def type_name(t: pa.DataType) -> str:
    """Canonical name of an Arrow type, blind to offsets width and units."""
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return f"list<{type_name(t.value_type)}>"
    if pa.types.is_map(t):
        return f"map<{type_name(t.key_type)},{type_name(t.item_type)}>"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(f"{f.name}:{type_name(f.type)}" for f in t) + ">"
    if pa.types.is_timestamp(t):
        return "timestamp" if t.tz is None else "timestamptz"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_dictionary(t):
        return type_name(t.value_type)
    return str(t)


def _multiset_diff(con, a: pa.Table, b: pa.Table) -> int:
    con.register("_a", a)
    con.register("_b", b)
    try:
        return con.execute(
            "SELECT count(*) FROM (SELECT * FROM _a EXCEPT ALL SELECT * FROM _b)"
        ).fetchone()[0]
    finally:
        con.unregister("_a")
        con.unregister("_b")


def check(got: pa.Table, want: pa.Table, con=None, known: str | None = None) -> str | None:
    """None when ``got`` equals ``want``; otherwise the first difference.

    Returns ``known`` when that type fault is the only difference."""
    if got.column_names != want.column_names:
        return f"columns {got.column_names} != {want.column_names}"
    fault = None
    for i, (f, g) in enumerate(zip(want.schema, got.schema)):
        if type_name(g.type) != type_name(f.type):
            msg = f"type of {f.name}: {type_name(g.type)} != {type_name(f.type)}"
            if msg != known or fault:
                return msg
            fault = msg
            got = got.set_column(i, f.name, got.column(i).cast(f.type))
    if got.num_rows != want.num_rows:
        return f"rows {got.num_rows} != {want.num_rows}"
    if got.num_rows == 0:
        return fault
    con = con or duckdb.connect()
    # Same names and types on both sides: positional set operations are
    # exact. Equal row counts plus an empty one-way EXCEPT ALL is multiset
    # equality.
    extra = _multiset_diff(con, got, want)
    if extra:
        return f"{extra} rows differ in value"
    return fault


def check_names(got: list[str], want: list[str]) -> str | None:
    """Column names of a planned statement against DuckDB's binding."""
    return None if list(got) == list(want) else f"columns {list(got)} != {list(want)}"
