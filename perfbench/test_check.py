"""The answer checker rejects wrong answers and accepts reordered ones.

    python3 -m pytest perfbench/test_check.py -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check import check, check_names  # noqa: E402


@pytest.fixture
def want():
    return pa.table({
        "k": pa.array([1, 2, 3, 3], pa.int64()),
        "name": ["a", "b", "c", "c"],
        "x": [0.5, 1.25, None, 2.0],
    })


def test_accepts_identical_and_permuted_rows(want):
    assert check(want, want) is None
    assert check(want.take([3, 1, 0, 2]), want) is None


def test_accepts_wider_offsets_of_one_type(want):
    got = want.cast(pa.schema([("k", pa.int64()), ("name", pa.large_string()), ("x", pa.float64())]))
    assert check(got, want) is None


def test_rejects_perturbed_value(want):
    got = want.set_column(2, "x", pa.array([0.5, 1.25, None, 2.0000001]))
    assert "differ in value" in check(got, want)


def test_rejects_null_for_value(want):
    got = want.set_column(2, "x", pa.array([0.5, 1.25, None, None], pa.float64()))
    assert "differ in value" in check(got, want)


def test_rejects_dropped_row(want):
    assert "rows 3 != 4" in check(want.slice(0, 3), want)


def test_rejects_duplicate_in_place_of_another_row(want):
    got = want.take([0, 1, 2, 2])  # same length, one row doubled, one missing
    assert check(got, want) is not None


def test_rejects_widened_column_type(want):
    got = want.set_column(0, "k", pa.array([1, 2, 3, 3], pa.int32()))
    assert check(got, want) == "type of k: int32 != int64"


def test_known_fault_still_compares_values(want):
    known = "type of k: int32 != int64"
    narrow = want.set_column(0, "k", pa.array([1, 2, 3, 3], pa.int32()))
    assert check(narrow, want, known=known) == known
    assert check(narrow.take([2, 0, 3, 1]), want, known=known) == known
    wrong = narrow.set_column(0, "k", pa.array([1, 2, 3, 4], pa.int32()))
    assert "differ in value" in check(wrong, want, known=known)
    assert "rows 3 != 4" in check(narrow.slice(0, 3), want, known=known)
    other = want.set_column(2, "x", pa.array([0.5, 1.25, None, 2.0], pa.float32()))
    assert check(other, want, known=known) == "type of x: float != double"
    assert check(want, want, known=known) is None  # the fault is gone: a pass


def test_rejects_renamed_or_reordered_columns(want):
    assert "columns" in check(want.rename_columns(["k", "nm", "x"]), want)
    assert "columns" in check(want.select(["name", "k", "x"]), want)


def test_names_check():
    assert check_names(["a", "b"], ["a", "b"]) is None
    assert check_names(["a", "B"], ["a", "b"]) is not None
