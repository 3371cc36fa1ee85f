"""The gate's row canonicalisers (tools/canon.py), without a JVM."""

from __future__ import annotations

import math

import duckdb

from tools import canon


def test_oracle_cell_forms():
    assert canon.oracle_cell(1 / 3) == "0.333333333"
    assert canon.oracle_cell(123456789012.0) == "1.23456789e+11"
    assert canon.oracle_cell(math.nan) == "nan"
    assert canon.oracle_cell(None) == "\0"
    assert canon.oracle_cell(True) == "1"
    assert canon.oracle_cell(False) == "0"
    assert canon.oracle_cell(7) == "7"


def test_oracle_hash_ignores_row_and_column_order_and_far_digits():
    h = canon.oracle_hash(["a", "b"], [(1, 0.5), (2, 1 / 3)])
    assert canon.oracle_hash(["b", "a"], [(1 / 3 + 1e-15, 2), (0.5, 1)]) == h
    assert canon.oracle_hash(["a", "b"], [(1, 0.5), (2, 0.3334)]) != h


def test_snapshot_hash_is_bit_exact():
    x = 0.1 + 0.2
    h = canon.snapshot_hash(["x"], [(x,)])
    assert canon.snapshot_hash(["x"], [(math.nextafter(x, 1.0),)]) != h
    assert canon.snapshot_hash(["x"], [(x,)]) == h


def test_snapshot_hash_nested_values():
    rows = [(1, {"b": 2.0, "a": [1, None]}, [[1.5], []]), (2, {}, None)]
    h = canon.snapshot_hash(["k", "m", "l"], rows)
    # dict key order and row order do not matter
    swapped = [(2, {}, None), (1, {"a": [1, None], "b": 2.0}, [[1.5], []])]
    assert canon.snapshot_hash(["k", "m", "l"], swapped) == h
    # a change inside a nested list does
    changed = [(1, {"b": 2.0, "a": [1, None]}, [[1.5], [0.0]]), (2, {}, None)]
    assert canon.snapshot_hash(["k", "m", "l"], changed) != h
    # the saved cell format: bools apart from ints, ints and strings as str()
    assert canon.snapshot_cell(True) == "b1"
    assert canon.snapshot_cell(1) == canon.snapshot_cell("1") == "s1"
    assert canon.snapshot_cell(b"\x01") == "y01"
    assert canon.snapshot_cell(0.5) == "f000000000000e03f"


def test_compare_oracle_verdicts():
    con = duckdb.connect()
    ok, verdict = canon.compare_oracle(
        con, "SELECT 1.5::DOUBLE AS x, 2 AS y", ["y", "x"], [(2, 1.5)]
    )
    assert ok, verdict
    ok, verdict = canon.compare_oracle(
        con, "SELECT 1.5::DOUBLE AS x, 2 AS y", ["y", "x"], [(2, 1.25)]
    )
    assert not ok and verdict.startswith("FAIL") and "spark-only" in verdict
    # HUGEINT (DuckDB's SUM of integers) arrives as an Arrow decimal
    ok, verdict = canon.compare_oracle(
        con, "SELECT SUM(i) AS s FROM range(3) t(i)", ["s"], [(3,)]
    )
    assert not ok and verdict.startswith("FAIL decimal"), verdict
