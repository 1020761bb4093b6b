"""Per-entry map diff and positional array diff: status coding over entry
add/remove/change, row presence 4/5, and absent-entry/NULL-value
coalescing."""

from __future__ import annotations

from checkatron_spark.operators.mapdiff import array_diff, map_diff


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, meta map<string,string>")


def test_map_diff_entry_statuses(spark):
    b = _df(spark, [
        (1, {"x": "1", "y": "2", "gone": "g"}),
        (2, {"x": "1"}),                      # row deleted in after
    ])
    a = _df(spark, [
        (1, {"x": "1", "y": "CHANGED", "new": "n"}),
        (3, {"z": "9"}),                      # row added in after
    ])
    got = {
        (r["K_k"], r["entry_key"]): (r["_row_status"], r["status"])
        for r in map_diff(b, a, ["k"], "meta").collect()
    }
    assert got == {
        (1, "x"): (None, 0),      # unchanged entry
        (1, "y"): (None, 1),      # changed entry
        (1, "gone"): (None, 3),   # entry only in before
        (1, "new"): (None, 2),    # entry only in after
        (2, "x"): (5, 3),         # whole row missing in after
        (3, "z"): (4, 2),         # whole row missing in before
    }


def test_map_diff_null_value_equals_absent(spark):
    """An explicit NULL value and a missing entry coalesce — mirroring the
    wide diff's treatment of missing columns as NULL."""
    b = _df(spark, [(1, {"x": None})])
    a = _df(spark, [(1, {})])
    rows = map_diff(b, a, ["k"], "meta").collect()
    assert [(r["entry_key"], r["status"]) for r in rows] == [("x", 0)]


def test_array_diff_unequal_lengths_and_null_elements(spark):
    """Positions run over the longer array; a position past one array's
    end reads as a NULL element, so it codes like an explicit NULL."""
    schema = "k int, v array<int>"
    b = spark.createDataFrame([
        (1, [1, None, 3, None, 4]),
        (2, [5]),                             # row deleted in after
        (5, [1, 8]),
    ], schema)
    a = spark.createDataFrame([
        (1, [1, 2, None, None]),
        (3, [7, None]),                       # row added in after
        (5, [2, 8, 9]),
    ], schema)
    got = {
        (r["K_k"], r["pos"]): (r["_row_status"], r["status"])
        for r in array_diff(b, a, ["k"], "v").collect()
    }
    assert got == {
        (1, 0): (None, 0),   # equal
        (1, 1): (None, 2),   # NULL in before only
        (1, 2): (None, 3),   # NULL in after only
        (1, 3): (None, 0),   # both NULL
        (1, 4): (None, 3),   # past the end of after
        (2, 0): (5, 3),      # whole row missing in after
        (3, 0): (4, 2),      # whole row missing in before
        (3, 1): (4, 0),      # NULL element against an absent row
        (5, 0): (None, 1),   # different
        (5, 1): (None, 0),
        (5, 2): (None, 2),   # past the end of before
    }
