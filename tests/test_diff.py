"""Core diff operator tests — the reference's six pytest scenarios
(/root/reference/tests/test_diffgen.py:22-249) re-expressed against the native
Spark ``diff()``, with the rendered reference-shape SQL executed in DuckDB as
the independent oracle, plus engine-specific extensions (faithful-mode
equivalence, NULL keys, duplicate-key fanout, presence_fix)."""

from __future__ import annotations

import pytest

from checkatron_spark import diff, diff_summary
from checkatron_spark.plans.sqlgen import render_diff_sql
from tests.conftest import assert_same_rows, run_oracle


def _mk(spark, duck, name, schema, rows):
    df = spark.createDataFrame(rows, schema=schema)
    duck.execute(f"DROP TABLE IF EXISTS {name}")
    cols = ", ".join(
        f"{f.name} {'INTEGER' if f.dataType.simpleString() in ('int',) else 'BIGINT' if f.dataType.simpleString() == 'bigint' else 'VARCHAR'}"
        for f in df.schema.fields
    )
    duck.execute(f"CREATE TABLE {name} ({cols})")
    if rows:
        ph = ", ".join(["?"] * len(df.schema.fields))
        duck.executemany(f"INSERT INTO {name} VALUES ({ph})", rows)
    return df


def _oracle_diff(duck, before_df, after_df, keys, **kw):
    sql = render_diff_sql(
        "before_t", "after_t", keys,
        before_df.columns, after_df.columns, **kw,
    )
    return run_oracle(duck, sql)


def _check(spark, duck, before, after, keys, **kw):
    got = diff(before, after, keys, **{k: v for k, v in kw.items()
                                       if k in ("before_where", "after_where",
                                                "faithful", "presence_fix")})
    oracle_kw = {k: v for k, v in kw.items()
                 if k in ("before_where", "after_where")}
    rows, cols = _oracle_diff(duck, before, after, keys, **oracle_kw)
    assert_same_rows(got, rows, cols)
    return got


# ---- the six reference scenarios (tests/test_diffgen.py) -------------------

def test_simple_same_table(spark, duck):
    """Identical single row -> val status 0, _row_status NULL (ref :22-56)."""
    b = _mk(spark, duck, "before_t", "k1 int, val string", [(1, "a")])
    a = _mk(spark, duck, "after_t", "k1 int, val string", [(1, "a")])
    got = _check(spark, duck, b, a, ["k1"])
    row = got.collect()[0]
    assert row["_row_status"] is None
    assert row["VAL"] == 0 and row["K1"] == 0 and row["K_K1"] == 1


def test_missing_column(spark, duck):
    """After has extra new_col -> status 2, row matched (ref :59-94)."""
    b = _mk(spark, duck, "before_t", "k1 int, val string", [(1, "a")])
    a = _mk(spark, duck, "after_t", "k1 int, val string, new_col int",
            [(1, "a", 99)])
    got = _check(spark, duck, b, a, ["k1"])
    row = got.collect()[0]
    assert row["_row_status"] is None and row["NEW_COL"] == 2


def test_different_values(spark, duck):
    """Same key, 'a' vs 'b' -> val status 1 (ref :97-126)."""
    b = _mk(spark, duck, "before_t", "k1 int, val string", [(1, "a")])
    a = _mk(spark, duck, "after_t", "k1 int, val string", [(1, "b")])
    got = _check(spark, duck, b, a, ["k1"])
    assert got.collect()[0]["VAL"] == 1


def test_missing_row_before(spark, duck):
    """Row only in after -> _row_status 4, val status 2 (ref :129-157)."""
    b = _mk(spark, duck, "before_t", "k1 int, val string", [(1, "a")])
    a = _mk(spark, duck, "after_t", "k1 int, val string", [(1, "a"), (2, "x")])
    got = _check(spark, duck, b, a, ["k1"])
    missing = [r for r in got.collect() if r["K_K1"] == 2][0]
    assert missing["_row_status"] == 4 and missing["VAL"] == 2


def test_missing_row_after(spark, duck):
    """Row only in before -> _row_status 5, val status 3."""
    b = _mk(spark, duck, "before_t", "k1 int, val string", [(1, "a"), (2, "x")])
    a = _mk(spark, duck, "after_t", "k1 int, val string", [(1, "a")])
    got = _check(spark, duck, b, a, ["k1"])
    missing = [r for r in got.collect() if r["K_K1"] == 2][0]
    assert missing["_row_status"] == 5 and missing["VAL"] == 3


def test_multiple_key_columns(spark, duck):
    """2-column key, identical row -> all 0, _row_status NULL (ref :160-194)."""
    b = _mk(spark, duck, "before_t", "k1 int, k2 string, val int",
            [(1, "x", 7)])
    a = _mk(spark, duck, "after_t", "k1 int, k2 string, val int",
            [(1, "x", 7)])
    got = _check(spark, duck, b, a, ["k1", "k2"])
    row = got.collect()[0]
    assert row["_row_status"] is None
    assert (row["K_K1"], row["K_K2"], row["VAL"]) == (1, "x", 0)


# ---- engine extensions ------------------------------------------------------

def test_where_filters(spark, duck):
    """Per-side WHERE filters (P1, full_compare.sql.j2:12-21)."""
    rows = [(1, "a"), (2, "b"), (3, "c")]
    b = _mk(spark, duck, "before_t", "k1 int, val string", rows)
    a = _mk(spark, duck, "after_t", "k1 int, val string", rows)
    got = _check(spark, duck, b, a, ["k1"],
                 before_where="k1 < 3", after_where="k1 > 1")
    by_key = {r["K_K1"]: r for r in got.collect()}
    assert by_key[1]["_row_status"] == 5  # filtered out of after
    assert by_key[3]["_row_status"] == 4  # filtered out of before
    assert by_key[2]["_row_status"] is None


def test_null_key_matches_null_safely(spark, duck):
    """NULL keys pair via null-safe join — but the reference's first-key
    NULL-ness rule then misreports presence (SURVEY.md 2.3 quirk): oracle and
    engine must agree on the quirky output."""
    b = _mk(spark, duck, "before_t", "k1 int, val string", [(None, "a")])
    a = _mk(spark, duck, "after_t", "k1 int, val string", [(None, "a")])
    got = _check(spark, duck, b, a, ["k1"])
    row = got.collect()[0]
    assert row["_row_status"] == 4  # quirk: matched row looks "missing"
    assert row["VAL"] == 0  # but values still compared


def test_presence_fix_mode(spark, duck):
    """presence_fix=True derives _row_status from join presence markers."""
    b = spark.createDataFrame([(None, "a")], "k1 int, val string")
    a = spark.createDataFrame([(None, "a")], "k1 int, val string")
    row = diff(b, a, ["k1"], presence_fix=True).collect()[0]
    assert row["_row_status"] is None and row["VAL"] == 0


def test_duplicate_key_fanout(spark, duck):
    """Non-unique keys fan out m*n per key group, same as the reference's
    key-union + two left joins (SURVEY.md 2.3 duplicate-key semantics)."""
    b = _mk(spark, duck, "before_t", "k1 int, val string",
            [(1, "a"), (1, "b")])
    a = _mk(spark, duck, "after_t", "k1 int, val string",
            [(1, "a"), (1, "b"), (1, "c")])
    got = _check(spark, duck, b, a, ["k1"])
    assert got.count() == 6  # 2 x 3


def test_faithful_mode_equivalence(spark, duck):
    """faithful=True (literal 3-op plan) == default full-outer rewrite."""
    b = _mk(spark, duck, "before_t", "k1 int, val string",
            [(1, "a"), (2, "b"), (None, "n")])
    a = _mk(spark, duck, "after_t", "k1 int, val string, new_col int",
            [(1, "a", 9), (3, "z", 8), (None, "n", 7)])
    from collections import Counter

    d_default = diff(b, a, ["k1"])
    d_faithful = diff(b, a, ["k1"], faithful=True)
    assert Counter(map(tuple, d_default.collect())) == Counter(
        map(tuple, d_faithful.collect())
    )
    rows, cols = _oracle_diff(duck, b, a, ["k1"])
    assert_same_rows(d_faithful, rows, cols)


def test_diff_from_spec_equals_diff(spark):
    """diff_from_spec passes every DiffSpec field through to diff()."""
    from collections import Counter

    from checkatron_spark import DiffSpec, diff_from_spec

    b = spark.createDataFrame(
        [(None, "a", 1), (2, "b", 2), (3, "c", 3)], "k1 int, val string, n int")
    a = spark.createDataFrame(
        [(None, "a", 1), (2, "B", 2), (4, "d", 4)], "k1 int, val string, n int")
    spec = DiffSpec(
        keys=["k1"], before_where="n < 3", after_where="n > 0",
        faithful=True, presence_fix=True, column_case="lower",
    )
    got = diff_from_spec(b, a, spec)
    want = diff(
        b, a, ["k1"], before_where="n < 3", after_where="n > 0",
        faithful=True, presence_fix=True, column_case="lower",
    )
    assert got.columns == want.columns
    assert Counter(map(tuple, got.collect())) == Counter(
        map(tuple, want.collect())
    )
    assert "val" in got.columns  # column_case reached diff()
    # presence_fix reached diff(): the NULL-key row matched on both sides
    assert got.filter("K_k1 IS NULL").collect()[0]["_row_status"] is None


def test_diff_summary(spark, duck):
    b = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k1 int, val string")
    a = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "k1 int, val string")
    row = diff_summary(diff(b, a, ["k1"])).collect()[0]
    assert row["total_rows"] == 4
    assert row["matched_rows"] == 2
    assert row["missing_in_before"] == 1
    assert row["missing_in_after"] == 1
    assert row["changed_rows"] == 1


def test_key_missing_raises(spark):
    b = spark.createDataFrame([(1, "a")], "k1 int, val string")
    a = spark.createDataFrame([("a",)], "val string")
    with pytest.raises(ValueError):
        diff(b, a, ["k1"])


def test_diff_udt_drift_column_falls_back_to_column_projection(spark):
    """Review r10: the selectExpr rewrite renders drift-injected NULLs as
    CAST(NULL AS <simpleString>), which has no parseable DDL for UDTs
    (VectorUDT -> 'vector'). The Column-based fallback must keep diff
    total: an after-only vector column statuses as NULL_IN_BEFORE (2) on
    every row, like any other drift column."""
    from pyspark.ml.linalg import Vectors, VectorUDT
    from pyspark.sql.types import LongType, StructField, StructType

    before = spark.createDataFrame([(1, 10), (2, 20)], "k bigint, v bigint")
    schema = StructType([
        StructField("k", LongType()),
        StructField("v", LongType()),
        StructField("feat", VectorUDT()),
    ])
    after = spark.createDataFrame(
        [(1, 10, Vectors.dense([1.0, 2.0])), (2, 21, Vectors.dense([3.0]))],
        schema,
    )
    d = diff(before, after, ["k"])
    rows = {r.K_K: r for r in d.collect()}
    assert d.columns == ["_row_status", "K_K", "K", "V", "FEAT"]
    assert rows[1].FEAT == 2 and rows[2].FEAT == 2
    assert rows[1].V == 0 and rows[2].V == 1


def test_selectexpr_projection_matches_python_reference_on_adversarial_schema(
    spark,
):
    """Round 10: the diff projections are rendered as SQL strings — this
    pins the rendering (identifier quoting, CASE branch order, typed NULL
    injection, null-safe key coalesce) against an INDEPENDENT pure-python
    status computation, on a schema built to break naive quoting: spaces,
    dots, backticks, quotes, unicode, plus drift both ways, a NULL key,
    decimals, arrays and timestamps."""
    import datetime
    from decimal import Decimal

    T0 = datetime.datetime(2024, 1, 1)
    # columns: key K; "A B" (spaces), "C`D" (backtick), "E.F" (dot),
    # "NAÏVE" (unicode), "G'H" (quote) — before also has BEFORE_ONLY,
    # after also has AFTER_ONLY
    b_rows = [
        (1, 1.5, "x", Decimal("1.10"), [1, 2], T0, "bo"),
        (2, None, "y", Decimal("2.00"), None, None, None),
        (3, 3.0, None, None, [3], T0, "bo3"),
        (None, 9.0, "nk", Decimal("9.90"), [9], T0, "nkb"),
        (5, 5.0, "gone", Decimal("5.50"), [5], T0, "bo5"),
    ]
    a_rows = [
        (1, 1.5, "x", Decimal("1.10"), [1, 2], T0, "ao"),          # all match
        (2, 2.5, "y2", Decimal("2.00"), [2], T0, "ao2"),           # diffs
        (3, None, "z", None, [3], None, None),                     # null flips
        (None, 9.0, "nk", Decimal("9.91"), [9], T0, "nka"),        # NULL key
        (6, 6.0, "new", Decimal("6.60"), [6], T0, "ao6"),          # new row
    ]
    schema_b = (
        "`K` bigint, `A B` double, `C``D` string, `E.F` decimal(10,2), "
        "`NAÏVE` array<int>, `G'H` timestamp, `BEFORE_ONLY` string"
    )
    schema_a = (
        "`K` bigint, `A B` double, `C``D` string, `E.F` decimal(10,2), "
        "`NAÏVE` array<int>, `G'H` timestamp, `AFTER_ONLY` string"
    )
    before = spark.createDataFrame(b_rows, schema_b)
    after = spark.createDataFrame(a_rows, schema_a)
    d = diff(before, after, ["K"])
    got = {r["K_K"]: tuple(r) for r in d.collect()}

    def status(b, a):
        if b is None and a is None:
            return 0
        if b is None:
            return 2
        if a is None:
            return 3
        return 0 if b == a else 1

    bmap = {r[0]: r for r in b_rows}
    amap = {r[0]: r for r in a_rows}
    cols = list(range(1, 6))  # shared value columns after the key
    expect = {}
    for k in {r[0] for r in b_rows} | {r[0] for r in a_rows}:
        b, a = bmap.get(k), amap.get(k)
        # reference quirk (presence_fix=False): _row_status keys off
        # first-key NULL-ness, so the NULL<=>NULL matched row classifies
        # as 4 even though it is present on both sides
        rs = (
            4 if (b is None or b[0] is None)
            else (5 if (a is None or a[0] is None) else None)
        )
        key_status = status(b and b[0], a and a[0])
        vals = [status(b[i] if b else None, a[i] if a else None) for i in cols]
        before_only = status(b[6] if b else None, None)
        after_only = status(None, a[6] if a else None)
        expect[k] = (
            rs, k, key_status, *vals, before_only, after_only,
        )
    assert d.columns == [
        "_row_status", "K_K", "K", "A B", "C`D", "E.F", "NAÏVE", "G'H",
        "BEFORE_ONLY", "AFTER_ONLY",
    ]
    assert got == expect, (got, expect)


def test_status_case_nested_if_equals_reference_truth_table(spark):
    """_status_rule renders the nested-IF form (smaller expression tree
    for the optimizer at DESCRIBE width); pin its truth table against the
    reference's literal 5-branch CASE on every (NULL, NULL), (NULL, x),
    (x, NULL), (x, x), (x, y) combination — including NULL join keys and
    schema drift."""
    from checkatron_spark.operators.diff import diff

    b = spark.createDataFrame(
        [(1, None, None), (2, None, 5), (3, 7, None), (4, 7, 7),
         (5, 7, 8), (None, 1, 2)],
        "k int, c0 int, c1 int",
    )
    a = spark.createDataFrame(
        [(1, None, None), (2, 5, None), (3, None, 9), (4, 7, 7),
         (5, 8, 8), (None, 1, 3), (6, 0, 0)],
        "k int, c0 int, c1 int",
    )
    rows = {r["K_K"]: r for r in diff(b, a, ["k"]).collect()}
    # (b, a) -> status: both-NULL 0, NULL-before 2, NULL-after 3,
    # equal 0, different 1
    assert (rows[1]["C0"], rows[1]["C1"]) == (0, 0)
    assert (rows[2]["C0"], rows[2]["C1"]) == (2, 3)
    assert (rows[3]["C0"], rows[3]["C1"]) == (3, 2)
    assert (rows[4]["C0"], rows[4]["C1"]) == (0, 0)
    assert (rows[5]["C0"], rows[5]["C1"]) == (1, 0)
    assert (rows[None]["C0"], rows[None]["C1"]) == (0, 1)  # NULL key matches
    assert rows[6]["_row_status"] == 4  # missing in before
