"""Core table-diff operator, implemented as a native DataFrame transformation.

Semantics match the reference's generated SQL (see
/root/reference/checkatron/templates/full_compare.sql.j2:10-86 and the pinned
behavior in /root/reference/tests/test_diffgen.py):

Per-column status codes (full_compare.sql.j2:1-9):
    0 = match (including both NULL)
    1 = both non-null but different
    2 = NULL in BEFORE only
    3 = NULL in AFTER only
Row-level ``_row_status`` (full_compare.sql.j2:68-72):
    4 = row missing in BEFORE, 5 = row missing in AFTER, NULL = present in both

Output column order (full_compare.sql.j2:67-86): ``_row_status`` first, then the
raw key values as ``K_<key>``, then one INT status column per column in the
order-preserving union of before-columns + after-only columns
(diffgen.py:76-80). Key columns are themselves status-coded too.

Spark-first design (NOT a translation of the reference's 3-CTE plan):
the reference plan is ``all_keys = keys(before) UNION keys(after)`` followed by
two null-safe LEFT JOINs (full_compare.sql.j2:23-66) — it scans each input
twice and shuffles three times. Here the default plan is a single
``full_outer`` join on ``eqNullSafe`` keys: identical output semantics
(including the m-by-n duplicate-key fanout and the NULL-first-key quirk,
SURVEY.md section 2.3), one shuffle, each input scanned once. Spark's
``ExtractEquiJoinKeys`` treats EqualNullSafe as a first-class equi-join key, so
this stays a sort-merge/shuffled-hash join (broadcast when one side is small,
via AQE). ``faithful=True`` keeps the literal 3-operator shape for
cross-checking the rewrite.

At 100 TB: the diff is exactly one key-hash shuffle of each side; status
columns are computed post-join, embarrassingly parallel inside whole-stage
codegen. For repeated diffs of the same tables, bucket both sides by the key
columns (``writer.bucketBy(n, *keys).sortBy(*keys)``) and the join becomes
shuffle-free.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

__all__ = ["DiffSpec", "diff", "diff_from_spec"]

_B = "b_"  # prefix for before-side columns inside the joined frame
_A = "a_"  # prefix for after-side columns


def _q(name: str) -> str:
    """Backtick-quote an identifier for Spark SQL (`` escapes a backtick)."""
    return "`" + name.replace("`", "``") + "`"


def _norm(name: str, column_case: str) -> str:
    if column_case == "upper":
        return name.upper()
    if column_case == "lower":
        return name.lower()
    return name


@dataclass
class DiffSpec:
    """Declarative description of a diff, mirroring the reference CLI surface
    (diffgen.py:50-66): two tables, key columns, optional per-side filters."""

    keys: list[str]
    before_where: str | None = None
    after_where: str | None = None
    faithful: bool = False
    presence_fix: bool = False
    column_case: str = "upper"


def _prepare_side(
    df: DataFrame, where: str | None, prefix: str, all_cols: list[str],
    own_cols: set[str], other_types: dict, column_case: str,
    extras: list[str] = (),
) -> DataFrame:
    """Filter then project one side to prefixed columns, injecting typed NULLs
    for columns the side lacks (schema drift, full_compare.sql.j2:44-45,51-52).
    ``extras`` are passthrough columns (the null-safe bucket-key columns)
    carried for the join but never compared.

    The projection is rendered as SQL strings and applied with ONE
    ``selectExpr`` call: building 1000+ Column objects costs ~10 py4j round
    trips each, which was the dominant term of the measured wide-table
    planning cliff (SCALE.md "Core diff" — ~45 s of pure driver-side Python
    at 1200 columns, vs 0.1 s of actual Catalyst analysis)."""
    if where:
        df = df.filter(F.expr(where))
    rename = {_norm(c, column_case): c for c in df.columns}
    proj: list[str] = []
    for c in all_cols:
        if c in own_cols:
            proj.append(f"{_q(rename[c])} AS {_q(prefix + c)}")
        else:
            proj.append(
                f"CAST(NULL AS {other_types[c].simpleString()})"
                f" AS {_q(prefix + c)}"
            )
    for e in extras:
        proj.append(f"{_q(rename[e])} AS {_q(prefix + e)}")
    # presence marker: lets presence_fix mode distinguish "row absent" from
    # "first key legitimately NULL" (reference quirk, SURVEY.md section 2.3)
    proj.append(f"TRUE AS {_q(prefix + '__present__')}")
    try:
        return df.selectExpr(*proj)
    except Exception:
        # review r10: a drift-injected NULL's type may have no parseable
        # DDL form (UDTs — VectorUDT's simpleString() is 'vector', which
        # CAST cannot parse). Fall back to the Column-based projection,
        # which accepts any DataType object: slower to construct (py4j per
        # column) but total; the common all-parquet path never lands here.
        cols = []
        for c in all_cols:
            if c in own_cols:
                cols.append(F.col(f"`{rename[c]}`").alias(prefix + c))
            else:
                cols.append(
                    F.lit(None).cast(other_types[c]).alias(prefix + c)
                )
        for e in extras:
            cols.append(F.col(f"`{rename[e]}`").alias(prefix + e))
        cols.append(F.lit(True).alias(prefix + "__present__"))
        return df.select(*cols)


def _status_rule(b: str, a: str, equal: str | None = None) -> str:
    """Per-column status CASE (full_compare.sql.j2:77-85) as an unaliased
    SQL expression over two SQL operands, ``b`` the before/baseline side.
    ``equal`` overrides the match predicate (tolerance modes); default is
    the reference's plain ``=``. The one spelling of the 0/1/2/3 rule:
    :func:`diff`, ``map_diff``, ``array_diff`` and ``stream_diff`` all
    render it.

    Rendered as the value-identical nested-IF form rather than the
    reference's literal 5 branches: each NULL test appears once instead
    of twice, which cuts the expression tree ~30% — at DESCRIBE width
    (1200 columns) the optimizer + AQE replans walk ~6000 fewer nodes
    per pass (wide_diff_1200col 4.3 -> 3.8 s measured; equality incl.
    NULL keys and schema drift pinned in tests/test_diff.py). Branch
    order preserves the reference's truth table exactly: b NULL -> a
    NULL ? 0 : 2; a NULL -> 3; equal -> 0; else 1."""
    eq = equal if equal is not None else f"{b} = {a}"
    return (
        f"CAST(CASE WHEN {b} IS NULL THEN IF({a} IS NULL, 0, 2)"
        f" WHEN {a} IS NULL THEN 3"
        f" WHEN {eq} THEN 0 ELSE 1 END AS INT)"
    )


def _equal_pred(
    b: str, a: str, col: str,
    tolerances: dict[str, float] | None, ts_trunc: str | None,
    b_type, a_type,
) -> str | None:
    """Optional type-aware match predicate (flag-gated; reference semantics
    are plain ``=`` and stay the default), rendered as SQL over the quoted
    joined-frame names. ``tolerances[col]`` compares numerics with
    |b-a| <= tol; ``ts_trunc`` compares timestamps truncated to that unit
    ('second', 'minute', ...)."""
    if tolerances and col in tolerances:
        tol = float(tolerances[col])
        return (
            f"abs(CAST({b} AS DOUBLE) - CAST({a} AS DOUBLE))"
            f" <= CAST({tol!r} AS DOUBLE)"
        )
    if ts_trunc and any(
        t.simpleString().startswith("timestamp")  # timestamp AND timestamp_ntz
        for t in (b_type, a_type)
    ):
        if not ts_trunc.isalpha():
            raise ValueError(f"invalid ts_trunc unit: {ts_trunc!r}")
        return f"date_trunc('{ts_trunc}', {b}) = date_trunc('{ts_trunc}', {a})"
    if isinstance(b_type, MapType) or isinstance(a_type, MapType):
        # whole-value equality for multimodal/nested columns: arrays and
        # structs compare natively, but Spark forbids `=` on maps —
        # canonicalize to key-sorted entry arrays first
        return f"array_sort(map_entries({b})) = array_sort(map_entries({a}))"
    return None


def diff(
    before: DataFrame,
    after: DataFrame,
    keys: list[str],
    *,
    before_where: str | None = None,
    after_where: str | None = None,
    faithful: bool = False,
    presence_fix: bool = False,
    column_case: str = "upper",
    tolerances: dict[str, float] | None = None,
    ts_trunc: str | None = None,
    null_safe_keys: bool = True,
) -> DataFrame:
    """Full-outer, null-safe, multi-key table diff.

    Parameters mirror the reference CLI (diffgen.py:50-66). ``faithful=True``
    uses the reference's literal 3-op plan (key-UNION + two left joins);
    the default is the single full-outer join rewrite (same semantics, one
    shuffle). ``presence_fix=True`` derives ``_row_status`` from a join
    presence marker instead of first-key NULL-ness, fixing the reference's
    NULL-first-key misclassification quirk. ``tolerances``/``ts_trunc``
    relax per-column equality (numeric epsilon / timestamp truncation) —
    off by default, matching the reference's plain ``=``.

    ``null_safe_keys=False`` joins with plain ``=`` instead of ``<=>``:
    identical results whenever key columns contain no NULLs (the usual
    business-key contract) and REQUIRED for the zero-shuffle bucketed-diff
    path — Spark compiles ``<=>`` to composite ``(coalesce(k, 0),
    isnull(k))`` join keys, which can never match a bucket spec on ``k``,
    so bucketed scans are rejected by the planner under null-safe joins.
    """
    if not keys:
        raise ValueError("diff() requires at least one key column")

    keys = [_norm(k, column_case) for k in keys]
    before_names = [_norm(c, column_case) for c in before.columns]
    after_names = [_norm(c, column_case) for c in after.columns]
    # __nsb_/__nsn_ columns are bucket-layout metadata materialized by
    # save_bucketed(null_safe=True) — derived from the keys, never part of
    # the compared column universe (they'd otherwise show up as status
    # columns and change the output contract). Reserved prefix.
    _ns_meta = tuple(
        _norm(p, column_case) for p in ("__nsb_", "__nsn_")
    )
    before_names = [c for c in before_names if not c.startswith(_ns_meta)]
    after_names = [c for c in after_names if not c.startswith(_ns_meta)]
    # order-preserving union: before columns, then after-only (diffgen.py:76-80)
    all_cols = before_names + [c for c in after_names if c not in set(before_names)]
    for k in keys:
        if k not in set(before_names) or k not in set(after_names):
            raise ValueError(f"key column {k!r} must exist on both sides")

    b_types = {
        _norm(f.name, column_case): f.dataType for f in before.schema.fields
    }
    a_types = {_norm(f.name, column_case): f.dataType for f in after.schema.fields}

    # null-safe bucketed fast path (VERDICT r6 item 5): when BOTH sides
    # carry the materialized (__nsb_<k>, __nsn_<k>) pair for every key
    # (save_bucketed(null_safe=True)), join on those physical columns —
    # plain `=` on the pair IS `<=>` on the key, and unlike `<=>` it
    # matches the bucket spec, so re-diffs of bucketed snapshots are
    # exchange-free under the DEFAULT null-safe semantics too
    _bset = {_norm(c, column_case) for c in before.columns}
    _aset = {_norm(c, column_case) for c in after.columns}
    _vp, _np = (_norm(p, column_case) for p in ("__nsb_", "__nsn_"))
    ns_join_pairs: list[tuple[str, str]] = []
    if null_safe_keys and not faithful:
        for k in keys:
            v, n = _vp + k, _np + k
            if v in _bset and v in _aset and n in _bset and n in _aset:
                ns_join_pairs.append((v, n))
            else:
                ns_join_pairs = []
                break
    ns_extras = [c for pair in ns_join_pairs for c in pair]

    b = _prepare_side(before, before_where, _B, all_cols, set(before_names),
                      a_types, column_case, extras=ns_extras)
    a = _prepare_side(after, after_where, _A, all_cols, set(after_names),
                      b_types, column_case, extras=ns_extras)

    if faithful:
        joined = _join_faithful(b, a, keys)
    elif ns_join_pairs:
        cond = reduce(
            lambda x, y: x & y,
            [
                (b[_B + v] == a[_A + v]) & (b[_B + n] == a[_A + n])
                for v, n in ns_join_pairs
            ],
        )
        joined = b.join(a, cond, "full_outer")
    else:
        cond = reduce(
            lambda x, y: x & y,
            [
                b[_B + k].eqNullSafe(a[_A + k])
                if null_safe_keys
                else b[_B + k] == a[_A + k]
                for k in keys
            ],
        )
        joined = b.join(a, cond, "full_outer")

    if presence_fix:
        missing_before = f"{_q(_B + '__present__')} IS NULL"
        missing_after = f"{_q(_A + '__present__')} IS NULL"
    else:
        # reference semantics: first-key NULL-ness (full_compare.sql.j2:69-70)
        missing_before = f"{_q(_B + keys[0])} IS NULL"
        missing_after = f"{_q(_A + keys[0])} IS NULL"

    row_status = (
        f"CAST(CASE WHEN {missing_before} THEN 4"
        f" WHEN {missing_after} THEN 5"
        f" ELSE NULL END AS INT) AS {_q('_row_status')}"
    )
    # K_<key> passthrough: the all_keys CTE's key value (full_compare.sql.j2:73-75).
    # coalesce(b,a) reproduces it exactly: NULL only when the key matched as
    # NULL<=>NULL (or is absent on the present side), which is what the
    # key-union produces.
    key_cols = [
        f"coalesce({_q(_B + k)}, {_q(_A + k)}) AS {_q('K_' + k)}" for k in keys
    ]
    if tolerances:
        tolerances = {_norm(c, column_case): v for c, v in tolerances.items()}
    status_cols = [
        _status_rule(
            _q(_B + c),
            _q(_A + c),
            _equal_pred(
                _q(_B + c), _q(_A + c), c, tolerances, ts_trunc,
                b_types.get(c, a_types.get(c)), a_types.get(c, b_types.get(c)),
            ),
        )
        + f" AS {_q(c)}"
        for c in all_cols
    ]
    return joined.selectExpr(row_status, *key_cols, *status_cols)


def _join_faithful(b: DataFrame, a: DataFrame, keys: list[str]) -> DataFrame:
    """The reference's literal plan: dedup key-union + two null-safe left
    joins (full_compare.sql.j2:23-66). Kept for oracle cross-checks of the
    full-outer rewrite; ~2-3x the default plan's cost (extra scan + shuffles).
    """
    k_b = b.select(*[F.col(_B + k).alias(f"K_{k}__j") for k in keys])
    k_a = a.select(*[F.col(_A + k).alias(f"K_{k}__j") for k in keys])
    all_keys = k_b.union(k_a).distinct()  # SQL UNION = union + dedup (U1)
    cond_b = reduce(
        lambda x, y: x & y,
        [all_keys[f"K_{k}__j"].eqNullSafe(b[_B + k]) for k in keys],
    )
    cond_a = reduce(
        lambda x, y: x & y,
        [all_keys[f"K_{k}__j"].eqNullSafe(a[_A + k]) for k in keys],
    )
    return all_keys.join(b, cond_b, "left").join(a, cond_a, "left").drop(
        *[f"K_{k}__j" for k in keys]
    )


def diff_from_spec(before: DataFrame, after: DataFrame, spec: DiffSpec) -> DataFrame:
    return diff(
        before,
        after,
        spec.keys,
        before_where=spec.before_where,
        after_where=spec.after_where,
        faithful=spec.faithful,
        presence_fix=spec.presence_fix,
        column_case=spec.column_case,
    )
