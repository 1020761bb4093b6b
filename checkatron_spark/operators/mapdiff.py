"""Per-entry diff for MAP columns — semi-structured drift at entry granularity.

The reference compares every column with whole-value ``=`` (SURVEY.md §2.8);
for a ``map<string, T>`` metadata column that collapses any drift into one
opaque status-1. This operator keeps the reference's status vocabulary
(/root/reference/checkatron/templates/full_compare.sql.j2:1-9) but emits one
row per (business key, map entry): 0 match (both-NULL included), 1 both
present but different, 2 entry NULL/absent in before only, 3 in after only —
absent entries and explicit NULL values coalesce, mirroring how the column
diff treats missing columns (full_compare.sql.j2:44-45). ``_row_status``
stays 4/5 for rows missing on one side.

Plan: the same single null-safe full-outer join as the core diff, then an
explode over the union of the two entry-key sets — output ∝ rows × live
entries, shuffled once on the business key. At 100 TB this is the diff you
run on ragged metadata (doc annotations, feature bags) where the schema
can't enumerate the keys up front.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from checkatron_spark.operators.diff import _status_rule

__all__ = ["map_diff", "array_diff"]


def map_diff(
    before: DataFrame,
    after: DataFrame,
    keys: list[str],
    map_col: str,
) -> DataFrame:
    """One row per (key, map entry) with the reference status coding.

    Output: ``_row_status`` (4/5/NULL), ``K_<key>`` raw key columns,
    ``entry_key``, ``status``. Rows missing on one side still enumerate the
    present side's entries (against an absent counterpart, like the NULL
    injection for missing columns)."""
    b = before.select(
        F.lit(True).alias("__b"),
        *[F.col(k).alias(f"b_{k}") for k in keys],
        F.col(map_col).alias("b_m"),
    )
    a = after.select(
        F.lit(True).alias("__a"),
        *[F.col(k).alias(f"a_{k}") for k in keys],
        F.col(map_col).alias("a_m"),
    )
    cond = reduce(
        lambda x, y: x & y,
        [F.col(f"b_{k}").eqNullSafe(F.col(f"a_{k}")) for k in keys],
    )
    j = b.join(a, cond, "full_outer")

    in_b, in_a = F.col("__b").isNotNull(), F.col("__a").isNotNull()
    empty = F.array().cast("array<string>")
    all_keys = F.array_union(
        F.coalesce(F.map_keys(F.col("b_m")), empty),
        F.coalesce(F.map_keys(F.col("a_m")), empty),
    )
    row_status = (
        F.when(~in_b, F.lit(4)).when(~in_a, F.lit(5)).cast("int")
    )
    exploded = j.select(
        row_status.alias("_row_status"),
        *[
            F.coalesce(F.col(f"b_{k}"), F.col(f"a_{k}")).alias(f"K_{k}")
            for k in keys
        ],
        F.col("b_m"),
        F.col("a_m"),
        F.explode(all_keys).alias("entry_key"),
    )
    status = F.expr(_status_rule("b_m[entry_key]", "a_m[entry_key]"))
    return exploded.select(
        "_row_status",
        *[f"K_{k}" for k in keys],
        "entry_key",
        status.alias("status"),
    )


def array_diff(
    before: DataFrame,
    after: DataFrame,
    keys: list[str],
    array_col: str,
) -> DataFrame:
    """Positional per-element diff for ARRAY columns — the array twin of
    :func:`map_diff`, with the element index as the entry key.

    One row per (business key, position) over the LONGER of the two arrays;
    positions past an array's end coalesce with explicit NULL elements (the
    missing-column convention again). Status coding and ``_row_status``
    match :func:`map_diff`. Same single full-outer join + explode plan."""
    b = before.select(
        F.lit(True).alias("__b"),
        *[F.col(k).alias(f"b_{k}") for k in keys],
        F.col(array_col).alias("b_v"),
    )
    a = after.select(
        F.lit(True).alias("__a"),
        *[F.col(k).alias(f"a_{k}") for k in keys],
        F.col(array_col).alias("a_v"),
    )
    cond = reduce(
        lambda x, y: x & y,
        [F.col(f"b_{k}").eqNullSafe(F.col(f"a_{k}")) for k in keys],
    )
    j = b.join(a, cond, "full_outer")

    in_b, in_a = F.col("__b").isNotNull(), F.col("__a").isNotNull()
    n = F.greatest(
        F.coalesce(F.size("b_v"), F.lit(0)),
        F.coalesce(F.size("a_v"), F.lit(0)),
    )
    row_status = F.when(~in_b, F.lit(4)).when(~in_a, F.lit(5)).cast("int")
    exploded = j.filter(n > 0).select(
        row_status.alias("_row_status"),
        *[
            F.coalesce(F.col(f"b_{k}"), F.col(f"a_{k}")).alias(f"K_{k}")
            for k in keys
        ],
        F.col("b_v"),
        F.col("a_v"),
        F.explode(F.sequence(F.lit(0), n - 1)).alias("pos"),
    )
    # try_element_at: a position past one array's end reads as NULL
    # (element_at raises there under ANSI mode)
    status = F.expr(
        _status_rule(
            "try_element_at(b_v, pos + 1)", "try_element_at(a_v, pos + 1)"
        )
    )
    return exploded.select(
        "_row_status",
        *[f"K_{k}" for k in keys],
        F.col("pos").cast("int").alias("pos"),
        status.alias("status"),
    )
