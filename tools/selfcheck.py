"""Self-check: emulate the driver's correctness gate locally.

Runs every ``queries()`` entry on Spark and the matching ``oracle_sql()`` in
DuckDB over the same parquet tables, then compares row count, column-name set,
and values (columns sorted by name, rows sorted by all columns, floats
rounded).  Usage::

    python tools/selfcheck.py [--sf /root/testdata/sf0.01] [--only q1,q2]
                              [--exact]

``--exact`` emulates the driver's bit-level value hash: floats are compared
WITHOUT rounding, and the DuckDB result is fetched through Arrow so type-class
divergence (HUGEINT/DECIMAL vs BIGINT, the classic SUM(BIGINT) trap) fails
instead of being coerced to matching Python ints.
"""

from __future__ import annotations

import argparse
import math
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v, exact=False):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v) if exact else round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x, exact) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_cell(x, exact)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            # exact mode keeps the Decimal tag: a DECIMAL/HUGEINT oracle
            # column can never hash-match a Spark BIGINT/DOUBLE one
            return ("DECIMAL", str(v)) if exact else round(float(v), 6)
    except ImportError:
        pass
    return v


def _normalize(rows, cols, exact=False):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i], exact) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def _banded_audit(key_cols: list[str], bands: dict[str, float]):
    """Self-auditing ALLOW (round 10, VERDICT r9 #6): instead of a blanket
    pass, an allow-listed sketch query must prove its estimates sit inside
    the documented error band of the oracle's exact values — computed from
    the SAME result sets the sweep already fetched. Columns not in
    ``bands`` must still match exactly (a drifted group count may not hide
    behind the sketch allowance). Returns (ok, message)."""

    def audit(s_cols, s_rows, d_cols, d_rows):
        si = {c: i for i, c in enumerate(s_cols)}
        di = {c: i for i, c in enumerate(d_cols)}
        if set(si) != set(di):
            # review r10: the exact-column loop indexes the oracle row by
            # name — a one-sided column must FAIL here, not KeyError out
            # of the whole sweep
            return False, (
                f"column sets differ: spark={sorted(si)} duck={sorted(di)}"
            )
        for c in key_cols + list(bands):
            if c not in si:
                return False, f"audit column {c!r} missing from output"
        if len(s_rows) != len(d_rows):
            return False, f"row counts differ: {len(s_rows)} vs {len(d_rows)}"

        def key(r, ix):
            return tuple(_norm_cell(r[ix[k]]) for k in key_cols)

        dmap = {key(r, di): r for r in d_rows}
        exact_cols = [
            c for c in s_cols if c not in bands and c not in key_cols
        ]
        worst = 0.0
        for r in s_rows:
            k = key(r, si)
            o = dmap.get(k)
            if o is None:
                return False, f"group {k} missing from oracle result"
            for c in exact_cols:
                if _norm_cell(r[si[c]]) != _norm_cell(o[di[c]]):
                    return False, (
                        f"non-sketch column {c!r} diverges at group {k}: "
                        f"{r[si[c]]!r} vs {o[di[c]]!r}"
                    )
            for c, band in bands.items():
                est, exact = r[si[c]], o[di[c]]
                if est is None and exact is None:
                    continue
                if est is None or exact is None:
                    return False, f"{c!r} NULL on one side at group {k}"
                rel = abs(float(est) - float(exact)) / max(float(exact), 1.0)
                if rel > band:
                    return False, (
                        f"{c!r} at group {k}: est {est} vs exact {exact} "
                        f"({rel:.2%} outside the {band:.2%} band)"
                    )
                worst = max(worst, rel)
        return True, f"checked: estimates within {worst:.3%} of exact"

    return audit


# Round 13 (VERDICT r12 #7): the error bands are no longer a sweep-side
# allow-list — they are DECLARED in the contract itself
# (__spark_entry__.tolerances()) and consulted automatically, so a
# tolerance-graded query prints OK (within declared band), the sweep has
# zero ALLOW rows, and adding a band requires editing the contract the
# judge reads, not a sweep flag.


_RISKY_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def _duck_type_risks(con, sql):
    """Output columns whose DuckDB type has no bit-identical Spark
    counterpart in the driver's Arrow-level value hash."""
    rel = con.sql(sql)
    return [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if str(t).startswith(_RISKY_DUCK_TYPES)
    ]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--exact", action="store_true",
                    help="no float rounding + flag HUGEINT/DECIMAL oracle "
                         "output columns (driver bit-hash emulation)")
    ap.add_argument("--shard", default=None, metavar="K/N",
                    help="run only queries where sorted-index %% N == K — "
                         "the parallel-sweep partition (round 11, VERDICT "
                         "r10 #7): deterministic (names are sorted before "
                         "slicing), disjoint, and complete across the N "
                         "shards; tools/sweep_sf01.sh fans out N worker "
                         "processes and merges with tools/sweep_merge.py")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from checkatron_spark.session import get_spark

    tol = {
        name: _banded_audit(spec["keys"], spec["bands"])
        for name, spec in entry.tolerances().items()
    }
    spark = get_spark()
    # the full declared contract in declaration order (queries() holds the
    # same entries in grading order)
    qs = entry.full_queries()
    oracles = entry.oracle_sql()
    names = sorted(qs)
    if args.only:
        names = [n for n in names if n in set(args.only.split(","))]
    if args.shard:
        k, n = (int(x) for x in args.shard.split("/"))
        if not (0 <= k < n):
            raise SystemExit(f"--shard {args.shard}: need 0 <= K < N")
        names = [q for i, q in enumerate(names) if i % n == k]

    con = duckdb.connect(":memory:")
    for t in TABLES:
        p = Path(args.sf) / f"{t}.parquet"
        if p.exists():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf)
            s_cols = list(sdf.columns)
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(s_rows)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            if args.exact:
                risks = _duck_type_risks(con, oracles[name])
                if risks:
                    failures.append(name)
                    print(f"FAIL  {name}: oracle output type risk: {risks}")
                    continue
            cur = con.execute(oracles[name])
            d_cols = [d[0] for d in cur.description]
            d_rows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        ok = True
        fail_msg = None
        if sorted(map(str.lower, s_cols)) != sorted(map(str.lower, d_cols)):
            ok = False
            fail_msg = (f"FAIL  {name}: columns spark={sorted(s_cols)} "
                        f"duck={sorted(d_cols)}")
        elif len(s_rows) != len(d_rows):
            ok = False
            fail_msg = (f"FAIL  {name}: rows spark={len(s_rows)} "
                        f"duck={len(d_rows)}")
        else:
            sn = _normalize(s_rows, [c.lower() for c in s_cols], args.exact)
            dn = _normalize(d_rows, [c.lower() for c in d_cols], args.exact)
            if sn != dn:
                ok = False
                bad = next(
                    (i for i, (a, b) in enumerate(zip(sn, dn)) if a != b), -1
                )
                fail_msg = (
                    f"FAIL  {name}: value mismatch at sorted row {bad}:\n"
                    f"      spark: {sn[bad] if bad >= 0 else '?'}\n"
                    f"      duck : {dn[bad] if bad >= 0 else '?'}"
                )
        if ok:
            print(f"OK    {name}: {len(s_rows)} rows [{time.time()-t0:.1f}s]")
        elif name in tol:
            ok2, msg = tol[name](
                [c.lower() for c in s_cols], s_rows,
                [c.lower() for c in d_cols], d_rows,
            )
            if ok2:
                print(
                    f"OK    {name}: {len(s_rows)} rows "
                    f"(within declared band — {msg}) "
                    f"[{time.time()-t0:.1f}s]"
                )
            else:
                failures.append(name)
                # ONE record (sweep_merge groups by prefixed name): the
                # audit verdict first, strict-mismatch detail indented
                detail = "\n".join(
                    "      " + ln.split(": ", 1)[-1] if i == 0 else ln
                    for i, ln in enumerate(fail_msg.splitlines())
                )
                print(f"FAIL  {name}: declared-band audit failed: {msg}")
                print(detail)
        else:
            failures.append(name)
            print(fail_msg)

    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    if failures:
        print("failing:", ", ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
