"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship diff at sf0.001; ``queries()`` maps
implemented operators from SURVEY.md §2 to (spark, sf_dir) -> DataFrame
callables; ``oracle_sql()`` provides the DuckDB-equivalent ANSI SQL the
driver cross-checks against at sf0.01.

Since round 9 ``queries()`` is the DRIVER-FACING view: ordered for the
50-slot check window and pruned of long-proven ever-green entries (cap
``_DRIVER_DICT_CAP``). The COMPLETE declared contract — every implemented
query, what the per-round sf0.1 sweep and the pytest oracle gate grade —
is ``full_queries()``; ``oracle_sql()`` always covers all of it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from checkatron_spark import analytics as A
from checkatron_spark import corpus as C
from checkatron_spark import expectations as EX
from checkatron_spark import multimodal as M
from checkatron_spark import pipelines as P
from checkatron_spark import streaming as ST
from checkatron_spark import sampling as SA
from checkatron_spark import selection as SEL
from checkatron_spark import tpch_ext as T
from checkatron_spark import tpch_ext2 as T2
from checkatron_spark import workloads as W
from checkatron_spark.operators.summary import (
    ROW_STATUS_LABELS,
    STATUS_LABELS,
    diff_drilldown,
    diff_summary,
    labeled_counts,
)
from checkatron_spark.plans.sqlgen import render_summary_sql
from checkatron_spark.sources.tables import load_table


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return W.diff_orders(spark, "/root/testdata/sf0.001")


# --------------------------------------------------------------------------
# diff family (SURVEY.md §2.1-2.7: core parity surface)
# --------------------------------------------------------------------------

def _q_diff_orders(spark, sf_dir):
    return W.diff_orders(spark, sf_dir)


def _q_diff_orders_faithful(spark, sf_dir):
    # literal reference plan shape (key-UNION + two left joins, J1/J2/U1)
    return W.diff_orders(spark, sf_dir, faithful=True)


def _q_diff_orders_sqlmacro(spark, sf_dir):
    """SURVEY §4.2 stretch: the flagship diff written as SQL through the
    DIFF(...) table macro (plans/sqlmacro.py) — expansion builds the SAME
    single full-outer-join operator, so this grades the macro path
    against the identical rendered-SQL oracle as diff_orders (a
    cross-surface equality check, not a new semantics). Plan-identical to
    diff_orders, so it is deliberately NOT double-counted in the bench
    HEADLINE or probe batteries."""
    from checkatron_spark.plans.sqlmacro import sql

    W.orders_before(spark, sf_dir).createOrReplaceTempView("__macro_before")
    W.orders_after(spark, sf_dir).createOrReplaceTempView("__macro_after")
    return sql(
        spark,
        "SELECT * FROM DIFF(__macro_before, __macro_after, KEYS(o_orderkey))",
    )


def _q_diff_orders_summary(spark, sf_dir):
    return diff_summary(W.diff_orders(spark, sf_dir))


def _q_diff_orders_drilldown(spark, sf_dir):
    # P7: WHERE _row_status > 0 (README.md:196)
    return diff_drilldown(W.diff_orders(spark, sf_dir))


def _q_diff_orders_decode(spark, sf_dir):
    # C3 decode CASE + labeled rollup over one column's status codes
    d = W.diff_orders(spark, sf_dir)
    row_label = (
        F.when(F.col("_row_status") == 4, ROW_STATUS_LABELS[4])
        .when(F.col("_row_status") == 5, ROW_STATUS_LABELS[5])
        .otherwise(F.lit("PRESENT_BOTH"))
    )
    status_label = (
        F.when(F.col("O_ORDERSTATUS") == 0, STATUS_LABELS[0])
        .when(F.col("O_ORDERSTATUS") == 1, STATUS_LABELS[1])
        .when(F.col("O_ORDERSTATUS") == 2, STATUS_LABELS[2])
        .when(F.col("O_ORDERSTATUS") == 3, STATUS_LABELS[3])
        .otherwise(F.lit("UNKNOWN"))
    )
    return (
        d.select(row_label.alias("row_label"), status_label.alias("status_label"))
        .groupBy("row_label", "status_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_diff_lineitem_multikey(spark, sf_dir):
    return W.diff_lineitem(spark, sf_dir)


def _q_diff_orders_incremental(spark, sf_dir):
    # checksum-pruned incremental diff (operators/incremental.py): the
    # 100 TB path — unchanged key-buckets never enter the join
    return W.diff_orders_incremental(spark, sf_dir)


def _q_keys_union(spark, sf_dir):
    # U1: SQL UNION (distinct) of key tuples from both sides
    b = W.orders_before(spark, sf_dir).select("o_orderkey")
    a = W.orders_after(spark, sf_dir).select("o_orderkey")
    return b.union(a).distinct()


def _q_labeled_counts(spark, sf_dir):
    # A3/U2: per-table labeled counts stacked with UNION ALL
    return labeled_counts(
        {
            "BEFORE": W.orders_before(spark, sf_dir),
            "AFTER": W.orders_after(spark, sf_dir),
        }
    )


def _q_dupkey_guard(spark, sf_dir):
    # operators/guard.py: the reference silently fans out m x n on
    # non-unique business keys (SURVEY.md §2.3) — this surfaces them
    from checkatron_spark.operators.guard import duplicate_keys

    return duplicate_keys(
        load_table(spark, "lineitem", sf_dir), ["l_orderkey"]
    )


def _q_salted_agg(spark, sf_dir):
    # operators/skew.py: two-phase salted aggregation — result equals the
    # plain groupBy (oracle) but the hot key spreads over 16 reducers
    from checkatron_spark.operators.skew import salted_agg

    li = load_table(spark, "lineitem", sf_dir)
    cents = F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5)).cast(
        "bigint"
    )
    return salted_agg(
        li.select("l_returnflag", cents.alias("_c")),
        ["l_returnflag"],
        [F.count(F.lit(1)).alias("_n"), F.sum("_c").alias("_s")],
        [
            F.sum("_n").alias("n_items"),
            (F.sum("_s").cast("double") / F.lit(100.0)).alias("sum_price"),
        ],
    )


def _q_salted_join(spark, sf_dir):
    # operators/skew.py::salted_join — hot-key-proof fact-fact equi join:
    # lineitem salted over 8 buckets, orders replicated 8x, then a rollup
    # whose result must equal the plain join (the DuckDB oracle)
    from checkatron_spark.operators.skew import salted_join

    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_extendedprice",
        "l_discount",
    )
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderpriority"
    )
    j = salted_join(li, orders, ["o_orderkey"], buckets=8)
    cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0)
        + F.lit(0.5)
    ).cast("bigint")
    return (
        j.select("o_orderpriority", cents.alias("_c"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum("_c").cast("double") / F.lit(100.0)).alias("revenue"),
        )
    )


def _q_orders_filtered(spark, sf_dir):
    # P1/P6/O1: free-form filter + projection + order (order-insensitive check)
    return (
        load_table(spark, "orders", sf_dir)
        .filter(F.expr("o_totalprice > 100000 AND o_orderstatus = 'O'"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


# The driver cross-checks the FIRST 50 entries of queries() per round, so
# the window must rotate: queries without a green CORRECTNESS row go first,
# ever-green ones go last. Rotation is AUTOMATIC — _greens_on_disk() reads
# every CORRECTNESS_r*.json committed to the repo root, and queries() demotes
# anything that has ever hash-matched — UNLESS its implementation changed
# since the green was recorded (_stale_greens — git-derived file hits,
# attributed down to the query's cross-module symbol closure by
# _query_fingerprint since round 9, so a big module's unrelated edits no
# longer flood the window), in which case it re-enters the window after the
# never-checked backlog. _CHECK_FIRST is the
# manual priority override on top: it fronts queries whose re-grade must land
# THIS round (a stale green that cannot wait behind the backlog). Entries
# that are already green AND unchanged can be pruned each round; leaving
# them costs a window slot, nothing else.
_CHECK_FIRST: list[str] = [
    # round 14 result-changed stale: ann_recall_audit's declared RESULT
    # changed this round (VERDICT r13 #2 — ann_ivf/ann_lsh join the
    # method map, 4 rows -> 6 rows), so its driver re-grade cannot wait
    # behind the age queue. (Deliberately <= 20 entries: the rotation
    # gate needs 50 - len(_CHECK_FIRST) >= the 30-pick quota cap —
    # test_rotation_simulation_bounds_grade_age.)
    "ann_recall_audit",
]

# Queries declared in the CURRENT round sit at the END of the never-checked
# segment so an older backlog grades first instead of being displaced by
# module merge order. Round 5: empty — the never-checked set (the 20-query
# round-4 backlog plus the ~16 round-5 additions) fits in one 50-slot
# window regardless of internal order, so no pinning is needed.
_CHECK_LAST: list[str] = [
    # round 14: the two newly-declared approximate ANN methods that also
    # joined the recall audit (VERDICT r13 #2) — deterministic grid-IVF
    # and banded sign-bit LSH
    "ann_ivf_grid_topk",
    "ann_lsh_banded_topk",
    # round 14: declared-NFC + script-class corpus profile (the
    # pre-tokenizer multilingual audit, VERDICT r13 #4)
    "unicode_profile",
    # round 14: incremental IVF maintenance — changefeed admission
    # against the fitted quantizer + stored index (VERDICT r13 #5)
    "ann_ivf_incremental",
    # round 14 stretch: streaming ANN admission — per-micro-batch
    # centroid-literal cell assignment, drained index == batch oracle
    # (VERDICT r13 #7; bench/probe exemption per the stream_bloom_gate
    # precedent — the drain is the same corpus scan the batch twin runs)
    "stream_ann_ivf_admission",
]


def _greens_on_disk() -> dict[str, str]:
    """Latest hash-green CORRECTNESS_r*.json path per query name."""
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    green: dict[str, str] = {}

    def _round_no(p: str) -> int:
        # numeric, not lexicographic: r100 must sort after r11, else the
        # "latest green" winner is wrong once rounds reach three digits
        m = re.search(r"CORRECTNESS_r(\d+)", os.path.basename(p))
        return int(m.group(1)) if m else -1

    paths = glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))
    for path in sorted(paths, key=_round_no):
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue  # a malformed round file must not break queries()
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if row.get("hash_match") is True:
                green[name] = os.path.basename(path)
            elif row.get("hash_match") is False:
                # a later-round red is a REGRESSION — it must clear the
                # older green so the query rotates back to the front, not
                # stay demoted behind its stale pass (None stays neutral:
                # rows-only checks carry no hash verdict either way)
                green.pop(name, None)
    return green


_SOURCE_FILES_CACHE: dict[str, frozenset] = {}
# per-process cache: the import graph of a module is stable within one
# driver/test invocation; staleness reloads per process anyway


def _query_source_files(fn) -> set[str]:
    """Repo-relative source files whose edits invalidate a query's green:
    the defining module plus any package modules it imports ANYWHERE in its
    source — module level or inside a function body (several queries import
    their operators locally, e.g. curation_funnel pulls corpus/sampling
    inside the function; scanning only module-level names would leave those
    dependencies invisible and their stale greens undetected)."""
    import ast
    import os
    import sys

    here = os.path.dirname(os.path.abspath(__file__))

    def _rel(mod) -> str | None:
        f = getattr(mod, "__file__", None)
        if not f:
            return None
        f = os.path.abspath(f)
        return os.path.relpath(f, here) if f.startswith(here + os.sep) else None

    def _mod_file(dotted: str) -> str | None:
        mod = sys.modules.get(dotted)
        if mod is not None:
            return _rel(mod)
        try:
            import importlib.util

            spec = importlib.util.find_spec(dotted)
        except (ImportError, ValueError):
            return None
        if spec is None or not spec.origin:
            return None
        f = os.path.abspath(spec.origin)
        return os.path.relpath(f, here) if f.startswith(here + os.sep) else None

    while hasattr(fn, "__wrapped__"):
        fn = fn.__wrapped__
    mod = sys.modules.get(getattr(fn, "__module__", ""), None)
    mod_file = _rel(mod) if mod is not None else None
    if mod is None or mod_file is None:
        return set()
    cached = _SOURCE_FILES_CACHE.get(mod_file)
    if cached is not None:
        return set(cached)
    files: set[str | None] = {mod_file}
    try:
        tree = ast.parse(open(os.path.join(here, mod_file)).read())
    except (OSError, SyntaxError):
        return {mod_file}
    pkg = "checkatron_spark"
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(pkg):
                    files.add(_mod_file(a.name))
        elif isinstance(node, ast.ImportFrom) and node.module:
            if node.module.startswith(pkg):
                files.add(_mod_file(node.module))
                # `from pkg import submodule` — the names may be modules
                for a in node.names:
                    files.add(_mod_file(f"{node.module}.{a.name}"))
    files.discard(None)
    _SOURCE_FILES_CACHE[mod_file] = frozenset(files)  # type: ignore[arg-type]
    return files  # type: ignore[return-value]


def _defining_module_file(fn) -> str | None:
    """Repo-relative path of the module that defines the query function."""
    import os
    import sys

    here = os.path.dirname(os.path.abspath(__file__))
    while hasattr(fn, "__wrapped__"):
        fn = fn.__wrapped__
    mod = sys.modules.get(getattr(fn, "__module__", ""), None)
    f = getattr(mod, "__file__", None) if mod is not None else None
    if not f:
        return None
    f = os.path.abspath(f)
    return os.path.relpath(f, here) if f.startswith(here + os.sep) else None


@__import__("functools").lru_cache(maxsize=4096)
def _mod_path(dotted: str) -> str | None:
    """Repo-relative file for a dotted module name; None when the module is
    external (site-packages never count toward staleness) or unresolvable."""
    import importlib.util
    import os

    here = os.path.dirname(os.path.abspath(__file__))
    try:
        spec = importlib.util.find_spec(dotted)
    except (ImportError, ValueError, AttributeError):
        return None
    if spec is None or not spec.origin or not getattr(spec, "has_location", False):
        return None  # builtin/frozen origins are sentinels, not paths
    if not os.path.isabs(spec.origin):
        return None
    f = os.path.abspath(spec.origin)
    return os.path.relpath(f, here) if f.startswith(here + os.sep) else None


_INFO_CACHE: dict = {}


def _parse_module_info(src: str):
    """Static summary of ONE module version for closure fingerprints
    (round 9): module-level defs by name, the preamble (imports + loose
    statements — both can change behavior without touching any def, so
    they fingerprint globally per module), and the import bindings that
    let symbol references resolve across repo modules. Returns None on a
    syntax error, a relative import, or a repo-module star import — the
    three shapes per-symbol attribution cannot survive."""
    import ast
    import hashlib

    key = hashlib.md5(src.encode()).hexdigest()
    if key in _INFO_CACHE:
        return _INFO_CACHE[key]

    def _build():
        try:
            tree = ast.parse(src)
        except (SyntaxError, ValueError):
            return None
        mod_aliases: dict[str, str] = {}  # local name -> dotted repo module
        sym_imports: dict[str, tuple] = {}  # local -> (dotted module, orig)
        ambiguous: set[str] = set()

        def bind(target: dict, name: str, value) -> None:
            if name in ambiguous:
                return
            other = sym_imports if target is mod_aliases else mod_aliases
            if name in other or (name in target and target[name] != value):
                ambiguous.add(name)
                target.pop(name, None)
                other.pop(name, None)
                return
            target[name] = value

        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        if _mod_path(a.name) is not None:
                            bind(mod_aliases, a.asname, a.name)
                    else:
                        root = a.name.split(".")[0]
                        if _mod_path(root) is not None:
                            bind(mod_aliases, root, root)
            elif isinstance(node, ast.ImportFrom):
                if node.level:
                    return None  # relative import — out of contract
                mod = node.module or ""
                for a in node.names:
                    if a.name == "*":
                        if mod.startswith("checkatron_spark"):
                            return None  # repo star import — unsound
                        continue
                    local = a.asname or a.name
                    sub = f"{mod}.{a.name}" if mod else a.name
                    if _mod_path(sub) is not None:
                        bind(mod_aliases, local, sub)
                    elif _mod_path(mod) is not None:
                        bind(sym_imports, local, (mod, a.name))

        defs: dict[str, ast.stmt] = {}
        extra_defs: dict[str, list] = {}  # re-assigned names keep EVERY node
        preamble: list[str] = []

        def add_def(name: str, node) -> None:
            if name in mod_aliases or name in sym_imports:
                # a module-level def REBINDS an import — references can
                # mean either depending on statement order, so the name
                # is unsound to attribute (review r9 finding #2)
                ambiguous.add(name)
                mod_aliases.pop(name, None)
                sym_imports.pop(name, None)
            if name in defs:
                extra_defs.setdefault(name, []).append(defs[name])
            defs[name] = node

        for i, node in enumerate(tree.body):
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                add_def(node.name, node)
            elif isinstance(node, ast.Assign) and all(
                isinstance(t, ast.Name) for t in node.targets
            ):
                for t in node.targets:
                    add_def(t.id, node)
            elif isinstance(node, ast.AnnAssign) and isinstance(
                node.target, ast.Name
            ):
                add_def(node.target.id, node)
            elif (
                i == 0
                and isinstance(node, ast.Expr)
                and isinstance(node.value, ast.Constant)
                and isinstance(node.value.value, str)
            ):
                pass  # module docstring
            else:
                preamble.append(
                    ast.get_source_segment(src, node) or ast.dump(node)
                )
        # mutable module-level literals (caches like `_MEMORY = {}`)
        # can be WRITTEN by functions outside a reader's closure — record
        # every def that references each such name so readers pull their
        # co-writers in (strings/numbers are immutable: excluded, or every
        # SQL constant would drag in all its consumers)
        mutable_users: dict[str, set] = {}
        mutables = {
            n
            for n, d in defs.items()
            if isinstance(d, (ast.Assign, ast.AnnAssign))
            and isinstance(
                getattr(d, "value", None), (ast.Dict, ast.List, ast.Set)
            )
        }
        if mutables:
            for dname, dnode in defs.items():
                if not isinstance(
                    dnode, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ):
                    continue
                for sub in ast.walk(dnode):
                    if isinstance(sub, ast.Name) and sub.id in mutables:
                        mutable_users.setdefault(sub.id, set()).add(dname)
        return {
            "src": src,
            "defs": defs,
            "extra_defs": extra_defs,
            "mutable_users": mutable_users,
            # DOCUMENT order — loose statements can be order-dependent
            # (CONF.update chains); sorting made reorders invisible
            # (review r9 finding #3)
            "preamble": preamble,
            "mod_aliases": mod_aliases,
            "sym_imports": sym_imports,
            "ambiguous": ambiguous,
            # per-version memo of _node_refs / source segments: the same
            # module version is consulted by every query that reaches it,
            # so resolve each symbol once (info dicts are cached by md5)
            "_refs": {},
            "_segs": {},
        }

    info = _build()
    _INFO_CACHE[key] = info
    return info


def _sym_refs(info, sym):
    """Memoized :func:`_node_refs` for a module-level symbol. Mutable
    module-level literals (dict/list/set caches) additionally pull in
    every same-module def that references them — a writer outside the
    reader's call closure still changes what the reader sees."""
    if sym not in info["_refs"]:
        merged_local: set = set()
        merged_ext: set = set()
        ok = True
        nodes = info.get("extra_defs", {}).get(sym, []) + [info["defs"][sym]]
        for node in nodes:
            r = _node_refs(info, node)
            if r is None:
                ok = False
                break
            merged_local |= r[0]
            merged_ext |= r[1]
        if ok:
            merged_local |= info.get("mutable_users", {}).get(sym, set())
        info["_refs"][sym] = (merged_local, merged_ext) if ok else None
    return info["_refs"][sym]


def _seg(info, node) -> str:
    """Source segment via a per-module-version line table:
    ast.get_source_segment re-splits the WHOLE module on every call
    (measured 11 s across one staleness pass), this is O(segment)."""
    import ast

    lines = info.get("_lines")
    if lines is None:
        lines = info["_lines"] = info["src"].splitlines(keepends=True)
    try:
        i0, c0 = node.lineno - 1, node.col_offset
        i1, c1 = node.end_lineno - 1, node.end_col_offset
    except AttributeError:
        return ast.dump(node)
    if i0 == i1:
        return lines[i0][c0:c1]
    return lines[i0][c0:] + "".join(lines[i0 + 1 : i1]) + lines[i1][:c1]


def _sym_seg(info, sym) -> str:
    """Memoized source segment for a module-level symbol (decorator lines
    included — they are outside node.lineno but change behavior; a
    re-assigned name concatenates EVERY assignment's segment)."""
    if sym not in info["_segs"]:
        nodes = info.get("extra_defs", {}).get(sym, []) + [info["defs"][sym]]
        parts = []
        for node in nodes:
            deco = "".join(
                "@" + _seg(info, d) + "\n"
                for d in getattr(node, "decorator_list", [])
            )
            parts.append(deco + _seg(info, node))
        info["_segs"][sym] = "\n".join(parts)
    return info["_segs"][sym]


def _node_refs(info, node):
    """Resolve every name referenced inside ``node`` against the module
    summary: returns (local_names, external_(file, symbol)_pairs) or None
    when a reference is unsound to attribute (ambiguous rebinding, a repo
    module alias used as a bare value)."""
    import ast

    # longest attribute chain per base Name node (walk is breadth-first,
    # so the outermost Attribute is seen before its inner ones)
    chains: dict[int, tuple] = {}
    attr_base_ids: set[int] = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Attribute):
            chain = []
            cur = sub
            while isinstance(cur, ast.Attribute):
                chain.append(cur.attr)
                cur = cur.value
            if isinstance(cur, ast.Name):
                attr_base_ids.add(id(cur))
                prev = chains.get(id(cur))
                flat = tuple(reversed(chain))
                if prev is None or len(flat) > len(prev):
                    chains[id(cur)] = flat

    local: set[str] = set()
    ext: set[tuple] = set()
    for sub in ast.walk(node):
        if not isinstance(sub, ast.Name):
            continue
        nid = sub.id
        if nid in info["ambiguous"]:
            return None
        if nid in info["mod_aliases"]:
            if id(sub) not in attr_base_ids:
                # module object used as a value (passed around / getattr):
                # per-symbol attribution is impossible
                return None
            dotted = info["mod_aliases"][nid]
            syms = list(chains[id(sub)])
            while syms and _mod_path(f"{dotted}.{syms[0]}") is not None:
                dotted = f"{dotted}.{syms[0]}"
                syms.pop(0)
            f = _mod_path(dotted)
            if f is None:
                continue  # resolved to an external module after all
            if not syms:
                return None  # bare module reference through the chain
            ext.add((f, syms[0]))
        elif nid in info["defs"]:
            local.add(nid)
        elif nid in info["sym_imports"]:
            mod, orig = info["sym_imports"][nid]
            f = _mod_path(mod)
            if f is not None:
                ext.add((f, orig))
            # external symbol imports never count toward staleness
    return local, ext


def _entry_frontier(info, start_file: str, query_name: str, info_of,
                    _visited: frozenset = frozenset()):
    """The query's OWN registration expressions in the start module's
    QUERIES / oracles() / _queries_unordered() / oracle_sql() literals:
    returns (frontier_items, entry_texts) or None. Only the per-key value
    expression joins the fingerprint, so adding an unrelated query to the
    same dict does not stale this one; a mapping function whose body feeds
    the dict from locals joins wholesale (conservative). ``**spread``
    entries are FOLLOWED when they are a plain ``Alias.QUERIES`` /
    ``alias.oracles()`` on a repo module (the spread module may register
    or override the key — review r9 finding #7); any other spread shape
    returns None."""
    import ast

    if start_file in _visited:
        return [], []  # spread cycle — already inspected
    _visited = _visited | {start_file}

    frontier: list[tuple] = []
    texts: list[str] = []
    for map_name in ("QUERIES", "oracles", "_queries_unordered", "oracle_sql"):
        node = info["defs"].get(map_name)
        if node is None:
            continue
        if isinstance(node, ast.Assign):
            d = node.value
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            rets = [s for s in ast.walk(node) if isinstance(s, ast.Return)]
            if len(rets) != 1 or rets[0].value is None:
                return None
            d = rets[0].value
            body = [
                s
                for s in node.body
                if not (
                    isinstance(s, ast.Expr)
                    and isinstance(s.value, ast.Constant)
                )
            ]
            if len(body) != 1 or not isinstance(body[0], ast.Return):
                frontier.append((start_file, map_name))
        else:
            return None
        if not isinstance(d, ast.Dict):
            return None
        for k, v in zip(d.keys, d.values):
            if k is None:
                # **spread — resolve Alias.QUERIES / alias.oracles() on a
                # repo module and inspect THAT module's maps for the key
                if isinstance(v, ast.Call) and not v.args and not v.keywords:
                    v = v.func
                if not (
                    isinstance(v, ast.Attribute)
                    and isinstance(v.value, ast.Name)
                    and v.value.id in info["mod_aliases"]
                ):
                    return None  # unresolvable spread shape
                f2 = _mod_path(info["mod_aliases"][v.value.id])
                if f2 is None:
                    return None
                info2 = info_of(f2)
                if info2 is None:
                    return None
                sub = _entry_frontier(
                    info2, f2, query_name, info_of, _visited
                )
                if sub is None:
                    return None
                frontier += sub[0]
                texts += sub[1]
            elif isinstance(k, ast.Constant) and k.value == query_name:
                texts.append(_seg(info, v))
                r = _node_refs(info, v)
                if r is None:
                    return None
                local, ext = r
                frontier += [(start_file, n) for n in local]
                frontier += list(ext)
    return frontier, texts


def _query_fingerprint(
    start_file: str, fn_name: str, query_name: str, src_of
) -> tuple[str, set[str]] | None:
    """Deterministic text fingerprint of EVERYTHING in the repo that can
    affect one query (round 9 — closure-level staleness): the transitive
    cross-module closure of its function (module-level defs reached by
    name, following `from x import y` and `alias.attr` references into
    other repo modules), its registration/oracle entry expressions, and
    each reached module's imports + loose statements. ``src_of(path)``
    supplies the module source per repo-relative path (disk for the
    working tree, `git show` for the recording commit's version). Returns
    (fingerprint, reached_files) so callers can gate on the TRANSITIVE
    reach — the one-hop _query_source_files set misses deep dependencies
    like operators reached through __init__ re-exports (review r9 finding
    #1) — or None whenever attribution is unsound; callers MUST treat
    None as "cannot prove unchanged"."""

    infos: dict[str, object] = {}

    def info_of(path: str):
        if path not in infos:
            s = src_of(path)
            infos[path] = None if s is None else _parse_module_info(s)
        return infos[path]

    start = info_of(start_file)
    if start is None or fn_name not in start["defs"]:
        return None
    entry = _entry_frontier(start, start_file, query_name, info_of)
    if entry is None:
        return None
    frontier, entry_texts = entry
    frontier = [(start_file, fn_name)] + frontier
    pieces = [f"{start_file}<entry>::{t}" for t in entry_texts]
    seen_syms: set[tuple] = set()
    seen_mods: set[str] = set()
    while frontier:
        mf, sym = frontier.pop()
        if (mf, sym) in seen_syms:
            continue
        seen_syms.add((mf, sym))
        info = info_of(mf)
        if info is None:
            return None
        if mf not in seen_mods:
            seen_mods.add(mf)
            # index-prefixed: loose statements are order-dependent
            pieces += [
                f"{mf}<pre:{i}>::{p}"
                for i, p in enumerate(info["preamble"])
            ]
        if sym in info["defs"]:
            pieces.append(f"{mf}::{sym}::{_sym_seg(info, sym)}")
            r = _sym_refs(info, sym)
            if r is None:
                return None
            local, ext = r
            frontier += [(mf, n) for n in local]
            frontier += list(ext)
        elif sym in info["sym_imports"]:
            mod, orig = info["sym_imports"][sym]
            f = _mod_path(mod)
            if f is not None:
                frontier.append((f, orig))
            # re-export of an external symbol — nothing to track
        elif sym in info["mod_aliases"]:
            return None  # expected a symbol, found a module binding
        else:
            return None  # unresolvable symbol in a repo module
    # entry-frontier spreads may have consulted modules beyond seen_mods
    reached = seen_mods | set(infos)
    return "\n<<fp>>\n".join(sorted(pieces)), reached


def _stale_greens_or_none(
    full: dict[str, Callable], green: dict[str, str]
) -> set[str] | None:
    """Green queries whose implementation changed since the commit that
    recorded their latest green row — their proof is stale and they must
    re-enter the check window. Derived from git (the driver commits each
    CORRECTNESS_r*.json). Returns None when git itself fails, so callers
    can tell "nothing is stale" from "staleness is unknowable" — the
    prune step must NOT run on the latter."""
    import os
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))

    def _git(*args: str) -> str:
        return subprocess.run(
            ["git", *args], cwd=here, capture_output=True, text=True,
            timeout=30, check=True,
        ).stdout

    try:
        # ADVICE r9: `git diff --name-only <commit>` omits UNTRACKED files,
        # so a query whose behavior depends on a brand-new uncommitted
        # module would pass the (reached|files) & changed gate untouched
        # and stay pruned on a stale green. Untracked repo files are
        # changed-since-every-commit by definition; _src_at() fails on
        # them (git show has nothing), which degrades the fingerprint
        # proof to "stale" — the conservative direction.
        untracked = {
            c.strip()
            for c in _git(
                "ls-files", "--others", "--exclude-standard"
            ).splitlines()
            if c.strip()
        }
        changed_since: dict[str, set[str]] = {}
        commit_of: dict[str, str] = {}
        for round_file in set(green.values()):
            # the commit that ADDED the round file is the recording commit;
            # anchoring on the newest touch instead would let any later
            # cleanup commit touching the file shrink the staleness window
            commit = _git(
                "log", "--diff-filter=A", "-n1", "--format=%H",
                "--", round_file,
            ).strip()
            if not commit:
                # round file itself untracked -> assume fresh
                changed_since[round_file] = set(untracked)
                continue
            commit_of[round_file] = commit
            # diff vs working tree so uncommitted edits also count as stale
            changed = set(
                _git("diff", "--name-only", commit).splitlines()
            )
            changed_since[round_file] = {
                c.strip() for c in changed if c.strip()
            } | untracked
    except Exception:
        return None

    # closure-level refinement (round 9): file-level hits are attributed
    # down to the query's transitive symbol closure — a 3000-line module's
    # unrelated edits must not flood the 50-slot check window with stale
    # greens. Any doubt (fingerprint None, git show failure, unsound
    # reference shape) stays stale — correctness beats window hygiene.
    old_src_cache: dict[tuple[str, str], str | None] = {}
    new_src_cache: dict[str, str | None] = {}

    def _src_now(path: str) -> str | None:
        if path not in new_src_cache:
            try:
                with open(os.path.join(here, path)) as fh:
                    new_src_cache[path] = fh.read()
            except Exception:
                # OSError, UnicodeDecodeError, ... — an unreadable module
                # degrades to "cannot prove" (None), never a crash: this
                # runs inside queries(), the driver contract entry point
                new_src_cache[path] = None
        return new_src_cache[path]

    def _src_at(commit: str, path: str) -> str | None:
        key = (commit, path)
        if key not in old_src_cache:
            try:
                old_src_cache[key] = _git("show", f"{commit}:{path}")
            except Exception:
                old_src_cache[key] = None
        return old_src_cache[key]

    stale: set[str] = set()
    for name, round_file in green.items():
        if name not in full:
            continue
        changed = changed_since.get(round_file, set())
        fn = full[name]
        while hasattr(fn, "__wrapped__"):
            fn = fn.__wrapped__
        files = _query_source_files(full[name])
        commit = commit_of.get(round_file)
        try:
            mod_file = _defining_module_file(fn)
            if mod_file is None or commit is None:
                # attribution impossible — fall back to the one-hop gate
                if files & changed:
                    stale.add(name)
                continue
            res_new = _query_fingerprint(
                mod_file, fn.__name__, name, _src_now
            )
            if res_new is None:
                # unsound shape — one-hop file gate decides (pre-round-9
                # behavior; no worse than before)
                if files & changed:
                    stale.add(name)
                continue
            fp_new, reached = res_new
            # the TRIGGER is the union of the transitive closure reach and
            # the one-hop import set (review r9 finding #1: the one-hop
            # set alone misses operators reached through __init__
            # re-exports, and a pruned query with a missed stale would
            # never re-enter the driver window)
            if not ((reached | files) & changed):
                continue  # nothing this query depends on changed

            def _src_old(path, _c=commit, _ch=changed):
                return _src_at(_c, path) if path in _ch else _src_now(path)

            res_old = _query_fingerprint(
                mod_file, fn.__name__, name, _src_old
            )
            if res_old is not None and res_old[0] == fp_new:
                continue  # proven unaffected by the flagged edits
        except Exception:
            pass  # any surprise degrades to stale, never a crash
        stale.add(name)
    return stale


def _stale_greens(
    full: dict[str, Callable], green: dict[str, str]
) -> set[str]:
    """Best-effort set view of :func:`_stale_greens_or_none` — empty on
    any git failure so queries() can never crash over it."""
    return _stale_greens_or_none(full, green) or set()


# Driver-facing size cap (round 9, VERDICT r8 #3): at ~195 declared queries
# and a 50-slot driver check window, one round that edits a widely-imported
# module creates more stale greens than slots and re-grades queue a full
# round behind the backlog. Ever-green queries that are (a) unchanged per
# _stale_greens and (b) whose latest green is >= 2 rounds old (so at least
# two committed full-contract sf0.1 sweeps have re-proven them bit-exact
# since) are PRUNED from the driver-facing dict, oldest green first, until
# it fits _DRIVER_DICT_CAP. The pruned queries remain fully declared:
# full_queries()/oracle_sql() still carry them, the per-round sf0.1 sweep
# (tools/sweep_sf01.sh -> test_latest_sweep_covers_current_contract) still
# grades every one of them bit-exact, and any code change flips them stale,
# which puts them straight back into the driver window. A mass-stale round
# (an edit to a widely-imported module) can legitimately exceed the cap —
# stale entries are never pruned, correctness beats the cap — and shrinks
# back as the re-grades land over the following rounds.
_DRIVER_DICT_CAP = 120

# The driver cross-checks this many entries from the head of queries()
# each round; window composition (fronting, the unified age-ordered tail,
# prune protection) is budgeted against it.
_DRIVER_WINDOW_SLOTS = 50


def full_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The COMPLETE declared contract — every implemented query, including
    the ever-green ones pruned from the driver-facing :func:`queries`
    window. This is what the sf0.1 sweep, the pytest oracle gate, and
    bench enumerate."""
    return {
        n: _with_scratch_release(f) for n, f in _queries_unordered().items()
    }


def _round_no(fname: str) -> int:
    import re

    m = re.search(r"CORRECTNESS_r(\d+)", fname)
    return int(m.group(1)) if m else -1


# Forced rotation quota (round 10, VERDICT r9 #3): the K oldest-driver-green
# fresh queries are promoted into the driver window each round REGARDLESS of
# staleness, and are exempt from pruning. 150+ queries rely on the
# fingerprint closure to re-enter the window; a closure blind spot would
# otherwise keep a changed query driver-unverified indefinitely — the sf0.1
# sweep covers it locally, but the DRIVER oracle is the hard signal.
# K SCALES WITH THE CONTRACT (round 11, VERDICT r10 #6): the original fixed
# K=10 was computed at 75 pruned queries and would silently degrade as the
# contract grows — max(10, ceil(fresh/8)) bounds every query's grade age at
# ceil(fresh/K)+1 <= 9 rounds while the picks still FIT the 50-slot driver
# window. That window is the binding constraint (review r11): picks beyond
# it are never graded, so K is CAPPED at the slot budget the window can
# realistically give rotation (50 minus the ~13 fronted queries minus
# headroom for never-checked/stale re-grades, which rightfully outrank
# rotation). Consequence, stated honestly: the <= 9-round bound holds up to
# fresh = 8 x 30 = 240 fresh greens (the current contract is ~200); past
# that the bound grows as ceil(fresh/30)+1 — the window size, not this
# quota, is then what must scale. Pinned (including the window truncation)
# by the rotation-simulation test in tests/test_entry_contract.py.
_ROTATE_K_FLOOR = 10
_ROTATE_AGE_ROUNDS = 8
_ROTATE_WINDOW_BUDGET = 30


def _rotate_k(n_fresh: int) -> int:
    import math

    return min(
        max(_ROTATE_K_FLOOR, math.ceil(n_fresh / _ROTATE_AGE_ROUNDS)),
        _ROTATE_WINDOW_BUDGET,
    )


def _rotation_picks(
    full: dict[str, Callable], green: dict[str, str], stale: set[str]
) -> list[str]:
    """The K oldest-green fresh queries, round-robin by green age: as each
    pick re-grades, its green round advances and the next-oldest rotate in
    on the following round. Deterministic (age, then name)."""
    fresh = [
        n for n in green
        if n in full and n not in stale and n not in set(_CHECK_FIRST)
    ]
    fresh.sort(key=lambda n: (_round_no(green[n]), n))
    return fresh[:_rotate_k(len(fresh))]


def _prunable(
    full: dict[str, Callable],
    green: dict[str, str],
    stale: set[str] | None,
    keep: set[str] = frozenset(),
) -> list[str]:
    """Names eligible for pruning, oldest green first (deterministic):
    fresh-green (not stale), latest green recorded >= 2 rounds before the
    newest round file on disk, not manually fronted, and not in ``keep``
    (the forced-rotation picks). Returns [] when staleness is unknowable
    (git failure) — pruning without staleness information could hide a
    changed query from the driver.

    NEWEST green first (round 13): the unified age-ordered tail makes the
    driver window itself the oldest-first grading queue, so the prune must
    drop from the OTHER end — the youngest proofs need a driver slot
    least. (Pre-round-13 this sorted oldest-first, which was aligned with
    the rotation-quota design but would now silently evict the very
    cohort whose grade age the window exists to bound.)"""
    if stale is None or not green:
        return []

    latest = max(_round_no(f) for f in green.values())
    keep_front = set(_CHECK_FIRST) | set(keep)
    eligible = [
        n
        for n in green
        if n in full
        and n not in stale
        and n not in keep_front
        and _round_no(green[n]) <= latest - 2
    ]
    return sorted(eligible, key=lambda n: (-_round_no(green[n]), n))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    full = _queries_unordered()
    green = _greens_on_disk()
    front = [n for n in _CHECK_FIRST if n in full]
    rest = [n for n in full if n not in front]
    stale_opt = _stale_greens_or_none(full, green)
    stale = stale_opt or set()
    last = set(_CHECK_LAST)
    # rotation quota retained as the prune exemption + the steady-state
    # model the rotation-simulation test pins (VERDICT r9 #3: no query's
    # driver verification may depend SOLELY on the fingerprint closure)
    rotate = _rotation_picks(full, green, stale)
    rot = set(rotate)
    # UNIFIED age-ordered tail (round 13, completing the round-12 move):
    # r12 made the stale segment order oldest-green-first because "age
    # urgency decides who grades" on a mass-stale round; round 13 applies
    # that rule to the WHOLE green tail. Staleness no longer jumps the
    # queue: a round that touches shared oracle helpers flips dozens of
    # fingerprints whose queries were driver-proven one round ago, and
    # letting those crowd out an age-9 cohort inverts the actual risk
    # order — every green query (stale or not) is re-proven bit-exact by
    # the per-round full-contract sf0.1 sweep, so the DRIVER slot goes to
    # whoever's driver proof is oldest. A stale query whose SEMANTICS
    # changed this round is exactly what _CHECK_FIRST pins (this round:
    # the PQ family, whose sampled fit changed its declared results).
    # Consequence: every green query re-grades within
    # ceil(greens / (50 - front - new)) rounds — tighter than the old
    # rotation bound whenever fronting is moderate, and immune to
    # stale-flood starvation in both directions.
    tail = sorted(
        (n for n in rest if n in green),
        key=lambda n: (_round_no(green[n]), n),
    )
    ordered_names = (
        front
        # never green -> into the window, oldest-declared before this
        # round's additions (_CHECK_LAST)
        + [n for n in rest if n not in green and n not in last]
        + [n for n in rest if n not in green and n in last]
        + tail  # ALL greens, oldest driver proof first
    )
    # prune ever-green unchanged queries (NEWEST green first, round 13)
    # down to the driver-facing cap; the sf0.1 sweep still grades the full
    # contract. The first 50 names ARE the grading queue the unified tail
    # just prioritized — pruning may only thin the dict BEYOND the
    # driver's check window, never evict a query holding a window slot
    # (the pre-round-13 prune could silently drop the age-bound cohort
    # whenever the eligible pool was smaller than the overflow).
    overflow = len(ordered_names) - _DRIVER_DICT_CAP
    if overflow > 0:
        windowed = set(ordered_names[:_DRIVER_WINDOW_SLOTS])
        drop = set(
            [
                n
                for n in _prunable(full, green, stale_opt, keep=rot)
                if n not in windowed
            ][:overflow]
        )
        ordered_names = [n for n in ordered_names if n not in drop]
        # ADVICE r13: when the eligible non-windowed prunables are fewer
        # than the overflow, the dict exceeds the documented cap — that
        # must be VISIBLE, not silent, so a cap breach is a deliberate
        # contract change instead of an accident of pool arithmetic
        if len(ordered_names) > _DRIVER_DICT_CAP:
            import sys

            print(
                f"[__spark_entry__] WARNING: queries() returns "
                f"{len(ordered_names)} entries > _DRIVER_DICT_CAP="
                f"{_DRIVER_DICT_CAP} — prunable pool ({len(drop)} dropped)"
                " could not absorb the overflow; grow the pool or raise "
                "the cap deliberately",
                file=sys.stderr,
            )
    return {n: _with_scratch_release(full[n]) for n in ordered_names}


def _with_scratch_release(fn):
    """Unpersist the PREVIOUS query's scratch frames when the next query
    starts: operators persist intermediates their caller still needs at
    collect time, so the only safe release point in the driver's
    run-150-queries-in-one-JVM session is the start of the next call
    (session.release_scratch — by then the prior result has been drained,
    the current query hasn't cached anything yet)."""
    import functools

    from checkatron_spark.session import release_scratch

    @functools.wraps(fn)
    def _wrapped(spark, sf_dir):
        release_scratch()
        return fn(spark, sf_dir)

    return _wrapped


def _queries_unordered() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "diff_orders": _q_diff_orders,
        "diff_orders_faithful": _q_diff_orders_faithful,
        "diff_orders_sqlmacro": _q_diff_orders_sqlmacro,
        "diff_orders_summary": _q_diff_orders_summary,
        "diff_orders_drilldown": _q_diff_orders_drilldown,
        "diff_orders_decode": _q_diff_orders_decode,
        "diff_lineitem_multikey": _q_diff_lineitem_multikey,
        "diff_orders_incremental": _q_diff_orders_incremental,
        "diff_nullkey_presence_fix": W.diff_nullkey_presence_fix,
        "diff_orders_tolerance": W.diff_orders_tolerance,
        "diff_orders_ts_trunc": W.diff_orders_ts_trunc,
        "scd2_orders_delta": W.scd2_orders_delta,
        "diff3_orders": W.diff3_orders,
        "table_checksum_orders": W.table_checksum_orders,
        "drift_orders": W.drift_orders,
        "delta_compact_orders": W.delta_compact_orders,
        "apply_delta_roundtrip": W.apply_delta_roundtrip,
        "delta_compose_roundtrip": W.delta_compose_roundtrip,
        "cdc_log_compact_roundtrip": W.cdc_log_compact_roundtrip,
        "map_diff_orders": W.map_diff_orders,
        "ivm_orders_totals": W.ivm_orders_totals,
        "ivm_orders_minmax": W.ivm_orders_minmax,
        "ivm_join_enriched": W.ivm_join_enriched,
        "zorder_bucket_audit": W.zorder_bucket_audit,
        "keys_union": _q_keys_union,
        "labeled_counts": _q_labeled_counts,
        "orders_filtered": _q_orders_filtered,
        "dupkey_guard": _q_dupkey_guard,
        "salted_hot_key_agg": _q_salted_agg,
        "salted_hot_key_join": _q_salted_join,
        **P.QUERIES,
        **A.QUERIES,
        **T.QUERIES,
        **T2.QUERIES,
        **SA.QUERIES,
        **M.QUERIES,
        **ST.QUERIES,
        **C.QUERIES,
        **EX.QUERIES,
        **SEL.QUERIES,
    }


def _decode_oracle() -> str:
    rs = '"_row_status"'
    st = '"O_ORDERSTATUS"'
    return (
        f"WITH diff_result AS (\n{W.diff_orders_oracle_sql()}\n)\n"
        f"SELECT\n"
        f"  CASE WHEN {rs} = 4 THEN 'MISSING_IN_BEFORE'"
        f" WHEN {rs} = 5 THEN 'MISSING_IN_AFTER'"
        f" ELSE 'PRESENT_BOTH' END AS \"row_label\",\n"
        f"  CASE WHEN {st} = 0 THEN 'MATCH' WHEN {st} = 1 THEN 'DIFFERENT'"
        f" WHEN {st} = 2 THEN 'NULL_IN_BEFORE' WHEN {st} = 3 THEN 'NULL_IN_AFTER'"
        f" ELSE 'UNKNOWN' END AS \"status_label\",\n"
        f"  COUNT(*) AS \"n\"\n"
        f"FROM diff_result GROUP BY 1, 2"
    )


def tolerances() -> dict[str, dict]:
    """DECLARED approximate-regime contracts (round 13, VERDICT r12 #7):
    the only two queries whose values are sketch ESTIMATES rather than
    exact computations, with their documented error bands. The sweep
    (tools/selfcheck.py) consults this automatically: group keys and every
    non-estimate column must still match the oracle bit-exact, and each
    estimate column must sit inside its band of the oracle's exact value —
    graded OK (within declared band), never a blanket allow. Bands are 3x
    the documented HLL relative standard deviation
    (rsd = 1.04/sqrt(2^lgConfigK)): approx_distincts pins lgConfigK=14
    (rsd 0.81%), sketch_users_daily uses the Spark default 12 (rsd 1.63%);
    approx_median (percentile_approx, accuracy 10000) gets a 1% band.
    At the driver's sf0.01 both queries sit in the HLL set/coupon regime
    where the estimate IS exact, so the driver's bit-hash grade still
    applies there; the band is the honest contract at every larger SF.
    The in-band property itself is pinned in tests/test_approx.py."""
    return {
        "approx_distincts": {
            "keys": ["o_orderpriority"],
            "bands": {"approx_customers": 0.025, "approx_median": 0.01},
        },
        "sketch_users_daily": {
            "keys": ["day"],
            "bands": {"est_users": 0.05},
        },
    }


def _drilldown_oracle() -> str:
    return (
        f"WITH diff_result AS (\n{W.diff_orders_oracle_sql()}\n)\n"
        'SELECT * FROM diff_result WHERE "_row_status" > 0'
    )


def _summary_oracle() -> str:
    return render_summary_sql(
        W.diff_orders_oracle_sql(), [c.upper() for c in W.AFTER_COLS]
    )


def oracle_sql() -> dict[str, str]:
    # SINGLE-RETURN DICT LITERAL, deliberately (round 13): the staleness
    # fingerprint attributes per-key value expressions only when the
    # mapping function's body is one return of a dict literal
    # (_entry_frontier) — a local variable here made the WHOLE function
    # (and through the **module.oracles() spreads, every oracle helper in
    # the repo) join every entry-defined query's closure, so ANY round's
    # oracle edit flipped ~25 unrelated diff-family queries stale and
    # burned driver-window slots on spurious re-grades.
    return {
        "diff_orders": W.diff_orders_oracle_sql(),
        "diff_orders_faithful": W.diff_orders_oracle_sql(),
        "diff_orders_sqlmacro": W.diff_orders_oracle_sql(),
        "diff_orders_summary": _summary_oracle(),
        "diff_orders_drilldown": _drilldown_oracle(),
        "diff_orders_decode": _decode_oracle(),
        "diff_lineitem_multikey": W.diff_lineitem_oracle_sql(),
        "diff_orders_incremental": W.diff_orders_incremental_oracle_sql(),
        "diff_nullkey_presence_fix": W.diff_nullkey_presence_fix_oracle_sql(),
        "diff_orders_tolerance": W.diff_orders_tolerance_oracle_sql(),
        "diff_orders_ts_trunc": W.diff_orders_ts_trunc_oracle_sql(),
        "scd2_orders_delta": W.scd2_orders_delta_oracle_sql(),
        "diff3_orders": W.diff3_orders_oracle_sql(),
        "table_checksum_orders": W.table_checksum_orders_oracle_sql(),
        "drift_orders": W.drift_orders_oracle_sql(),
        "delta_compact_orders": W.delta_compact_orders_oracle_sql(),
        "apply_delta_roundtrip": W.apply_delta_roundtrip_oracle_sql(),
        "delta_compose_roundtrip": W.apply_delta_roundtrip_oracle_sql(),
        "cdc_log_compact_roundtrip": W.apply_delta_roundtrip_oracle_sql(),
        "map_diff_orders": W.map_diff_orders_oracle_sql(),
        "ivm_orders_totals": W.ivm_orders_totals_oracle_sql(),
        "ivm_orders_minmax": W.ivm_orders_minmax_oracle_sql(),
        "ivm_join_enriched": W.ivm_join_enriched_oracle_sql(),
        "zorder_bucket_audit": W.zorder_bucket_audit_oracle_sql(),
        "keys_union": (
            f"SELECT o_orderkey FROM {W.BEFORE_SRC_SQL} "
            f"UNION SELECT o_orderkey FROM {W.AFTER_SRC_SQL}"
        ),
        "labeled_counts": (
            f"SELECT 'BEFORE' AS source, COUNT(*) AS row_count FROM {W.BEFORE_SRC_SQL} "
            f"UNION ALL "
            f"SELECT 'AFTER' AS source, COUNT(*) AS row_count FROM {W.AFTER_SRC_SQL}"
        ),
        "orders_filtered": (
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            "WHERE o_totalprice > 100000 AND o_orderstatus = 'O' "
            "ORDER BY o_orderkey"
        ),
        "dupkey_guard": (
            "SELECT l_orderkey, COUNT(*) AS n_rows FROM lineitem "
            "GROUP BY l_orderkey HAVING COUNT(*) > 1"
        ),
        "salted_hot_key_agg": (
            "SELECT l_returnflag, COUNT(*) AS n_items, "
            "CAST(SUM(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) "
            "AS DOUBLE) / 100.0 AS sum_price "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "salted_hot_key_join": (
            "SELECT o_orderpriority, COUNT(*) AS n_items, "
            "CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 "
            "+ 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "GROUP BY o_orderpriority"
        ),
        **P.oracles(),
        **A.oracles(),
        **T.oracles(),
        **T2.oracles(),
        **SA.oracles(),
        **M.oracles(),
        **ST.oracles(),
        **C.oracles(),
        **EX.oracles(),
        **SEL.oracles(),
    }
