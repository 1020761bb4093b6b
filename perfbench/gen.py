"""Seeded input generator with planted answers.

Every input the benchmark feeds the engine is written here from the
workload seed; nothing comes from a fixture directory. Each generator
returns ``(files, answer)``: ``files`` maps a logical name to a path under
``out_dir`` and ``answer`` holds what the engine must return for each op,
computed independently of the engine (numpy and plain Python).

Pure numpy/pyarrow — no Spark — so the same seed gives byte-identical
files, which ``test_perfbench.py`` pins.
"""

from __future__ import annotations

import csv
import hashlib
import os
from datetime import date, datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# status codes of the diff contract: 0 match, 1 differ, 2 NULL in before
# only, 3 NULL in after only; row status 4 missing in before, 5 in after
HIST_BITS = 20  # one packed counter per column: 20 bits per status 1..3

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _rng(seed: int, tag: str) -> np.random.Generator:
    return np.random.default_rng([seed, int(hashlib.md5(tag.encode()).hexdigest()[:8], 16)])


def _write(table: pa.Table, path: str) -> str:
    # fixed writer settings: byte-identical output for identical tables
    pq.write_table(table, path, compression="snappy", store_schema=False,
                   write_statistics=True)
    return path


# ---------------------------------------------------------------------------
# Column model: a column is (values ndarray, null mask ndarray[bool], type).
# ---------------------------------------------------------------------------

def _status(b_val, b_null, a_val, a_null):
    """Per-cell diff status over aligned before/after cells."""
    eq = np.zeros(len(b_val), dtype=bool)
    both = ~b_null & ~a_null
    eq[both] = b_val[both] == a_val[both]
    return np.where(
        b_null, np.where(a_null, 0, 2),
        np.where(a_null, 3, np.where(eq, 0, 1)),
    )


def _hist(statuses: np.ndarray) -> list[int]:
    return [int((statuses == s).sum()) for s in (1, 2, 3)]


class _Table:
    """Column-major table: name -> (values, nulls, arrow type)."""

    def __init__(self):
        self.cols: dict[str, list] = {}

    def add(self, name, values, typ, nulls=None):
        if nulls is None:
            nulls = np.zeros(len(values), dtype=bool)
        self.cols[name] = [values, nulls, typ]

    def take(self, idx) -> "_Table":
        t = _Table()
        for n, (v, m, typ) in self.cols.items():
            t.add(n, v[idx], typ, m[idx].copy())
        return t

    def concat(self, other: "_Table") -> "_Table":
        t = _Table()
        for n, (v, m, typ) in self.cols.items():
            ov, om, _ = other.cols[n]
            t.add(n, np.concatenate([v, ov]), typ, np.concatenate([m, om]))
        return t

    def nrows(self) -> int:
        return len(next(iter(self.cols.values()))[0])

    def arrow(self) -> pa.Table:
        return pa.table({n: pa.array(v, type=t, mask=m) for n, (v, m, t) in self.cols.items()})


def _pick(rng, pool, n):
    return np.asarray(pool, dtype=object)[rng.integers(0, len(pool), n)]


def _ts(days: np.ndarray) -> np.ndarray:
    """Day offsets -> microsecond timestamps (parquet timestamp[us, UTC])."""
    base = int((datetime(1992, 1, 1, tzinfo=timezone.utc) - _EPOCH).total_seconds())
    return (base + days.astype(np.int64) * 86400) * 1_000_000


def lineitem_table(rng, n_orders: int) -> _Table:
    """TPC-H ``lineitem`` shape (the columns of the engine's sf fixtures)."""
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64) * 4, lines)
    lno = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n = len(okey)
    t = _Table()
    t.add("l_orderkey", okey, pa.int64())
    t.add("l_partkey", rng.integers(1, 20000, n).astype(np.int64), pa.int64())
    t.add("l_suppkey", rng.integers(1, 1000, n).astype(np.int64), pa.int64())
    t.add("l_linenumber", lno, pa.int32())
    qty = rng.integers(1, 51, n).astype(np.float64)
    t.add("l_quantity", qty, pa.float64())
    t.add("l_extendedprice", np.round(qty * rng.integers(900, 2000, n), 2), pa.float64())
    t.add("l_discount", rng.integers(0, 11, n) / 100.0, pa.float64())
    t.add("l_tax", rng.integers(0, 9, n) / 100.0, pa.float64())
    t.add("l_returnflag", _pick(rng, ["A", "N", "R"], n), pa.string())
    t.add("l_linestatus", _pick(rng, ["F", "O"], n), pa.string())
    t.add("l_shipdate", _ts(rng.integers(0, 2500, n)), pa.timestamp("us", tz="UTC"))
    return t


def orders_table(rng, n: int) -> _Table:
    """TPC-H ``orders`` shape."""
    t = _Table()
    t.add("o_orderkey", np.arange(1, n + 1, dtype=np.int64) * 4, pa.int64())
    t.add("o_custkey", rng.integers(1, 15000, n).astype(np.int64), pa.int64())
    t.add("o_orderstatus", _pick(rng, ["F", "O", "P"], n), pa.string())
    t.add("o_totalprice", rng.integers(100000, 50000000, n) / 100.0, pa.float64())
    t.add("o_orderdate", _ts(rng.integers(0, 2400, n)), pa.timestamp("us", tz="UTC"))
    t.add("o_orderpriority",
          _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
          pa.string())
    return t


def _new_value(v, typ):
    """A value guaranteed to differ from ``v`` and of the same type."""
    if pa.types.is_string(typ):
        return v + "~"
    if pa.types.is_floating(typ):
        return v + 1.25
    return v + 1


def make_pair(rng, base: _Table, fresh: _Table, keys: list[str], *,
              upd: float, ins: float, dele: float, nulls: float,
              null_keys: int = 0, drift: dict | None = None):
    """Build (before, after) from ``base`` plus ``fresh`` insert rows and
    return the planted answer: the diff summary, drill-down count/key sum,
    and each column's packed status histogram.

    ``drift`` (wide schemas): {"dropped": [...], "added": {name: (vals,
    nulls, type)}, "retyped": {name: after_type}}."""
    n = base.nrows()
    before = base
    values = [c for c in before.cols if c not in keys]
    # plant NULL values (and NULL second-key values) in the before side
    for c in values:
        m = rng.random(n) < nulls
        before.cols[c][1] |= m
    if null_keys and len(keys) > 1:
        # at most one NULL per first-key value, so (k0, NULL) stays unique
        first = np.flatnonzero(np.r_[True, np.diff(before.cols[keys[0]][0]) != 0])
        idx = rng.choice(first, null_keys, replace=False)
        before.cols[keys[1]][1][idx] = True
    perm = rng.permutation(n)
    n_del, n_upd = int(n * dele), int(n * upd)
    del_idx = np.sort(perm[:n_del])
    keep = np.sort(perm[n_del:])
    upd_idx = perm[n_del:n_del + n_upd]
    after_keep = before.take(keep)
    # updates: one or two cells each, mixing value->value, value->NULL,
    # NULL->value
    pos = {int(r): i for i, r in enumerate(keep)}
    for r in upd_idx:
        i = pos[int(r)]
        for c in rng.choice(values, 1 + int(rng.random() < 0.3), replace=False):
            v, m, typ = after_keep.cols[c]
            kind = rng.random()
            if m[i]:
                m[i] = False  # NULL -> value (status 2)
            elif kind < 0.15:
                m[i] = True  # value -> NULL (status 3)
            else:
                v[i] = _new_value(v[i], typ)
    n_ins = min(int(n * ins), fresh.nrows())
    after = after_keep.concat(fresh.take(np.arange(n_ins)))
    if drift:
        for c in drift["dropped"]:
            del after.cols[c]
        for c, typ in drift["retyped"].items():
            v, m, _ = after.cols[c]
            after.cols[c] = [v.astype(np.int64), m, typ]
        for c, (v, m, typ) in drift["added"].items():
            after.add(c, v[: after.nrows()], typ, m[: after.nrows()].copy())

    # planted answer, computed over the key-aligned sides: rows of `keep`
    # are present in both (in the same order), deleted rows only before,
    # inserted rows only after
    cols_b = list(before.cols)
    all_cols = cols_b + [c for c in after.cols if c not in before.cols]
    n_both = len(keep)
    hist, changed = {}, np.zeros(n_both, dtype=bool)
    drift_cols = set(drift["dropped"]) | set(drift["added"]) if drift else set()
    for c in all_cols:
        if c in before.cols:
            bv, bm, _ = before.cols[c]
            b_both, bm_both, bm_del = bv[keep], bm[keep], bm[del_idx]
        else:
            b_both, bm_both = None, np.ones(n_both, dtype=bool)
            bm_del = np.ones(n_del, dtype=bool)
        if c in after.cols:
            av, am, _ = after.cols[c]
            a_both, am_both, am_ins = av[:n_both], am[:n_both], am[n_both:]
        else:
            a_both, am_both = None, np.ones(n_both, dtype=bool)
            am_ins = np.ones(n_ins, dtype=bool)
        st_both = _status(
            b_both if b_both is not None else np.zeros(n_both),
            bm_both,
            a_both if a_both is not None else np.zeros(n_both),
            am_both,
        )
        if c not in drift_cols:
            changed |= st_both > 0
        h = _hist(st_both)
        # deleted rows: after side absent -> 3 where before non-NULL
        h[2] += int((~bm_del).sum())
        # inserted rows: before side absent -> 2 where after non-NULL
        h[1] += int((~am_ins).sum())
        hist[c.upper()] = h
    k0 = keys[0]
    ins_keys = after.cols[k0][0][n_both:]
    del_keys = before.cols[k0][0][del_idx]
    answer = {
        "summary": [n_both + n_del + n_ins, n_both, n_ins, n_del, int(changed.sum())],
        "drill": [n_ins + n_del, int(ins_keys.sum() + del_keys.sum())],
        "hist": hist,
        "drift_cols": sorted(c.upper() for c in drift_cols),
    }
    return before, after, answer


# ---------------------------------------------------------------------------
# diff_tpch
# ---------------------------------------------------------------------------

TPCH_CHURN = {
    "low": dict(upd=0.01, ins=0.005, dele=0.005, nulls=0.01),
    "high": dict(upd=0.20, ins=0.05, dele=0.05, nulls=0.01),
}


def gen_diff_tpch(seed: int, out_dir: str, *, n_orders: int) -> tuple[dict, dict]:
    """A high-churn orders pair and a low-churn lineitem pair (2 keys,
    NULLs planted in the second key)."""
    files, answer = {}, {}
    for table, churn in (("orders", "high"), ("lineitem", "low")):
        rng = _rng(seed, f"tpch/{table}/{churn}")
        if table == "lineitem":
            base, fresh = lineitem_table(rng, n_orders), lineitem_table(rng, n_orders // 10)
            keys, null_keys = ["l_orderkey", "l_linenumber"], base.nrows() // 500
        else:
            base, fresh = orders_table(rng, n_orders), orders_table(rng, n_orders // 10)
            keys, null_keys = ["o_orderkey"], 0
        fresh.cols[keys[0]][0] += int(base.cols[keys[0]][0].max())  # new keys
        before, after, ans = make_pair(rng, base, fresh, keys, null_keys=null_keys,
                                       **TPCH_CHURN[churn])
        name = f"{table}_{churn}"
        files[f"{name}_before"] = _write(before.arrow(), os.path.join(out_dir, f"{name}_before.parquet"))
        files[f"{name}_after"] = _write(after.arrow(), os.path.join(out_dir, f"{name}_after.parquet"))
        ans["keys"] = keys
        ans["rows"] = before.nrows() + after.nrows()
        answer[name] = ans
    return files, answer


# ---------------------------------------------------------------------------
# diff_wide: DESCRIBE-CSV schemas with drift
# ---------------------------------------------------------------------------

# (DESCRIBE type, arrow type) — parquet types match schema_csv's mapping
_WIDE_TYPES = [
    ("NUMBER(18,2)", pa.decimal128(18, 2)),
    ("VARCHAR", pa.string()),
    ("FLOAT", pa.float64()),
    ("INTEGER", pa.int64()),
    ("DATE", pa.date32()),
]
_DESCRIBE_HEADER = [
    "name", "type", "kind", "null?", "default", "primary key",
    "unique key", "check", "expression", "comment", "policy name",
    "privacy domain",
]


def _wide_column(rng, typ, n):
    if pa.types.is_decimal(typ):
        from decimal import Decimal

        units = rng.integers(-10**6, 10**6, n)
        return np.array([Decimal(int(u)).scaleb(-typ.scale) for u in units], dtype=object)
    if pa.types.is_string(typ):
        return np.array([f"v{x}" for x in rng.integers(0, 10**6, n)], dtype=object)
    if pa.types.is_floating(typ):
        return rng.integers(-10**6, 10**6, n) / 8.0  # exact binary fractions
    if pa.types.is_date(typ):
        return np.array([date(2000, 1, 1).toordinal() - 719163 + int(d)
                         for d in rng.integers(0, 9000, n)], dtype=np.int32)
    return rng.integers(-10**9, 10**9, n).astype(np.int64)


def _describe_csv(path, rows):
    with open(path, "w", newline="") as fh:
        w = csv.DictWriter(fh, fieldnames=_DESCRIBE_HEADER, lineterminator="\n")
        w.writeheader()
        for name, typ, pk in rows:
            w.writerow({**{h: "" for h in _DESCRIBE_HEADER}, "name": name,
                        "type": typ, "kind": "COLUMN", "null?": "N" if pk else "Y",
                        "primary key": "Y" if pk else "N", "unique key": "N"})
    return path


def gen_diff_wide(seed: int, out_dir: str, *, widths: tuple[int, ...],
                  n_rows: int) -> tuple[dict, dict]:
    """One before/after pair per width: DESCRIBE CSVs (before, after, keys)
    and parquet data. After drops, adds and retypes columns."""
    files, answer = {}, {}
    for w in widths:
        rng = _rng(seed, f"wide/{w}")
        base, describe = _Table(), []
        base.add("ID", np.arange(1, n_rows + 1, dtype=np.int64) * 3, pa.int64())
        base.add("REGION", _pick(rng, ["EU", "US", "APAC"], n_rows), pa.string())
        describe += [("ID", "INTEGER", True), ("REGION", "VARCHAR", True)]
        for i in range(w - 2):
            dtype, typ = _WIDE_TYPES[i % len(_WIDE_TYPES)]
            if i % 50 == 7:
                dtype, typ = "NUMBER(18,0)", pa.decimal128(18, 0)  # retype target
            name = f"C{i:04d}"
            base.add(name, _wide_column(rng, typ, n_rows), typ)
            describe.append((name, dtype, False))
        fresh = _Table()
        n_fresh = max(n_rows // 20, 1)
        for c, (v, m, typ) in base.cols.items():
            fresh.add(c, base.cols[c][0][rng.integers(0, n_rows, n_fresh)], typ)
        fresh.cols["ID"][0] = np.arange(1, n_fresh + 1, dtype=np.int64) * 3 + int(n_rows * 3)
        value_cols = [c for c, _, _ in describe[2:]]
        dropped = [c for i, c in enumerate(value_cols) if i % 97 == 3]
        retyped = {c: pa.int64() for c in value_cols
                   if str(base.cols[c][2]) == "decimal128(18, 0)" and c not in dropped}
        added = {}
        for j in range(max(w // 100, 1)):
            v = _wide_column(rng, pa.string(), n_rows + n_fresh)
            added[f"NEW_{j:03d}"] = (v, rng.random(n_rows + n_fresh) < 0.1, pa.string())
        before, after, ans = make_pair(
            rng, base, fresh, ["ID", "REGION"], upd=0.05, ins=0.02, dele=0.02,
            nulls=0.02, drift={"dropped": dropped, "added": added, "retyped": retyped},
        )
        name = f"wide{w}"
        after_desc = [(c, t, pk) for c, t, pk in describe if c not in dropped]
        after_desc = [(c, "INTEGER" if c in retyped else t, pk) for c, t, pk in after_desc]
        after_desc += [(c, "VARCHAR", False) for c in added]
        files[f"{name}_before_csv"] = _describe_csv(os.path.join(out_dir, f"{name}_before.csv"), describe)
        files[f"{name}_after_csv"] = _describe_csv(os.path.join(out_dir, f"{name}_after.csv"), after_desc)
        files[f"{name}_keys_csv"] = _describe_csv(os.path.join(out_dir, f"{name}_keys.csv"), describe[:2])
        files[f"{name}_before"] = _write(before.arrow(), os.path.join(out_dir, f"{name}_before.parquet"))
        files[f"{name}_after"] = _write(after.arrow(), os.path.join(out_dir, f"{name}_after.parquet"))
        ans["keys"] = ["ID", "REGION"]
        ans["rows"] = before.nrows() + after.nrows()
        answer[name] = ans
    return files, answer


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------

ROLL_BASE, ROLL_MOD = 31, (1 << 31) - 1


def rolling_hash(text: str) -> int:
    """Reference fold for ``functions.text.rolling_hash``."""
    h = 0
    for ch in text:
        h = (h * ROLL_BASE + ord(ch)) % ROLL_MOD
    return h


def _shingles(text: str, n: int = 3) -> set[str]:
    words = text.split(" ")
    if len(words) < n:
        return {" ".join(words)}
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def _normalized(text: str) -> str:
    import re

    t = re.sub(r"[^a-z0-9 ]", "", text.lower())
    return re.sub(r" +", " ", t).strip(" ")


def gen_corpus(seed: int, out_dir: str, *, n_docs: int, n_vectors: int,
               n_queries: int, dims: int, topk: int) -> tuple[dict, dict]:
    """Documents with planted exact-dup and near-dup clusters, plus
    clustered embeddings and queries with brute-force top-k truth."""
    rng = _rng(seed, "corpus")
    vocab = [f"w{i}" for i in range(20000)]
    texts: list[str] = []
    n_base = n_docs * 3 // 4
    for _ in range(n_base):
        k = int(rng.integers(50, 90))
        texts.append(" ".join(_pick(rng, vocab, k)))
    # exact copies (identical text) and near copies (one word swapped)
    while len(texts) < n_docs:
        src = texts[int(rng.integers(0, n_base))]
        if rng.random() < 0.4:
            texts.append(src)
        else:
            words = src.split(" ")
            words[int(rng.integers(3, len(words) - 3))] = "zz" + str(rng.integers(0, 10**6))
            texts.append(" ".join(words))
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    ids = np.arange(1, n_docs + 1, dtype=np.int64) * 7

    # planted answers -------------------------------------------------------
    norm_groups: dict[str, list[int]] = {}
    for i, t in zip(ids, texts):
        norm_groups.setdefault(_normalized(t), []).append(int(i))
    exact = sorted([min(g), len(g)] for g in norm_groups.values() if len(g) > 1)
    # candidate pairs only share a word 3-gram; index shingles -> docs
    sh = [_shingles(t) for t in texts]
    by_sh: dict[str, list[int]] = {}
    for j, s in enumerate(sh):
        for g in s:
            by_sh.setdefault(g, []).append(j)
    cand = set()
    for js in by_sh.values():
        if 1 < len(js) < 50:
            cand.update((a, b) for x, a in enumerate(js) for b in js[x + 1:])
    pairs = {}
    for a, b in cand:
        jac = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        pairs[(int(ids[a]), int(ids[b])) if ids[a] < ids[b] else (int(ids[b]), int(ids[a]))] = jac
    pairs_07 = sorted([a, b] for (a, b), j in pairs.items() if j >= 0.7)
    # dedup_corpus: components of the J >= 0.8 graph keep their min id
    parent = {int(i): int(i) for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (a, b), j in pairs.items():
        if j >= 0.8:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    survivors = sorted({find(int(i)) for i in ids})

    # embeddings: gaussian clusters; queries jittered corpus points ---------
    centers = rng.normal(0, 1, (8, dims))
    lab = rng.integers(0, 8, n_vectors)
    vecs = centers[lab] + rng.normal(0, 0.35, (n_vectors, dims))
    qsrc = rng.integers(0, n_vectors, n_queries)
    qv = vecs[qsrc] + rng.normal(0, 0.05, (n_queries, dims))
    vecs, qv = np.round(vecs, 4), np.round(qv, 4)
    vid = np.arange(1, n_vectors + 1, dtype=np.int64)
    qid = np.arange(1, n_queries + 1, dtype=np.int64) + 10**6
    # brute-force truth on the engine's BIGINT grid (scale 10000)
    gx = np.floor(vecs * 10000 + 0.5).astype(np.int64)
    gq = np.floor(qv * 10000 + 0.5).astype(np.int64)
    truth = {}
    for i in range(n_queries):
        d = ((gx - gq[i]) ** 2).sum(axis=1)
        order_i = np.lexsort((vid, d))[:topk]
        truth[str(int(qid[i]))] = [int(v) for v in vid[order_i]]

    files = {
        "docs": _write(pa.table({"doc_id": ids, "text": pa.array(texts, pa.string())}),
                       os.path.join(out_dir, "docs.parquet")),
        "vectors": _write(pa.table({"vec_id": vid, "embedding": pa.array(list(vecs), pa.list_(pa.float64()))}),
                          os.path.join(out_dir, "vectors.parquet")),
        "queries": _write(pa.table({"vec_id": qid, "embedding": pa.array(list(qv), pa.list_(pa.float64()))}),
                          os.path.join(out_dir, "queries.parquet")),
    }
    answer = {
        "exact": exact,
        "exact_groups": len(norm_groups),
        "pairs_07": pairs_07,
        "survivors": survivors,
        "hash_sum": int(sum(rolling_hash(t) for t in texts)),
        "ann_truth": truth,
        "rows": n_docs + n_vectors + n_queries,
    }
    return files, answer


# ---------------------------------------------------------------------------
# delta_stream
# ---------------------------------------------------------------------------

STREAM_KEYS = ["o_orderkey"]
STREAM_VALUES = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
                 "o_orderpriority"]


def row_hash_sql() -> str:
    """Spark SQL for the order-independent snapshot hash (paired with
    :func:`snapshot_hash`)."""
    parts = ["CAST(o_orderkey AS STRING)", "CAST(o_custkey AS STRING)",
             "o_orderstatus", "CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING)",
             "CAST(unix_micros(o_orderdate) AS STRING)", "o_orderpriority"]
    body = ", ".join(f"coalesce({p}, '~')" for p in parts)
    return f"CAST(conv(substr(md5(concat_ws('|', {body})), 1, 8), 16, 10) AS BIGINT)"


def snapshot_hash(t: _Table) -> list[int]:
    """(row count, sum of per-row md5 prefixes) of an orders snapshot."""
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]
    n = t.nrows()
    total = 0
    for i in range(n):
        parts = []
        for c in cols:
            v, m, _ = t.cols[c]
            if m[i]:
                parts.append("~")
            elif c == "o_totalprice":
                parts.append(str(int(round(v[i] * 100))))
            else:
                parts.append(str(v[i]))
        total += int(hashlib.md5("|".join(parts).encode()).hexdigest()[:8], 16)
    return [n, total]


def gen_delta_stream(seed: int, out_dir: str, *, n_rows: int,
                     n_files: int) -> tuple[dict, dict]:
    """Orders snapshot, its churned successor, and the compact changefeed
    between them split into ``n_files`` parquet files (one key per feed)."""
    rng = _rng(seed, "stream")
    base = orders_table(rng, n_rows)
    fresh = orders_table(rng, n_rows // 10)
    fresh.cols["o_orderkey"][0] += int(base.cols["o_orderkey"][0].max())
    before, after, ans = make_pair(rng, base, fresh, STREAM_KEYS,
                                   upd=0.05, ins=0.02, dele=0.02, nulls=0.01)
    # the compact delta: I/U carry the after-image, D the before-image
    bk = {int(k): i for i, k in enumerate(before.cols["o_orderkey"][0])}
    ak = {int(k): i for i, k in enumerate(after.cols["o_orderkey"][0])}
    ops, src_rows = [], []
    for k, i in ak.items():
        if k not in bk:
            ops.append("I"), src_rows.append(("a", i))
        else:
            j = bk[k]
            if any(
                before.cols[c][1][j] != after.cols[c][1][i]
                or (not before.cols[c][1][j] and before.cols[c][0][j] != after.cols[c][0][i])
                for c in STREAM_VALUES
            ):
                ops.append("U"), src_rows.append(("a", i))
    for k, j in bk.items():
        if k not in ak:
            ops.append("D"), src_rows.append(("b", j))
    feed = _Table()
    feed.add("_op", np.array(ops, dtype=object), pa.string())
    for c in STREAM_KEYS + STREAM_VALUES:
        typ = before.cols[c][2]
        vals = np.array([(after if s == "a" else before).cols[c][0][i] for s, i in src_rows])
        nulls = np.array([(after if s == "a" else before).cols[c][1][i] for s, i in src_rows], dtype=bool)
        feed.add(c, vals, typ, nulls)
    feed = feed.take(rng.permutation(feed.nrows()))
    feed_dir = os.path.join(out_dir, "feed")
    os.makedirs(feed_dir, exist_ok=True)
    bounds = np.linspace(0, feed.nrows(), n_files + 1).astype(int)
    feed_b = 0
    for f in range(n_files):
        part = feed.take(np.arange(bounds[f], bounds[f + 1])).arrow()
        p = _write(part, os.path.join(feed_dir, f"part-{f:03d}.parquet"))
        feed_b += os.path.getsize(p)
    files = {
        "before": _write(before.take(np.arange(before.nrows())).arrow(),
                         os.path.join(out_dir, "orders_before.parquet")),
        "feed": feed_dir,
    }
    answer = {
        "snapshot": snapshot_hash(after),
        "feed_rows": feed.nrows(),
        "feed_b": feed_b,
        "ops": {o: ops.count(o) for o in "IUD"},
        "rows": before.nrows() + feed.nrows(),
    }
    return files, answer


def digest_dir(path: str) -> str:
    """md5 over every file under ``path`` (names and bytes), for the
    determinism tests."""
    h = hashlib.md5()
    for root, _, names in sorted(os.walk(path)):
        for name in sorted(names):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
