"""The three workloads: inputs, set-up, the op list of one pass, and the
output check of every op.

Each op calls the engine through its public functions, wrapped in spans
named after the engine layer it enters (``sources``, ``plans``,
``operators``, ``exec`` for the actions the benchmark triggers,
``session``), and raises :class:`CheckFailed` when an output disagrees
with the answer the generator planted.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import contextmanager
from functools import partial

import gen
from collect import Span


class CheckFailed(AssertionError):
    pass


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


class Ctx:
    """What an op needs: the session, the tracer, the generated files and
    their planted answer, and a scratch directory."""

    def __init__(self, spark, tracer, files, answer, work):
        self.spark, self.tracer = spark, tracer
        self.files, self.answer, self.work = files, answer, work


def _size(path: str) -> int:
    if os.path.isdir(path):
        return sum(os.path.getsize(os.path.join(r, f))
                   for r, _, fs in os.walk(path) for f in fs)
    return os.path.getsize(path)


def load(ctx, key, rows=0):
    """``sources.tables.load_table`` on a generated parquet file."""
    from checkatron_spark.sources.tables import load_table

    path = ctx.files[key]
    with ctx.tracer.span("sources", "load") as sp:
        df = load_table(ctx.spark, os.path.basename(path)[: -len(".parquet")],
                        os.path.dirname(path))
        sp.note(input_b=_size(path), input_rows=rows)
    return df


def collect(ctx, name, df):
    """One action the benchmark triggers, timed as the ``exec`` layer."""
    with ctx.tracer.span("exec", name) as sp:
        rows = df.collect()
        sp.plan(df)
    return rows


def release(ctx):
    from checkatron_spark.session import release_scratch

    with ctx.tracer.span("session", "release_scratch"):
        release_scratch()


# ---------------------------------------------------------------------------
# Shared diff op: diff + diff_summary + status histogram + diff_drilldown
# ---------------------------------------------------------------------------

def _hist_agg(d, cols):
    """One aggregate row packing each column's counts of status 1, 2, 3."""
    from pyspark.sql import functions as F

    b1, b2 = 1 << gen.HIST_BITS, 1 << (2 * gen.HIST_BITS)
    return d.agg(*[
        F.expr(f"sum(CASE `{c}` WHEN 1 THEN 1L WHEN 2 THEN {b1}L "
               f"WHEN 3 THEN {b2}L ELSE 0L END)").alias(c)
        for c in cols
    ])


def _unpack(v):
    mask = (1 << gen.HIST_BITS) - 1
    v = int(v or 0)
    return [v & mask, (v >> gen.HIST_BITS) & mask, v >> (2 * gen.HIST_BITS)]


def run_diff(ctx, before, after, keys, ans, exclude=None):
    from pyspark.sql import functions as F

    from checkatron_spark import diff, diff_drilldown, diff_summary

    tr = ctx.tracer
    with tr.span("operators", "diff"):
        d = diff(before, after, keys)
    with tr.span("operators", "diff_summary"):
        s = diff_summary(d, exclude=exclude)
    summary = collect(ctx, "summary", s)[0]
    cols = [c for c in d.columns if c != "_row_status" and not c.startswith("K_")]
    hist = collect(ctx, "status_hist", _hist_agg(d, cols))[0]
    with tr.span("operators", "diff_drilldown"):
        dd = diff_drilldown(d)
    k0 = "K_" + keys[0].upper()
    drill = collect(ctx, "drilldown", dd.agg(F.count(F.lit(1)), F.sum(k0)))[0]
    with tr.span("check", "diff"):
        expect(list(summary) == ans["summary"], f"summary {list(summary)} != {ans['summary']}")
        expect([drill[0], int(drill[1] or 0)] == ans["drill"], f"drilldown {list(drill)} != {ans['drill']}")
        got = {c: _unpack(hist[c]) for c in cols}
        expect(got == ans["hist"], "per-column status counts differ")


# ---------------------------------------------------------------------------
# diff_tpch
# ---------------------------------------------------------------------------

class DiffTpch:
    """Reads and the write path: two TPC-H diffs, then the replay of an
    orders changefeed through ``apply_delta_stream``."""

    name = "diff_tpch"
    pairs = ("orders_high", "lineitem_low")
    n_orders = 10000  # lineitem ~40k rows, orders 10k rows per snapshot
    stream_rows, stream_files = 10000, 2

    def generate(self, seed, out):
        files, answer = gen.gen_diff_tpch(seed, out, n_orders=self.n_orders)
        sdir = os.path.join(out, "stream")
        os.makedirs(sdir)
        sfiles, answer["stream"] = gen.gen_delta_stream(
            seed, sdir, n_rows=self.stream_rows, n_files=self.stream_files)
        files.update({f"stream_{k}": v for k, v in sfiles.items()})
        return files, answer

    def fill(self, ctx):
        pass

    def ops(self):
        return [(p, partial(self._op, p)) for p in self.pairs] + [
            ("apply_delta_stream", self._stream)]

    def rows_per_pass(self, answer):
        return sum(answer[p]["rows"] for p in self.pairs) + answer["stream"]["rows"]

    def _op(self, pair, ctx):
        ans = ctx.answer[pair]
        rows = ans["rows"] // 2
        b = load(ctx, f"{pair}_before", rows)
        a = load(ctx, f"{pair}_after", rows)
        run_diff(ctx, b, a, ans["keys"], ans)

    def _stream(self, ctx):
        """Replay the changefeed onto the before snapshot, one file per
        micro-batch; the result must equal the after snapshot."""
        from pyspark.sql import functions as F

        from checkatron_spark.streaming import apply_delta_stream

        tr, ans = ctx.tracer, ctx.answer["stream"]
        base = load(ctx, "stream_before", self.stream_rows)
        feed = ctx.files["stream_feed"]
        with tr.span("sources", "load") as sp:
            schema = ctx.spark.read.parquet(feed).schema
            sdf = ctx.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(feed)
            sp.note(input_b=_size(feed), input_rows=ans["feed_rows"])
        state = tempfile.mkdtemp(prefix="state", dir=ctx.work)
        io_log: list = []
        try:
            with tr.span("operators", "apply_delta_stream") as sp:
                snap = apply_delta_stream(
                    sdf, base, gen.STREAM_KEYS, gen.STREAM_VALUES, state_dir=state,
                    n_buckets=8, compact_every=self.stream_files, timeout_s=120, io_log=io_log)
                comp = [r for r in io_log if r["mode"] == "compact"]
                sp.note(compactions=len(comp), files_read=sum(len(r["files_read"]) for r in comp))
            row = collect(ctx, "snapshot_hash",
                          snap.agg(F.count(F.lit(1)), F.sum(F.expr(gen.row_hash_sql()))))[0]
        finally:
            shutil.rmtree(state, ignore_errors=True)
        with tr.span("check", "snapshot"):
            expect([row[0], int(row[1] or 0)] == ans["snapshot"],
                   f"snapshot {list(row)} != {ans['snapshot']}")
            expect(sum(r["mode"] == "append" for r in io_log) == self.stream_files,
                   "one micro-batch per feed file expected")


# ---------------------------------------------------------------------------
# diff_wide
# ---------------------------------------------------------------------------

class DiffWide:
    name = "diff_wide"
    widths = (60, 120)
    n_rows = 400

    def generate(self, seed, out):
        return gen.gen_diff_wide(seed, out, widths=self.widths, n_rows=self.n_rows)

    def fill(self, ctx):
        pass

    def ops(self):
        return [(f"wide{w}", partial(self._op, f"wide{w}")) for w in self.widths]

    def rows_per_pass(self, answer):
        return sum(answer[f"wide{w}"]["rows"] for w in self.widths)

    def _op(self, name, ctx):
        from checkatron_spark.plans.sqlgen import render_diff_sql
        from checkatron_spark.sources import schema_csv as S

        ans, f, tr = ctx.answer[name], ctx.files, ctx.tracer
        with tr.span("sources", "schema_csv"):
            b_rows = S.load_schema_csv(f[f"{name}_before_csv"])
            a_rows = S.load_schema_csv(f[f"{name}_after_csv"])
            keys = S.load_keys_csv(f[f"{name}_keys_csv"])
            b_struct, a_struct = S.schema_to_struct(b_rows), S.schema_to_struct(a_rows)
        b_cols, a_cols = b_struct.fieldNames(), a_struct.fieldNames()
        with tr.span("plans", "render_diff_sql") as sp:
            sql = render_diff_sql(f"{name}_before", f"{name}_after", keys, b_cols, a_cols)
            sp.note(sql_chars=len(sql))
        rows = ans["rows"] // 2
        b = load(ctx, f"{name}_before", rows)
        a = load(ctx, f"{name}_after", rows)
        with tr.span("check", "schema"):
            expect([(x.name, x.dataType) for x in b.schema.fields]
                   == [(x.name, x.dataType) for x in b_struct.fields], "before schema != CSV")
            expect([(x.name, x.dataType) for x in a.schema.fields]
                   == [(x.name, x.dataType) for x in a_struct.fields], "after schema != CSV")
            union = b_cols + [c for c in a_cols if c not in set(b_cols)]
            expect(sql.count(" END AS ") == len(union) + 1, "rendered SQL misses columns")
        drift = sorted(set(b_cols) ^ set(a_cols))
        expect(drift == ans["drift_cols"], "drift columns differ")
        run_diff(ctx, b, a, keys, ans, exclude=drift)


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------

class CorpusCuration:
    name = "corpus_curation"
    sizes = dict(n_docs=800, n_vectors=600, n_queries=40, dims=16, topk=3)
    ann = dict(n_cells=8, n_probe=3, m=8, k=16, iters=1, fit_sample=256)
    recall_floor = 0.3  # measured recall@3 is ~0.45; random neighbours score ~0

    def generate(self, seed, out):
        self.seed = seed
        return gen.gen_corpus(seed, out, **self.sizes)

    def fill(self, ctx):
        """Cold IVF-PQ fit: fills the on-disk model cache the warm op reads."""
        self._ann(ctx, check=False)

    def ops(self):
        # first op: a search against the model cache set-up filled
        return [("ivfpq_topk", self._ann), ("exact_dedup", self._exact),
                ("minhash_banded", self._minhash), ("dedup_corpus", self._dedup_corpus),
                ("text_kernel", self._text)]

    def rows_per_pass(self, answer):
        return 4 * self.sizes["n_docs"] + self.sizes["n_vectors"] + self.sizes["n_queries"]

    def _docs(self, ctx):
        return load(ctx, "docs", self.sizes["n_docs"])

    def _exact(self, ctx):
        from checkatron_spark.operators.dedup import dedup_exact

        docs = self._docs(ctx)
        with ctx.tracer.span("operators", "dedup_exact"):
            g = dedup_exact(docs, "text", "doc_id")
        rows = collect(ctx, "groups", g.select("keep_id", "n_dups"))
        release(ctx)
        ans = ctx.answer
        with ctx.tracer.span("check", "exact_dedup"):
            expect(len(rows) == ans["exact_groups"], "exact group count differs")
            expect(sum(r[1] for r in rows) == self.sizes["n_docs"], "exact groups lose docs")
            dup = sorted([r[0], r[1]] for r in rows if r[1] > 1)
            expect(dup == ans["exact"], "exact-dup clusters differ")

    def _minhash(self, ctx):
        from checkatron_spark.operators.dedup import neardup_minhash_banded

        docs = self._docs(ctx)
        with ctx.tracer.span("operators", "neardup_minhash_banded"):
            pairs = neardup_minhash_banded(docs, "text", "doc_id")
        rows = collect(ctx, "pairs", pairs.select("id_a", "id_b"))
        release(ctx)
        with ctx.tracer.span("check", "minhash"):
            got = {(r[0], r[1]) for r in rows}
            truth = {tuple(p) for p in ctx.answer["pairs_07"]}
            expect(got <= truth, "minhash reported a pair below the threshold")
            expect(len(got) >= 0.95 * len(truth), f"minhash recall {len(got)}/{len(truth)}")

    def _dedup_corpus(self, ctx):
        from checkatron_spark.operators.dedup import dedup_corpus

        docs = self._docs(ctx)
        with ctx.tracer.span("operators", "dedup_corpus"):
            kept = dedup_corpus(docs, "text", "doc_id")
        rows = collect(ctx, "survivors", kept.select("doc_id"))
        release(ctx)
        with ctx.tracer.span("check", "dedup_corpus"):
            expect(sorted(r[0] for r in rows) == ctx.answer["survivors"], "survivors differ")

    def _text(self, ctx):
        from pyspark.sql import functions as F

        from checkatron_spark.functions.text import rolling_hash

        docs = self._docs(ctx)
        with ctx.tracer.span("operators", "rolling_hash"):
            h = docs.select(rolling_hash(F.col("text")).alias("h"))
        row = collect(ctx, "hash_sum", h.agg(F.sum("h")))[0]
        with ctx.tracer.span("check", "text_kernel"):
            expect(int(row[0]) == ctx.answer["hash_sum"], "rolling hash sum differs")

    def _ann(self, ctx, check=True):
        from checkatron_spark.operators import pq

        vec = load(ctx, "vectors", self.sizes["n_vectors"])
        qry = load(ctx, "queries", self.sizes["n_queries"])
        with ctx.tracer.span("operators", "ivfpq_topk") as sp:
            with _model_cache_probe(pq, sp):
                res = pq.ivfpq_topk(vec, qry, topk=self.sizes["topk"],
                                    cache_key=f"perfbench-{self.seed}", **self.ann)
        rows = collect(ctx, "topk", res.select("query_id", "neighbor_id"))
        release(ctx)
        if not check:
            return
        with ctx.tracer.span("check", "ann_recall"):
            truth = ctx.answer["ann_truth"]
            hits = sum(1 for r in rows if r[1] in truth[str(r[0])])
            total = sum(len(v) for v in truth.values())
            expect(hits / total >= self.recall_floor, f"ANN recall {hits}/{total}")


@contextmanager
def _model_cache_probe(pq, span):
    """Count model-cache loads, hits and fits of one ``ivfpq_topk`` call by
    wrapping ``pq._load_books`` and ``pq.fit_codebooks_grid`` while the
    span is open (tracing on only)."""
    if not isinstance(span, Span):
        yield
        return
    load_books, fit = pq._load_books, pq.fit_codebooks_grid

    def counted_load(*a, **kw):
        out = load_books(*a, **kw)
        span.note(cache_loads=1, cache_hits=int(out is not None))
        return out

    def counted_fit(*a, **kw):
        span.note(fit_calls=1)
        return fit(*a, **kw)

    pq._load_books, pq.fit_codebooks_grid = counted_load, counted_fit
    try:
        yield
    finally:
        pq._load_books, pq.fit_codebooks_grid = load_books, fit


WORKLOADS = {w.name: w for w in (DiffTpch, DiffWide, CorpusCuration)}
