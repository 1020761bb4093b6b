"""The benchmark's own tests.

    python3 -m pytest perfbench -q                  # generator + checks
    PERFBENCH_REPEAT=1 python3 -m pytest perfbench -q -k repeat   # + counters

- the generator is byte-identical per seed and differs across seeds;
- every output check fails on a deliberately corrupted engine result;
- (opt-in, ~4 min) the counters that should repeat exactly across two
  same-seed traced runs do so.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import gen  # noqa: E402
import workloads as W  # noqa: E402

SMALL = {
    "diff_tpch": dict(n_orders=600, stream_rows=800),
    "diff_wide": dict(widths=(12, 30), n_rows=60),
    "corpus_curation": dict(sizes=dict(n_docs=120, n_vectors=200, n_queries=10,
                                       dims=16, topk=3)),
}


def small(name):
    wl = W.WORKLOADS[name]()
    for k, v in SMALL[name].items():
        setattr(wl, k, v)
    return wl


@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_generator_is_deterministic_per_seed(name, tmp_path):
    runs = {}
    for tag, seed in (("a", 5), ("b", 5), ("c", 6)):
        out = tmp_path / tag
        out.mkdir()
        _, answer = small(name).generate(seed, str(out))
        runs[tag] = (gen.digest_dir(str(out)), json.dumps(answer, sort_keys=True))
    assert runs["a"] == runs["b"]
    assert runs["a"][0] != runs["c"][0]
    assert runs["a"][1] != runs["c"][1]


# ---------------------------------------------------------------------------
# Output checks against corrupted results (needs a Spark session)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    run._pin_environment(tmp_path_factory.mktemp("work"), trace=False)
    from checkatron_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=2)
    yield s
    s.stop()


def _ctx(spark, name, tmp_path):
    wl = small(name)
    tmp_path.mkdir()
    files, answer = wl.generate(3, str(tmp_path))
    ctx = W.Ctx(spark, __import__("collect").NullTracer(), files, answer, str(tmp_path))
    wl.fill(ctx)
    return wl, ctx


def _drop_one_row(fn):
    def wrapped(*a, **kw):
        df = fn(*a, **kw)
        first = df.limit(1)
        return df.exceptAll(first)
    return wrapped


def _corruptions():
    """(workload, op name, module, attribute, wrapper) — each wrapper
    corrupts what the engine returns."""
    from pyspark.sql import functions as F

    import checkatron_spark
    import checkatron_spark.functions.text as text
    import checkatron_spark.operators.dedup as dedup
    import checkatron_spark.operators.pq as pq
    import checkatron_spark.streaming as streaming

    def flip_status(fn):
        def wrapped(*a, **kw):
            d = fn(*a, **kw)
            c = [c for c in d.columns if not c.startswith(("K_", "_"))][-1]
            return d.withColumn(c, F.when(F.col(c) == 0, 1).otherwise(F.col(c)))
        return wrapped

    def plus_one(fn):
        return lambda *a, **kw: fn(*a, **kw) + 1

    def shuffle_neighbours(fn):
        def wrapped(*a, **kw):
            r = fn(*a, **kw)
            return r.withColumn("neighbor_id", F.col("neighbor_id") + 100000)
        return wrapped

    def add_pair(fn):
        def wrapped(*a, **kw):
            r = fn(*a, **kw)
            return r.unionByName(r.limit(1).select(
                F.lit(1).cast("long").alias("id_a"), F.lit(2).cast("long").alias("id_b"),
                *[F.col(c) for c in r.columns if c not in ("id_a", "id_b")]))
        return wrapped

    return [
        ("diff_tpch", "orders_high", checkatron_spark, "diff", flip_status),
        ("diff_tpch", "lineitem_low", checkatron_spark, "diff", _drop_one_row),
        ("diff_tpch", "apply_delta_stream", streaming, "apply_delta_stream", _drop_one_row),
        ("diff_wide", "wide30", checkatron_spark, "diff", flip_status),
        ("corpus_curation", "exact_dedup", dedup, "dedup_exact", _drop_one_row),
        ("corpus_curation", "minhash_banded", dedup, "neardup_minhash_banded", add_pair),
        ("corpus_curation", "dedup_corpus", dedup, "dedup_corpus", _drop_one_row),
        ("corpus_curation", "text_kernel", text, "rolling_hash", plus_one),
        ("corpus_curation", "ivfpq_topk", pq, "ivfpq_topk", shuffle_neighbours),
    ]


def test_every_check_passes_clean_and_fails_corrupted(spark, tmp_path, monkeypatch):
    cases = _corruptions()
    by_wl: dict[str, list] = {}
    for case in cases:
        by_wl.setdefault(case[0], []).append(case)
    for name, wl_cases in by_wl.items():
        wl, ctx = _ctx(spark, name, tmp_path / name)
        ops = dict(wl.ops())
        assert {c[1] for c in wl_cases} <= set(ops)
        for op in ops.values():
            op(ctx)  # clean inputs: every check passes
        for _, op_name, mod, attr, corrupt in wl_cases:
            with monkeypatch.context() as m:
                m.setattr(mod, attr, corrupt(getattr(mod, attr)))
                with pytest.raises(W.CheckFailed):
                    ops[op_name](ctx)


# ---------------------------------------------------------------------------
# Counter repeatability across two same-seed runs (opt-in: slow)
# ---------------------------------------------------------------------------

# counters expected to repeat exactly; see README.md for the observed ones
EXACT = [
    "operators.py4j_calls", "operators.eager_jobs", "exec.jobs", "exec.stages",
    "exec.tasks", "catalyst.plan_nodes", "catalyst.exchanges", "sources.input_b",
    "sources.input_rows", "plans.sql_chars", "kernel.python_rows",
    "model_cache.fit_calls", "stream.batches", "stream.compactions",
    "stream.files_read_per_compaction",
]


def traced_pass(name, seed):
    subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", name, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        check=True, cwd=HERE.parent, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    detail = json.loads((HERE / "results" / f"{name}-seed{seed}-trace1.json").read_text())
    return detail["layer_per_pass"][0]


@pytest.mark.skipif(not os.environ.get("PERFBENCH_REPEAT"), reason="slow: set PERFBENCH_REPEAT=1")
@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_counters_repeat_across_same_seed_runs(name):
    a, b = traced_pass(name, 7), traced_pass(name, 7)
    differ = {k: (a[k], b[k]) for k in EXACT if a[k] != b[k]}
    assert not differ, differ
