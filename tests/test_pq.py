"""Product quantization: cross-engine exactness of the full
fit-encode-ADC pipeline, recall vs exact brute force on separable data,
codebook determinism/reuse, and the ragged-dims fail-fast."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from checkatron_spark.operators.pq import (
    fit_pq_codebooks,
    pq_adc_topk,
    pq_encode,
)


def _vecs(spark, rows):
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def _clustered_rows(n=120, dims=8, n_groups=4):
    # well-separated integer-ish clusters + a degenerate tail the
    # pipeline must drop on BOTH engines
    rows = []
    for i in range(n):
        g = i % n_groups
        base = [float(g * 10 + (d % 3)) * 0.1 for d in range(dims)]
        base[g] += 0.01 * (i // n_groups)  # within-cluster spread
        rows.append((i, base))
    rows.append((n, None))                        # NULL vector
    rows.append((n + 1, [None] * dims))           # element-NULL
    rows.append((n + 2, [0.0] * dims))            # zero norm
    return rows


def test_pq_adc_matches_duckdb_oracle(spark, duck, tmp_path):
    """The unit-scale replica of the driver grade: Spark pq_adc_topk ==
    the unrolled-CTE DuckDB oracle, row for row, on a corpus that
    includes degenerate embeddings (dropped identically by both)."""
    import pandas as pd

    from checkatron_spark.pipelines import pq_adc_sql
    from tests.conftest import assert_same_rows

    rows = _clustered_rows()
    pd.DataFrame(rows, columns=["vec_id", "embedding"]).to_parquet(
        tmp_path / "embeddings.parquet"
    )
    duck.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'embeddings.parquet'}')"
    )
    emb = _vecs(spark, rows)
    queries = emb.filter(F.col("vec_id") % 50 == 0)  # ids 0, 50, 100
    df = pq_adc_topk(emb, queries, m=2, k=4, iters=2, topk=3)
    res = duck.sql(pq_adc_sql(dims=8, m=2, k=4, iters=2, topk=3))
    idx = [res.columns.index(c) for c in df.columns]
    assert_same_rows(
        df,
        [tuple(row[i] for i in idx) for row in res.fetchall()],
        duck_cols=df.columns,
    )
    got = df.collect()
    assert len(got) == 9  # 3 queries x top-3
    assert all(r["query_id"] != r["neighbor_id"] for r in got)


def test_pq_cluster_preservation_on_separable_data(spark):
    """PQ quantizes away WITHIN-cluster detail by design (same-cluster
    vectors share codes, so exact-nearest inside a cluster is not
    recoverable from ADC), but on well-separated clusters the top-1 ADC
    neighbor must come from the QUERY'S OWN cluster for every query —
    the floor that catches a broken codebook or a transposed subspace
    slice. Additionally, ADC distance to same-cluster neighbors must be
    strictly below ADC distance to any other cluster's."""
    rows = [r for r in _clustered_rows() if r[1] is not None
            and all(v is not None for v in r[1]) and any(r[1])]
    emb = _vecs(spark, rows)
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    out = pq_adc_topk(emb, queries, m=2, k=4, iters=2, topk=3).collect()
    assert {r["query_id"] for r in out} == {
        i for i, _ in rows if i % 10 == 0
    }
    for r in out:
        assert r["query_id"] % 4 == r["neighbor_id"] % 4, (
            "top-3 ADC neighbor crossed cluster boundary", dict(r.asDict())
        )


def test_pq_codebooks_deterministic_and_reusable(spark):
    rows = _clustered_rows(n=60)
    emb = _vecs(spark, rows)
    cb1 = fit_pq_codebooks(emb, m=2, k=4, iters=2)
    cb2 = fit_pq_codebooks(emb, m=2, k=4, iters=2)
    assert cb1 == cb2
    assert len(cb1) == 2 and len(cb1[0]) == 4 and len(cb1[0][0]) == 4
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    inline = sorted(
        map(tuple, pq_adc_topk(emb, queries, m=2, k=4, iters=2).collect())
    )
    reused = sorted(
        map(
            tuple,
            pq_adc_topk(emb, queries, m=2, k=4, iters=2,
                        codebooks=cb1).collect(),
        )
    )
    assert inline == reused
    # encode emits one (s, code) row per (vector, subspace), codes < k
    codes = pq_encode(emb, cb1).collect()
    n_ok = len([r for r in rows if r[1] is not None
                and all(v is not None for v in r[1]) and any(r[1])])
    assert len(codes) == 2 * n_ok
    assert all(0 <= r["code"] < 4 for r in codes)


def test_pq_fit_sample_matches_duckdb_oracle(spark, duck, tmp_path):
    """Bounded-sample fit (round 13): with fit_sample a strict subset of
    the corpus, Spark still equals the unrolled oracle row for row — the
    oracle's fitset CTE replays the identical md5-ordered sample."""
    import pandas as pd

    from checkatron_spark.operators.pq import ivfpq_topk
    from checkatron_spark.pipelines import ivfpq_sql, pq_adc_sql
    from tests.conftest import assert_same_rows

    rows = _clustered_rows()
    pd.DataFrame(rows, columns=["vec_id", "embedding"]).to_parquet(
        tmp_path / "embeddings.parquet"
    )
    duck.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'embeddings.parquet'}')"
    )
    emb = _vecs(spark, rows)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    df = pq_adc_topk(emb, queries, m=2, k=4, iters=2, topk=3,
                     fit_sample=40)
    res = duck.sql(
        pq_adc_sql(dims=8, m=2, k=4, iters=2, topk=3, fit_sample=40)
    )
    idx = [res.columns.index(c) for c in df.columns]
    assert_same_rows(
        df,
        [tuple(row[i] for i in idx) for row in res.fetchall()],
        duck_cols=df.columns,
    )
    ivf = ivfpq_topk(emb, queries, n_cells=4, n_probe=2, m=2, k=4,
                     iters=2, topk=3, fit_sample=40)
    res2 = duck.sql(
        ivfpq_sql(dims=8, n_cells=4, n_probe=2, m=2, k=4, iters=2,
                  topk=3, fit_sample=40)
    )
    idx2 = [res2.columns.index(c) for c in ivf.columns]
    assert_same_rows(
        ivf,
        [tuple(row[i] for i in idx2) for row in res2.fetchall()],
        duck_cols=ivf.columns,
    )


def test_pq_fit_sample_recall_and_full_equivalence(spark):
    """fit_sample >= corpus is EXACTLY the unsampled fit (the sample is
    the whole input, md5 order irrelevant after the id-ordered seed);
    a strict-subset sample on separable clusters must still keep every
    top-1 ADC neighbor in the query's own cluster — the sampled-fit
    recall floor."""
    rows = [r for r in _clustered_rows() if r[1] is not None
            and all(v is not None for v in r[1]) and any(r[1])]
    emb = _vecs(spark, rows)
    full = fit_pq_codebooks(emb, m=2, k=4, iters=2)
    oversized = fit_pq_codebooks(emb, m=2, k=4, iters=2, fit_sample=10**6)
    assert full == oversized
    sampled = fit_pq_codebooks(emb, m=2, k=4, iters=2, fit_sample=40)
    assert len(sampled) == 2 and all(len(b) == 4 for b in sampled)
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    out = pq_adc_topk(
        emb, queries, m=2, k=4, iters=2, topk=1, fit_sample=40
    ).collect()
    assert out
    for r in out:
        assert r["query_id"] % 4 == r["neighbor_id"] % 4, (
            "sampled-fit top-1 crossed cluster boundary", dict(r.asDict())
        )


def test_pq_codebook_disk_cache(spark, tmp_path, monkeypatch):
    """The round-13 persistence contract (VERDICT r12 #1): a cache hit
    returns codebooks IDENTICAL to the refit; corrupt/mismatched entries
    fall back to a refit, never an error and never a silent wrong
    shape."""
    import json

    from checkatron_spark import model_cache
    from checkatron_spark.operators import pq as pqmod

    monkeypatch.setattr(model_cache, "ROOT", str(tmp_path))
    emb = _vecs(spark, _clustered_rows(n=60))
    cold = fit_pq_codebooks(emb, m=2, k=4, iters=2, cache_key="corpus-v1")
    cached = [p for p in (tmp_path / "pq_codebooks").iterdir()]
    assert len(cached) == 1
    warm = fit_pq_codebooks(emb, m=2, k=4, iters=2, cache_key="corpus-v1")
    assert warm == cold
    # the cached JSON is bit-for-bit what the refit computes
    obj = json.loads(cached[0].read_text())
    assert obj["books"] == cold
    # the embedded fingerprint binds content to (params, corpus key) and
    # equals the filename (ADVICE r13)
    assert obj["fp"] == cached[0].name.rsplit(".", 1)[0]
    # planted garbage shapes refit instead of being trusted — including a
    # pre-r14 bare-list entry (no fingerprint wrapper), a right-shaped
    # entry under the WRONG fingerprint, and bools masquerading as ints
    fp = obj["fp"]
    for bad in ("not json {", json.dumps([[[1, 2]]]),
                json.dumps([[["x", "y"]] * 4] * 2),
                json.dumps(cold),  # legacy bare list: no content binding
                json.dumps({"fp": "0" * 32, "books": cold}),
                json.dumps({"fp": fp,
                            "books": [[[True] * 4] * 4] * 2})):
        cached[0].write_text(bad)
        refit = fit_pq_codebooks(
            emb, m=2, k=4, iters=2, cache_key="corpus-v1"
        )
        assert refit == cold
    # different params -> different cache slot, not a collision
    other = fit_pq_codebooks(
        emb, m=2, k=4, iters=2, fit_sample=40, cache_key="corpus-v1"
    )
    assert len(list((tmp_path / "pq_codebooks").iterdir())) == 2
    assert other == fit_pq_codebooks(
        emb, m=2, k=4, iters=2, fit_sample=40, cache_key="corpus-v1"
    )


def test_cache_root_trust_checks(tmp_path, monkeypatch):
    """ADVICE r13: an existing cache root is only trusted when it is a
    real directory owned by the current uid with no group/other write
    bits — otherwise caching is DISABLED (path resolution returns None),
    never silently pointed at a plantable location."""
    import os

    from checkatron_spark import model_cache

    def secure_cache_root(path: str) -> str | None:
        monkeypatch.setattr(model_cache, "ROOT", path)
        return model_cache.root()

    good = tmp_path / "root"
    good.mkdir(mode=0o700)
    assert secure_cache_root(str(good)) == str(good)
    monkeypatch.setattr(model_cache, "ROOT", str(good))
    assert model_cache.entry(model_cache.PQ_BOOKS, "k", "pq", (1,)) is not None

    # group/other-writable root (the classic pre-created /tmp plant)
    loose = tmp_path / "loose"
    loose.mkdir(mode=0o777)
    os.chmod(loose, 0o777)  # mkdir is umask-masked; force the loose bits
    assert secure_cache_root(str(loose)) is None
    monkeypatch.setattr(model_cache, "ROOT", str(loose))
    assert model_cache.entry(model_cache.PQ_BOOKS, "k", "pq", (1,)) is None

    # a symlink planted at the root path
    link = tmp_path / "link"
    link.symlink_to(good)
    assert secure_cache_root(str(link)) is None

    # a plain file planted at the root path
    f = tmp_path / "file"
    f.write_text("x")
    assert secure_cache_root(str(f)) is None

    # missing root: created 0o700 and trusted
    fresh = tmp_path / "fresh"
    assert secure_cache_root(str(fresh)) == str(fresh)
    assert (os.lstat(fresh).st_mode & 0o777) == 0o700

    # fit with an untrusted root still WORKS — it just refits every time
    # (cache best-effort contract); exercised via the IVF path too
    monkeypatch.setattr(model_cache, "ROOT", str(loose))
    assert model_cache.entry(
        model_cache.IVF_QUANTIZER, "k", "kmeans", (4, 42, 5, None)
    ) is None


def test_clear_forces_refit_of_every_disk_family(spark, tmp_path, monkeypatch):
    """After model_cache.clear() the next call is COLD for every disk
    family: flat-PQ books, IVF-PQ coarse + residual books and the IVF
    index store each pay their fit again — counted at the
    fit_codebooks_grid and assignment-kernel seams."""
    from checkatron_spark import model_cache
    from checkatron_spark.operators import pq as pqmod

    monkeypatch.setattr(model_cache, "ROOT", str(tmp_path))
    calls = {"fit": 0, "assign": 0}
    fit, assign = pqmod.fit_codebooks_grid, pqmod._assign_residual_grid

    def counted_fit(*a, **kw):
        calls["fit"] += 1
        return fit(*a, **kw)

    def counted_assign(*a, **kw):
        calls["assign"] += 1
        return assign(*a, **kw)

    monkeypatch.setattr(pqmod, "fit_codebooks_grid", counted_fit)
    monkeypatch.setattr(pqmod, "_assign_residual_grid", counted_assign)
    rows = [r for r in _clustered_rows() if r[1] is not None
            and all(v is not None for v in r[1]) and any(r[1])]
    emb = _vecs(spark, rows)
    queries = emb.filter(F.col("vec_id") % 40 == 0)
    no_changes = emb.filter(F.col("vec_id") < 0).select(
        F.lit("upsert").alias("op"), "vec_id", "embedding"
    )
    kw = dict(iters=2, fit_sample=40, cache_key="corpus-v1")
    families = {
        "pq": lambda: fit_pq_codebooks(emb, m=2, k=4, **kw),
        "ivfpq": lambda: pqmod.ivfpq_topk(
            emb, queries, n_cells=4, n_probe=2, m=2, k=4, topk=3, **kw
        ),
        "index": lambda: pqmod.ivf_grid_apply_changes(
            emb, no_changes, n_cells=4, **kw
        ),
    }

    def cost(call) -> tuple[int, int]:
        before = dict(calls)
        call()
        return calls["fit"] - before["fit"], calls["assign"] - before["assign"]

    for call in families.values():
        call()  # fill every family
    warm = {name: cost(call) for name, call in families.items()}
    model_cache.clear()
    cold = {name: cost(call) for name, call in families.items()}
    # (fits, assignment-kernel builds); ivfpq always builds its residual
    # assignment and the index admission its upsert assignment
    assert warm == {"pq": (0, 0), "ivfpq": (0, 1), "index": (0, 1)}
    # ivfpq refits coarse + residual books; the index store rebuilds its
    # base assignment (its coarse slot is shared with ivfpq, warm again)
    assert cold == {"pq": (1, 0), "ivfpq": (2, 1), "index": (0, 2)}


def test_ivf_injection_needs_index_and_coarse_together(spark):
    """Injecting only one of index= / coarse= raises instead of being
    silently discarded for a refit."""
    import checkatron_spark.operators.pq as P

    emb = _vecs(spark, _clustered_rows())
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    index, coarse = P.ivf_grid_index(emb, n_cells=4, iters=2, fit_sample=64)
    for search, kw in ((P.ivfpq_topk, dict(m=2, k=4)), (P.ivf_grid_topk, {})):
        for one in (dict(index=index), dict(coarse=coarse)):
            with pytest.raises(ValueError, match="together"):
                search(emb, queries, n_cells=4, n_probe=2, **kw, **one)


def test_ivfpq_cache_hit_equals_refit(spark, tmp_path, monkeypatch):
    """IVF-PQ with a warm coarse+residual codebook cache returns the
    identical ranking a cold fit computes (fit is deterministic, so the
    cache IS the refit — job-free)."""
    from checkatron_spark import model_cache
    from checkatron_spark.operators import pq as pqmod

    monkeypatch.setattr(model_cache, "ROOT", str(tmp_path))
    rows = [r for r in _clustered_rows() if r[1] is not None
            and all(v is not None for v in r[1]) and any(r[1])]
    emb = _vecs(spark, rows)
    queries = emb.filter(F.col("vec_id") % 40 == 0)
    kw = dict(n_cells=4, n_probe=2, m=2, k=4, iters=2, topk=3,
              fit_sample=40, cache_key="corpus-v1")
    from checkatron_spark.operators.pq import ivfpq_topk

    cold = sorted(map(tuple, ivfpq_topk(emb, queries, **kw).collect()))
    assert len(list((tmp_path / "pq_codebooks").iterdir())) == 2
    warm = sorted(map(tuple, ivfpq_topk(emb, queries, **kw).collect()))
    assert warm == cold


def test_pq_fail_fasts(spark):
    emb = _vecs(spark, _clustered_rows(n=40))
    with pytest.raises(ValueError, match="divide evenly"):
        fit_pq_codebooks(emb, m=3, k=4)
    ragged = _vecs(
        spark,
        [(1, [0.1] * 8), (2, [0.2] * 6)],
    )
    with pytest.raises(ValueError, match="ragged"):
        fit_pq_codebooks(ragged, m=2, k=2)
    with pytest.raises(ValueError, match="at least k"):
        fit_pq_codebooks(_vecs(spark, [(1, [0.1] * 8)]), m=2, k=4)
    # fit-time BIGINT argmin-encoding guard (ADVICE r12): a grid whose
    # magnitudes would wrap min(dist*k+cid) raises BEFORE Lloyd runs,
    # instead of training garbage codebooks under non-ANSI arithmetic
    with pytest.raises(ValueError, match="grid bound exceeded at fit"):
        fit_pq_codebooks(
            _vecs(spark, [(i, [float(i + 1)] * 8) for i in range(4)]),
            m=2, k=2, scale=10**10,
        )


def test_pq_rerank_subset_and_exactness(spark, duck, tmp_path):
    """The refine stage: re-ranked top-k is drawn from the ADC shortlist,
    ordered by exact grid distance, and the whole two-stage pipeline
    matches the DuckDB twin row for row."""
    import pandas as pd

    from checkatron_spark.operators.pq import pq_adc_rerank_topk, pq_adc_topk
    from checkatron_spark.pipelines import pq_adc_sql
    from tests.conftest import assert_same_rows

    rows = _clustered_rows()
    pd.DataFrame(rows, columns=["vec_id", "embedding"]).to_parquet(
        tmp_path / "embeddings.parquet"
    )
    duck.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'embeddings.parquet'}')"
    )
    emb = _vecs(spark, rows)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    short = pq_adc_topk(emb, queries, m=2, k=4, iters=2, topk=8)
    rer = pq_adc_rerank_topk(
        emb, queries, m=2, k=4, iters=2, shortlist=8, topk=3
    )
    res = duck.sql(
        pq_adc_sql(dims=8, m=2, k=4, iters=2, topk=3, rerank_shortlist=8)
    )
    idx = [res.columns.index(c) for c in rer.columns]
    assert_same_rows(
        rer,
        [tuple(row[i] for i in idx) for row in res.fetchall()],
        duck_cols=rer.columns,
    )
    shortset = {(r["query_id"], r["neighbor_id"]) for r in short.collect()}
    got = rer.collect()
    assert len(got) == 9
    assert all((r["query_id"], r["neighbor_id"]) in shortset for r in got)
    # exact re-rank orders by true grid distance within each query
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for rs in by_q.values():
        rs.sort(key=lambda r: r["rank"])
        dists = [r["exact_dist"] for r in rs]
        assert dists == sorted(dists)


def test_ivfpq_matches_duckdb_oracle(spark, duck, tmp_path):
    """IVF-PQ: the composed coarse+residual pipeline equals the unrolled
    oracle row for row (degenerate embeddings excluded identically);
    probed-cell semantics — every reported neighbor shares a probed cell
    with its query."""
    import pandas as pd

    from checkatron_spark.operators.pq import ivfpq_topk
    from checkatron_spark.pipelines import ivfpq_sql
    from tests.conftest import assert_same_rows

    rows = _clustered_rows()
    pd.DataFrame(rows, columns=["vec_id", "embedding"]).to_parquet(
        tmp_path / "embeddings.parquet"
    )
    duck.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'embeddings.parquet'}')"
    )
    emb = _vecs(spark, rows)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    df = ivfpq_topk(
        emb, queries, n_cells=4, n_probe=2, m=2, k=4, iters=2, topk=3
    )
    res = duck.sql(
        ivfpq_sql(dims=8, n_cells=4, n_probe=2, m=2, k=4, iters=2, topk=3)
    )
    idx = [res.columns.index(c) for c in df.columns]
    assert_same_rows(
        df,
        [tuple(row[i] for i in idx) for row in res.fetchall()],
        duck_cols=df.columns,
    )
    got = df.collect()
    assert len(got) == 9
    assert all(r["query_id"] != r["neighbor_id"] for r in got)
    # separable clusters + coarse k = n_groups: top-ranked neighbors stay
    # in the query's own cluster (residual coding must not cross cells)
    for r in got:
        if r["rank"] == 1:
            assert r["query_id"] % 4 == r["neighbor_id"] % 4


def test_ivfpq_probe_bounds_candidates(spark):
    """n_probe=1 returns only own-cell members; widening n_probe can only
    ADD candidates (monotone candidate sets)."""
    from checkatron_spark.operators.pq import ivfpq_topk

    rows = [r for r in _clustered_rows() if r[1] is not None
            and all(v is not None for v in r[1]) and any(r[1])]
    emb = _vecs(spark, rows)
    queries = emb.filter(F.col("vec_id") % 40 == 0)
    one = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(emb, queries, n_cells=4, n_probe=1, m=2, k=4,
                            topk=50).collect()
    }
    two = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(emb, queries, n_cells=4, n_probe=2, m=2, k=4,
                            topk=50).collect()
    }
    assert one and one <= two and len(two) > len(one)


def test_ann_recall_audit_contract(spark):
    """The recall@k audit's structural contract on the real sf0.001
    fixture: all six methods present (round 14 adds ann_ivf/ann_lsh —
    VERDICT r13 #2), exact integer hits within [0, total],
    total = |truth pairs|, and the rerank path (exact re-scoring of a
    10-candidate shortlist) never recalls FEWER true neighbors than raw
    ADC at the same k — the property that makes the refine stage worth
    its cost. Recall floors for the two newly-audited approximate
    methods are pinned at their measured sf0.001 operating points
    (ivf 0.667, lsh 0.633 — floored with headroom for fixture noise,
    the tests/test_ivf.py approximate-probe precedent)."""
    from checkatron_spark.pipelines import q_ann_recall_audit

    rows = {r["method"]: r for r in
            q_ann_recall_audit(spark, "/root/testdata/sf0.001").collect()}
    assert set(rows) == {
        "ann_hamming", "ann_ivf", "ann_ivfpq", "ann_lsh",
        "ann_pq_adc", "ann_pq_rerank",
    }
    totals = {r["total"] for r in rows.values()}
    assert len(totals) == 1 and next(iter(totals)) > 0
    for r in rows.values():
        assert 0 <= r["hits"] <= r["total"]
        assert abs(r["recall_at_k"] - r["hits"] / r["total"]) < 1e-6
    assert rows["ann_pq_rerank"]["hits"] >= rows["ann_pq_adc"]["hits"]
    # recall floors: the 2-of-8-cells grid IVF and 5-bit banded LSH must
    # stay usefully approximate on the fixtures — a collapse below these
    # floors means the quantizer/banding contract changed
    assert rows["ann_ivf"]["recall_at_k"] >= 0.5
    assert rows["ann_lsh"]["recall_at_k"] >= 0.5
    # and they must stay APPROXIMATE (an exact result here would mean
    # the probe/band pruning silently stopped pruning)
    assert rows["ann_ivf"]["hits"] < rows["ann_ivf"]["total"]


def test_ivf_incremental_equals_rebuild_with_same_centroids(spark):
    """Round 14 (VERDICT r13 #5): admission against the fitted quantizer
    must EXACTLY equal a from-scratch assignment of the updated corpus
    with the SAME centroids — centroids deliberately do not move, and
    assignment is deterministic, so the incremental path has no
    approximation of its own. Applied over K=3 sequential batches, then
    recall vs exact brute force on the final corpus is pinned."""
    from pyspark.sql import functions as F

    from checkatron_spark.operators.pq import (
        _fit_coarse_cached,
        _ivf_grid_search,
        _quantized,
        ivf_grid_apply_changes,
        ivf_occupancy_drift,
    )
    from checkatron_spark.operators.similarity import ann_bruteforce_topk
    from checkatron_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, "embeddings", sf)
    kw = dict(n_cells=4, iters=2, scale=10000, fit_sample=64)

    # K=3 deterministic batches: upsert thirds with different drifts,
    # delete a sliver each round
    base = emb
    corpus = {r.vec_id: list(r.embedding) for r in emb.collect()
              if r.embedding is not None}
    idx = coarse = None
    for k in range(1, 4):
        pert = F.expr(
            "transform(embedding, v -> CAST(v AS DOUBLE) + "
            f"0.00{k}D * CAST(vec_id % 5 - 2 AS DOUBLE))"
        )
        ups = base.filter(F.col("vec_id") % (10 + k) == 0).select(
            F.lit("upsert").alias("op"), "vec_id", pert.alias("embedding")
        )
        dels = base.filter(
            (F.col("vec_id") % (20 + k) == 1)
            & (F.col("vec_id") % (10 + k) != 0)  # disjoint from upserts
        ).select(F.lit("delete").alias("op"), "vec_id", "embedding")
        changes = ups.unionByName(dels)
        idx, coarse = ivf_grid_apply_changes(
            ivf_state_df(spark, corpus) if k > 1 else base, changes, **kw
        )
        # maintain the python-side corpus mirror
        for r in ups.collect():
            corpus[r.vec_id] = list(r.embedding)
        for r in dels.collect():
            corpus.pop(r.vec_id, None)
        base = ivf_state_df(spark, corpus)

    # exact-equality pin: incremental index == fresh assignment of the
    # final corpus with the SAME centroids
    final_xq = _quantized(base, "vec_id", "embedding", 10000)
    from checkatron_spark.operators.pq import _assign_residual_grid

    rebuilt = _assign_residual_grid(
        final_xq, coarse, residual=False
    )
    a = sorted(map(tuple, idx.select("vec_id", "cell").collect()))
    b = sorted(map(tuple, rebuilt.select("vec_id", "cell").collect()))
    assert a == b and len(a) > 0

    # recall-after-K-batches floor vs brute force on the final corpus
    queries = base.filter(F.col("vec_id") % 40 == 0)
    qx = _quantized(queries, "vec_id", "embedding", 10000) \
        .withColumnRenamed("vec_id", "query_id")
    got = _ivf_grid_search(
        idx.withColumnRenamed("vec_id", "neighbor_id"), coarse, qx,
        n_probe=2, topk=3,
    ).collect()
    truth = ann_bruteforce_topk(base, queries, k=3).collect()
    tset = {(r.query_id, r.neighbor_id) for r in truth}
    gset = {(r.query_id, r.neighbor_id) for r in got}
    assert len(tset) > 0
    recall = len(gset & tset) / len(tset)
    assert recall >= 0.4, f"recall after 3 batches collapsed: {recall:.2f}"

    # drift audit: the balanced index does not demand a refit; a
    # maximally-skewed synthetic index does
    d = ivf_occupancy_drift(idx, n_cells=4)
    assert d["total"] == len(a) and 0 <= d["empty_frac"] <= 1
    skewed = spark.range(100).select(
        F.col("id").alias("vec_id"), F.lit(0).alias("cell"),
        F.array(F.lit(1).cast("bigint")).alias("_x"),
    )
    ds = ivf_occupancy_drift(skewed, n_cells=4)
    assert ds["refit_recommended"] and ds["skew"] == 4.0
    assert ds["empty_frac"] == 0.75


def ivf_state_df(spark, corpus: dict):
    """Helper: materialize the python-mirrored corpus as a DataFrame."""
    return spark.createDataFrame(
        [(k, v) for k, v in sorted(corpus.items())],
        "vec_id long, embedding array<double>",
    )


def test_ivf_index_store_hit_equals_rebuild(spark, tmp_path, monkeypatch):
    """The parquet index store: a warm load returns the identical
    (vec_id, cell) assignment the cold build computed; a corrupted store
    silently rebuilds."""
    import shutil

    from pyspark.sql import functions as F

    from checkatron_spark import model_cache
    from checkatron_spark.operators import pq as pqmod

    monkeypatch.setattr(model_cache, "ROOT", str(tmp_path))
    vecs = spark.range(150).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[((F.col("id") * (i + 2)) % 13).cast("double") / 10.0
              for i in range(8)]
        ).alias("embedding"),
    )
    empty = vecs.filter(F.col("vec_id") < 0).select(
        F.lit("upsert").alias("op"), "vec_id", "embedding"
    )
    kw = dict(n_cells=4, iters=2, scale=10000, fit_sample=32,
              cache_key="corpus-v1")
    cold, _ = pqmod.ivf_grid_apply_changes(vecs, empty, **kw)
    cold_rows = sorted(map(tuple, cold.select("vec_id", "cell").collect()))
    stores = list((tmp_path / "ivf_index").iterdir())
    assert len(stores) == 1
    warm, _ = pqmod.ivf_grid_apply_changes(vecs, empty, **kw)
    assert sorted(
        map(tuple, warm.select("vec_id", "cell").collect())
    ) == cold_rows
    # corrupt the store: silent rebuild, same assignments
    shutil.rmtree(stores[0])
    stores[0].mkdir()
    (stores[0] / "garbage").write_text("not parquet")
    re_built, _ = pqmod.ivf_grid_apply_changes(vecs, empty, **kw)
    assert sorted(
        map(tuple, re_built.select("vec_id", "cell").collect())
    ) == cold_rows


def test_ivfpq_injected_index_width_mismatch_is_named(spark, tmp_path,
                                                     monkeypatch):
    """An injected index narrower than its coarse centroids fails with an
    error that names both widths, instead of surfacing downstream as a
    "ragged corpus" error from the encode kernel."""
    import checkatron_spark.operators.pq as P
    from checkatron_spark import model_cache

    monkeypatch.setattr(model_cache, "ROOT", str(tmp_path))
    emb = _vecs(spark, _clustered_rows())
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    params = dict(n_cells=4, iters=2, scale=10000, fit_sample=64,
                  cache_key="t")
    # warm the residual books so the injected-index path is taken
    P.ivfpq_topk(emb, queries, m=2, k=4, **params).collect()
    index, coarse = P.ivf_grid_index(emb, **params)
    narrow = index.withColumn("_x", F.slice("_x", 1, 4))
    with pytest.raises(
        Exception, match="index vectors have 4 dims but the coarse "
                         "centroids have 8"
    ):
        P.ivfpq_topk(
            emb, queries, m=2, k=4, n_probe=2, index=narrow, coarse=coarse,
            **params,
        ).collect()


def test_coarse_assign_expr_equals_kernel(spark):
    """The centroid-literal codegen argmin (streaming admission path)
    must assign EVERY vector to the same cell as the Arrow kernel —
    identical min(dist*k+cid) rule, two implementations."""
    from checkatron_spark.operators.pq import (
        _assign_residual_grid,
        _fit_coarse_cached,
        _quantized,
        coarse_assign_expr,
    )
    from checkatron_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    xq = _quantized(emb, "vec_id", "embedding", 10000)
    coarse = _fit_coarse_cached(
        xq, id_col="vec_id", n_cells=8, iters=2, scale=10000,
        fit_sample=256, cache_key=None,
    )
    kern = sorted(map(tuple, _assign_residual_grid(
        xq, coarse, residual=False
    ).select("vec_id", "cell").collect()))
    expr = sorted(map(tuple, xq.select(
        "vec_id", coarse_assign_expr(coarse).alias("cell")
    ).collect()))
    assert kern == expr and len(kern) > 0


def test_r14_shared_pipeline_equivalences(spark):
    """Round-14 optimization seams (OPTIMIZATION_r14.md): the recall
    audit computes the flat-PQ pipeline ONCE at topk=shortlist and
    derives both PQ methods from it. Pin the three equivalences that
    restructuring relies on:

    - topk prefix: pq_adc_topk(topk=3) == the rank<=3 slice of
      pq_adc_topk(topk=10) (same deterministic total order);
    - rerank seam: rerank_exact(shortlist) == pq_adc_rerank_topk;
    - encode passthrough: pq_encode_grid(passthrough=('cell',)) == the
      old encode⋈cell join shape it replaced in ivfpq_topk.
    """
    from checkatron_spark.operators.pq import (
        _assign_residual_grid,
        _quantized,
        fit_codebooks_grid,
        pq_adc_rerank_topk,
        pq_encode_grid,
        rerank_exact,
    )

    rows = _clustered_rows()
    emb = _vecs(spark, rows)
    queries = emb.filter(F.col("vec_id") % 50 == 0)

    adc10 = pq_adc_topk(emb, queries, m=2, k=4, iters=2, topk=10)
    adc3 = pq_adc_topk(emb, queries, m=2, k=4, iters=2, topk=3)
    assert sorted(map(tuple, adc10.filter(F.col("rank") <= 3).collect())) \
        == sorted(map(tuple, adc3.collect()))

    seam = rerank_exact(
        adc10.select("query_id", "neighbor_id"), emb, queries, topk=3
    )
    full = pq_adc_rerank_topk(
        emb, queries, m=2, k=4, iters=2, shortlist=10, topk=3
    )
    assert sorted(map(tuple, seam.collect())) \
        == sorted(map(tuple, full.collect()))

    xq = _quantized(emb, "vec_id", "embedding", 10000)
    coarse = fit_codebooks_grid(xq, id_col="vec_id", m=1, k=4, iters=2)[0]
    res = _assign_residual_grid(xq, coarse, id_col="vec_id")
    books = fit_codebooks_grid(
        res.select("vec_id", "_x"), id_col="vec_id", m=2, k=4, iters=2
    )
    carried = pq_encode_grid(
        res.select("vec_id", "cell", "_x"), books, id_col="vec_id",
        passthrough=("cell",),
    ).select("vec_id", "s", "code", "cell")
    joined = pq_encode_grid(
        res.select("vec_id", "_x"), books, id_col="vec_id"
    ).join(res.select("vec_id", "cell"), "vec_id") \
        .select("vec_id", "s", "code", "cell")
    assert sorted(map(tuple, carried.collect())) \
        == sorted(map(tuple, joined.collect()))


def test_r14_shared_index_equivalences(spark, tmp_path, monkeypatch):
    """The audit's shared-index seam (round 14): ivf_grid_topk and
    ivfpq_topk fed a prebuilt ivf_grid_index return exactly what their
    self-building paths return — including the residual derivation
    zip_with(_x, centroid[cell], a - b) vs the kernel's X - cents[cell]."""
    import checkatron_spark.operators.pq as P
    from checkatron_spark import model_cache

    monkeypatch.setattr(model_cache, "ROOT", str(tmp_path))
    rows = _clustered_rows()
    emb = _vecs(spark, rows)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    params = dict(n_cells=4, iters=2, scale=10000, fit_sample=64)
    # warm the caches so the injected-index path is actually taken
    P.ivfpq_topk(emb, queries, m=2, k=4, cache_key="t", **params).collect()

    index, coarse = P.ivf_grid_index(emb, cache_key="t", **params)
    for kw in (dict(index=index, coarse=coarse), {}):
        got_ivf = sorted(map(tuple, P.ivf_grid_topk(
            emb, queries, n_probe=2, topk=3, cache_key="t", **params, **kw
        ).collect()))
        got_pq = sorted(map(tuple, P.ivfpq_topk(
            emb, queries, n_probe=2, m=2, k=4, topk=3, cache_key="t",
            **params, **kw
        ).collect()))
        if not kw:
            assert got_ivf == base_ivf and got_pq == base_pq
        else:
            base_ivf, base_pq = got_ivf, got_pq
    assert base_ivf and base_pq
