"""IVF ANN: recall against the exact brute-force ranking, shape contract,
and cell-bounded probe behavior."""

from __future__ import annotations

from pyspark.sql import functions as F

from checkatron_spark.operators.similarity import ann_bruteforce_topk, ivf_topk
from checkatron_spark.sources.tables import load_table

REQUIRES_TESTDATA = True  # auto-skip without driver fixtures (conftest)

SF_DIR = "/root/testdata/sf0.001"


def test_ivf_recall_vs_bruteforce(spark):
    emb = load_table(spark, "embeddings", SF_DIR)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    exact = ann_bruteforce_topk(emb, queries, k=3)
    approx = ivf_topk(emb, queries, k=3, n_cells=8, n_probe=4)

    truth: dict[int, set[int]] = {}
    for r in exact.collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got: dict[int, set[int]] = {}
    for r in approx.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)

    assert set(got) == set(truth)  # every query answered
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    recall = hits / total
    # probing half the cells on label-clustered fixtures: recall well
    # above chance; exact bound depends on the quantizer, so pin loosely
    assert recall >= 0.5, f"recall {recall:.2f}"


def test_ivf_output_contract(spark):
    emb = load_table(spark, "embeddings", SF_DIR)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    out = ivf_topk(emb, queries, k=3, n_cells=8, n_probe=2)
    assert out.columns == ["query_id", "neighbor_id", "rank", "cosine_sim"]
    per_q = out.groupBy("query_id").count().collect()
    assert all(r["count"] <= 3 for r in per_q)
    assert out.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0


def test_ivf_exact_equals_bruteforce(spark):
    # exact=True must reproduce brute force bit-for-bit (same ranks, same
    # ids) regardless of quantizer quality — the bound-qualified extra
    # probes guarantee it; this is what the driver oracle checks at sf0.01
    emb = load_table(spark, "embeddings", SF_DIR)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    exact = ann_bruteforce_topk(emb, queries, k=3)
    ivf = ivf_topk(emb, queries, k=3, n_cells=8, n_probe=2, exact=True)
    a = {tuple(r) for r in exact.collect()}
    b = {tuple(r) for r in ivf.collect()}
    assert a == b


def test_zero_norm_and_null_embeddings_do_not_crash_ann(spark):
    """Review r9: Spark 4 defaults to ANSI mode, where one all-zeros (or
    NULL) embedding made every cosine operator throw DIVIDE_BY_ZERO.
    Degenerate vectors have no defined cosine — every ANN surface must
    DROP them (embedding_audit is the tool that locates them) and still
    return exact results for the healthy rows."""
    from pyspark.sql import functions as F

    from checkatron_spark.operators.similarity import (
        ann_blocked_topk,
        ann_bruteforce_topk,
        ann_lsh_topk,
        ivf_topk,
        neardup_embedding_cosine,
    )

    rows = [
        (1, [1.0, 0.0], "a"),
        (2, [0.9, 0.1], "a"),
        (3, [0.0, 1.0], "a"),
        (4, [0.0, 0.0], "a"),   # zero norm
        (5, None, "a"),          # NULL embedding
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label string"
    )
    queries = emb.filter(F.col("vec_id").isin(1, 4, 5))

    bf = ann_bruteforce_topk(emb, queries, k=2).collect()
    assert {r.query_id for r in bf} == {1}  # degenerate queries dropped
    assert all(r.neighbor_id in (2, 3) for r in bf)

    bl = ann_blocked_topk(emb, queries, block_col="label", k=2).collect()
    assert {r.query_id for r in bl} == {1}

    iv = ivf_topk(emb, queries, k=2, n_cells=2, n_probe=2, exact=True)
    assert {r.query_id for r in iv.collect()} == {1}

    ls = ann_lsh_topk(emb, queries, k=2, num_tables=4, bucket_length=1.0)
    assert {r.query_id for r in ls.collect()} == {1}

    nd = neardup_embedding_cosine(emb, threshold=0.5).collect()
    assert all({r.id_a, r.id_b} <= {1, 2, 3} for r in nd)
    nd_blk = neardup_embedding_cosine(
        emb, threshold=0.5, block_col="label"
    ).collect()
    assert sorted((r.id_a, r.id_b) for r in nd_blk) == sorted(
        (r.id_a, r.id_b) for r in nd
    )


def test_allpairs_cosine_keeps_string_ids(spark):
    """Review r9: the numpy all-pairs kernel force-cast ids to long,
    crashing string ids under ANSI — ids must stay opaque."""
    from checkatron_spark.operators.similarity import neardup_embedding_cosine

    emb = spark.createDataFrame(
        [("doc-1", [1.0, 0.0]), ("doc-2", [0.99, 0.01]), ("doc-3", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    out = neardup_embedding_cosine(emb, threshold=0.9).collect()
    assert [(r.id_a, r.id_b) for r in out] == [("doc-1", "doc-2")]


def test_ivf_exact_still_matches_bruteforce_after_norm_precompute(spark):
    """The norm-precompute rework must keep exact mode bit-identical to
    brute force (same sequential-fold arithmetic, reassociated only at
    the pair level: dot/(qn*cn) in both)."""
    from pyspark.sql import functions as F

    from checkatron_spark.operators.similarity import (
        ann_bruteforce_topk,
        ivf_topk,
    )
    from checkatron_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    brute = {tuple(r) for r in ann_bruteforce_topk(emb, queries, k=3).collect()}
    ivf = {
        tuple(r)
        for r in ivf_topk(
            emb, queries, k=3, n_cells=8, n_probe=2, exact=True
        ).collect()
    }
    assert ivf == brute and len(brute) > 0


def test_quantizer_disk_cache_roundtrip(spark, tmp_path, monkeypatch):
    """Round 12 (VERDICT r11 #5): a cache_key persists the fitted model;
    a second fit call with the same key LOADS identical centroids (no
    Lloyd jobs), a different key refits, and a corrupted cache entry
    falls back to a refit instead of erroring."""
    import os

    from pyspark.sql import functions as F

    from checkatron_spark import model_cache
    from checkatron_spark.operators import similarity as S

    monkeypatch.setattr(model_cache, "ROOT", str(tmp_path))
    vecs = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("double"),
            (F.col("id") % 11).cast("double"),
            F.lit(1.0),
        ).alias("embedding"),
    )
    m1 = S.fit_ivf_quantizer(vecs, n_cells=4, seed=42, cache_key="k1")
    cache_dirs = os.listdir(os.path.join(str(tmp_path), "ivf_quantizer"))
    assert len(cache_dirs) == 1
    m2 = S.fit_ivf_quantizer(vecs, n_cells=4, seed=42, cache_key="k1")
    c1 = [list(map(float, c)) for c in m1.clusterCenters()]
    c2 = [list(map(float, c)) for c in m2.clusterCenters()]
    assert c1 == c2
    # loaded model drives the search to the same result as the fresh fit
    q = vecs.filter(F.col("vec_id") % 40 == 0)
    r1 = sorted(map(tuple, S.ivf_topk(vecs, q, k=2, exact=True, model=m1).collect()))
    r2 = sorted(map(tuple, S.ivf_topk(vecs, q, k=2, exact=True, model=m2).collect()))
    assert r1 == r2
    # different corpus key -> a second cache entry
    S.fit_ivf_quantizer(vecs, n_cells=4, seed=42, cache_key="k2")
    assert len(os.listdir(os.path.join(str(tmp_path), "ivf_quantizer"))) == 2
    # corrupt entry: truncate its metadata -> silent refit, same centroids
    import shutil

    victim = os.path.join(str(tmp_path), "ivf_quantizer", cache_dirs[0])
    shutil.rmtree(os.path.join(victim, "data"), ignore_errors=True)
    m3 = S.fit_ivf_quantizer(vecs, n_cells=4, seed=42, cache_key="k1")
    c3 = [list(map(float, c)) for c in m3.clusterCenters()]
    assert c3 == c1


def test_quantizer_cache_rejects_planted_mismatch(spark, tmp_path, monkeypatch):
    """ADVICE r12: the scratch root defaults to world-readable /tmp, so a
    loaded model must actually be a quantizer for THESE params — a
    planted entry with the wrong k (or seed) is refit, not trusted."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from checkatron_spark import model_cache
    from checkatron_spark.operators import similarity as S

    monkeypatch.setattr(model_cache, "ROOT", str(tmp_path))
    vecs = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("double"),
            (F.col("id") % 11).cast("double"),
            F.lit(1.0),
        ).alias("embedding"),
    )
    S.fit_ivf_quantizer(vecs, n_cells=3, seed=42, cache_key="k1")
    k3_dir = os.path.join(
        str(tmp_path), "ivf_quantizer",
        os.listdir(os.path.join(str(tmp_path), "ivf_quantizer"))[0],
    )
    # plant the k=3 model at the path the k=4 fit would use
    k4_path = model_cache.entry(
        model_cache.IVF_QUANTIZER, "k1", "kmeans", (4, 42, 5, None)
    )
    os.makedirs(os.path.dirname(k4_path), exist_ok=True)
    shutil.copytree(k3_dir, k4_path)
    m = S.fit_ivf_quantizer(vecs, n_cells=4, seed=42, cache_key="k1")
    assert m.getK() == 4


def test_ivf_grid_full_probe_equals_bruteforce_ranks(spark):
    """Round 14 (VERDICT r13 #2): the grid-IVF approximate search
    converges to the exact answer when every cell is probed — probing
    all n_cells leaves no cell unvisited, so the candidate set is the
    whole corpus and the exact integer grid distance ranks it exactly
    like brute force (grid ordering == cosine-distance ordering on
    equal-norm synthetic data is not assumed; the pin is against the
    grid-distance brute ranking computed inline)."""
    from pyspark.sql import functions as F

    from checkatron_spark.operators.pq import _quantized, ivf_grid_topk

    vecs = spark.range(120).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[((F.col("id") * (i + 3)) % 17).cast("double") / 10.0
              for i in range(8)]
        ).alias("embedding"),
    )
    q = vecs.filter(F.col("vec_id") % 40 == 0)
    full = ivf_grid_topk(
        vecs, q, n_cells=4, n_probe=4, iters=2, topk=3, fit_sample=32
    ).collect()
    # inline exact grid-distance brute ranking
    xq = _quantized(vecs, "vec_id", "embedding", 10000)
    qx = xq.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
        "_x", "_qx"
    ).join(q.select(F.col("vec_id").alias("query_id")), "query_id")
    dist = F.expr(
        "aggregate(zip_with(_qx, _x, (a, b) -> (a - b) * (a - b)), 0L, "
        "(acc, v) -> acc + v)"
    )
    brute = (
        xq.crossJoin(qx)
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                dist.alias("d"))
        .collect()
    )
    want = {}
    for r in sorted(brute, key=lambda r: (r.query_id, r.d, r.neighbor_id)):
        want.setdefault(r.query_id, [])
        if len(want[r.query_id]) < 3:
            want[r.query_id].append((r.neighbor_id, r.d))
    got = {}
    for r in sorted(full, key=lambda r: (r.query_id, r.rank)):
        got.setdefault(r.query_id, []).append((r.neighbor_id, r.ivf_dist))
    assert got == want
    # fewer probes only ever LOSE candidates (subset property)
    part = ivf_grid_topk(
        vecs, q, n_cells=4, n_probe=1, iters=2, topk=3, fit_sample=32
    ).collect()
    full_pairs = {(r.query_id, r.neighbor_id, r.ivf_dist) for r in full}
    for r in part:
        # every returned distance is a true distance (never fabricated)
        assert (r.query_id, r.neighbor_id, r.ivf_dist) in {
            (b.query_id, b.neighbor_id, b.d) for b in brute
        } or (r.query_id, r.neighbor_id, r.ivf_dist) in full_pairs


def test_clear_refits_memoized_quantizer(spark, tmp_path, monkeypatch):
    """model_cache.clear() drops the in-process tier as well as the disk
    tier: a repeat q_ann_ivf fits nothing, but the first call after
    clear() runs KMeans.fit again (the cold-fit bench rows rely on it)."""
    from pyspark.ml.clustering import KMeans

    from checkatron_spark import model_cache
    from checkatron_spark import pipelines as P

    monkeypatch.setattr(model_cache, "ROOT", str(tmp_path))
    fits = {"n": 0}
    real_fit = KMeans.fit

    def counted_fit(self, *a, **kw):
        fits["n"] += 1
        return real_fit(self, *a, **kw)

    monkeypatch.setattr(KMeans, "fit", counted_fit)
    P.q_ann_ivf(spark, SF_DIR)  # warm both tiers
    warm = fits["n"]
    P.q_ann_ivf(spark, SF_DIR)
    assert fits["n"] == warm, "a warm call must not refit"
    model_cache.clear()
    P.q_ann_ivf(spark, SF_DIR)
    assert fits["n"] == warm + 1, "the first call after clear() must refit"
