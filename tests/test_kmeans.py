"""Unit tests for the exact-arithmetic Lloyd k-means
(operators/kmeans.py) — a hand-computed 2-D fixture pins the quantization,
argmin tie-break, and centroid re-quantization arithmetic; the
empty-cluster case pins the keep-previous-centroid fallback. The
kmeans_domains oracle pins engine parity at the fixtures' scale."""

from __future__ import annotations

from checkatron_spark.operators.kmeans import kmeans_assign


def _assign(spark, rows, **kw):
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return {
        r.vec_id: (r.cluster_id, r.dist)
        for r in kmeans_assign(df, **kw).collect()
    }


def test_kmeans_hand_computed_two_rounds(spark):
    # scale 1000: x = [0,0], [1,0], [1000,1000], [1001,1000]
    # init c0=[0,0], c1=[1,0]
    # round 1: p0->c0; p1,p2,p3 -> c1; refit c1 = [667, 667]
    # round 2: p0,p1 -> c0; p2,p3 -> c1 (exact distances below)
    rows = [
        (0, [0.0, 0.0]),
        (1, [0.001, 0.0]),
        (2, [1.0, 1.0]),
        (3, [1.001, 1.0]),
    ]
    out = _assign(spark, rows, k=2, iters=2, scale=1000)
    assert out[0] == (0, 0)
    assert out[1] == (0, 1)
    assert out[2] == (1, 333 * 333 + 333 * 333)
    assert out[3] == (1, 334 * 334 + 333 * 333)


def test_kmeans_tie_breaks_to_lowest_cluster_id(spark):
    # both centroids identical -> every point equidistant -> all pick cid 0
    rows = [(0, [1.0, 1.0]), (1, [1.0, 1.0]), (2, [5.0, 5.0])]
    out = _assign(spark, rows, k=2, iters=1, scale=1000)
    assert all(cid == 0 for cid, _ in out.values())


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    # round 1: identical init centroids -> every point ties to cid 0, so
    # cid 1 is EMPTY and must keep its init centroid [0,0] through the
    # refit. That surviving centroid then wins the origin points back in
    # round 2 (d=0 beats the moved c0 at [33,0]), and by round 3 the two
    # clusters have separated cleanly: origin -> cid 1, far point -> cid 0.
    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [0.1, 0.0])]
    out = _assign(spark, rows, k=2, iters=3, scale=1000)
    assert out[0] == (1, 0)
    assert out[1] == (1, 0)
    assert out[2] == (0, 0)


def test_kmeans_deterministic_across_runs(spark):
    rows = [(i, [float(i % 7), float(i % 3)]) for i in range(40)]
    a = _assign(spark, rows, k=4, iters=3, scale=100)
    b = _assign(spark, rows, k=4, iters=3, scale=100)
    assert a == b


def test_arrow_and_sql_kernels_bit_identical(spark):
    """VERDICT r5 item 4: the Arrow numpy kernel must reproduce the
    Catalyst formulation EXACTLY — same int64 grid arithmetic, same
    min(dist*k+cid) argmin/tie-break — across multiple Lloyd rounds on
    real fixture embeddings."""
    import os

    import pytest

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver parquet fixtures not available")
    from checkatron_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf)
    a = {
        (r.vec_id, r.cluster_id, r.dist)
        for r in kmeans_assign(emb, k=5, iters=3, scale=10000).collect()
    }
    s = {
        (r.vec_id, r.cluster_id, r.dist)
        for r in kmeans_assign(
            emb, k=5, iters=3, scale=10000, kernel="sql"
        ).collect()
    }
    assert a == s and len(a) == emb.count()


def test_arrow_kernel_overflow_guard(spark):
    """numpy wraps where ANSI raises — the kernel must catch the BIGINT
    bound itself rather than silently corrupt an assignment."""
    import pytest

    big = float(2**31)
    df = spark.createDataFrame(
        [(1, [big, -big]), (2, [-big, big]), (3, [big, big])],
        "vec_id int, embedding array<double>",
    )
    with pytest.raises(Exception, match="grid bound exceeded"):
        kmeans_assign(df, k=2, iters=1, scale=10000).collect()


def test_arrow_kernel_null_vector_parity(spark):
    """A NULL embedding must produce the SAME row through both kernels
    (NULL cluster/dist — the Catalyst lambda folds NULL arrays to NULL),
    not crash the numpy path."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    a = sorted(
        ((r.vec_id, r.cluster_id, r.dist) for r in
         kmeans_assign(df, k=2, iters=2).collect()),
    )
    s = sorted(
        ((r.vec_id, r.cluster_id, r.dist) for r in
         kmeans_assign(df, k=2, iters=2, kernel="sql").collect()),
    )
    assert a == s and len(a) == 3
    assert next(t for t in a if t[0] == 2)[1:] == (None, None)


def test_fewer_vectors_than_k_parity(spark):
    """ADVICE r6: k=4 over 2 vectors crashed the arrow kernel (cids was
    sized np.arange(k) while M had only len(seeds) rows). Both kernels
    must return the same valid assignments when seeds < k."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    a = sorted(
        (r.vec_id, r.cluster_id, r.dist)
        for r in kmeans_assign(df, k=4, iters=2).collect()
    )
    s = sorted(
        (r.vec_id, r.cluster_id, r.dist)
        for r in kmeans_assign(df, k=4, iters=2, kernel="sql").collect()
    )
    assert a == s == [(1, 0, 0), (2, 1, 0)]


def test_element_level_null_parity(spark):
    """ADVICE r6: a NULL ELEMENT inside an otherwise non-NULL vector must
    take the same NULL-status route as a whole-NULL vector in BOTH kernels
    (the Catalyst zip_with folds element NULLs to NULL dist); the arrow
    kernel used to crash in astype(int64)."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, None]), (3, None), (4, [0.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    a = sorted(
        (r.vec_id, r.cluster_id, r.dist)
        for r in kmeans_assign(df, k=2, iters=2).collect()
    )
    s = sorted(
        (r.vec_id, r.cluster_id, r.dist)
        for r in kmeans_assign(df, k=2, iters=2, kernel="sql").collect()
    )
    assert a == s and len(a) == 4
    assert next(t for t in a if t[0] == 2)[1:] == (None, None)
    assert next(t for t in a if t[0] == 3)[1:] == (None, None)


def test_kmeans_is_one_subspace_pq(spark):
    """k-means and the PQ codebook fit are one Lloyd loop: on the same grid
    rows, kmeans_assign's cluster ids equal the cells of a one-subspace
    PQ codebook (fit_codebooks_grid(m=1)) under _assign_residual_grid."""
    import os

    import pytest

    sf = "/root/testdata/sf0.01"
    if not os.path.isdir(sf):
        pytest.skip("driver parquet fixtures not available")
    from checkatron_spark.operators.pq import (
        _assign_residual_grid,
        _quantized,
        fit_codebooks_grid,
    )
    from checkatron_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf)
    xq = _quantized(emb, "vec_id", "embedding", 10000)
    same_rows = emb.join(xq.select("vec_id"), "vec_id")
    n = xq.count()
    for k, iters in ((8, 3), (4, 2)):
        km = {
            (r.vec_id, r.cluster_id)
            for r in kmeans_assign(same_rows, k=k, iters=iters).collect()
        }
        (book,) = fit_codebooks_grid(xq, m=1, k=k, iters=iters)
        pq = {
            (r.vec_id, r.cell)
            for r in _assign_residual_grid(
                xq, book, residual=False
            ).collect()
        }
        assert km == pq and len(km) == n
