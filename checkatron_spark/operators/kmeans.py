"""Exact-integer Lloyd k-means: the one fit behind k-means and PQ.

MLlib's ``KMeans`` (used by the IVF quantizer in ``similarity.py``) is the
right production tool, but its float accumulation order makes the fitted
centroids — and therefore every assignment — run-to-run and engine-to-engine
nondeterministic, so it can never be graded against a SQL oracle. This
module is the ORACLE-CHECKABLE formulation a corpus pipeline uses when the
cluster assignment must be reproducible bit-for-bit (leakage-safe split
keys, cached domain tags, audit trails, PQ codebooks):

- embeddings are quantized once to a BIGINT grid (:func:`grid`,
  ``floor(v·scale + 0.5)``; float32 → float64 widening is exact);
- squared-euclidean distances are exact BIGINT sums over the grid;
- the argmin is encoded as ``min(dist·k + cid)`` — one integer min, with the
  lowest cluster id as the deterministic tie-break;
- each new centroid component is re-quantized to the SAME grid via one IEEE
  double division + ``floor(x + 0.5)`` (identical on any engine), so every
  iteration starts from integers again; an emptied cluster keeps its
  previous centroid.

:func:`lloyd` fits a list of equal-width subspace slices of the vectors at
once. k-means is one full-width slice (:func:`kmeans_assign`); product
quantization is ``m`` slices — k-means run once per subspace (Jégou et al.,
TPAMI 2011; ``operators/pq.py``). Slices are independent, so one pass per
round serves all of them. A fixed iteration count (no convergence test)
keeps the plan static and the oracle expressible as an unrolled CTE chain.

Scale shape: seeding is one collect of the k lowest-id vectors. Each round
is one assignment pass — the numpy core :func:`nearest` over Arrow batches,
centroids riding the task closure, zero joins — then one map-side-combining
groupBy on (slice, code, component) collected to the driver: k·dims
integers, the standard centroid-broadcast pattern of every distributed
Lloyd implementation. ``kmeans_assign(kernel="sql")`` runs every assignment
as the pure-Catalyst broadcast-nested-loop formulation instead (~13
µs/element interpreted lambda — the oracle-shaped plan, bit-identical
results, no Python workers).

Reference parity note: the reference (simbo1905/checkatron) has no
clustering surface — this belongs to the large-scale training-data mandate
(domain discovery / SemDeDup-style cluster-then-dedup prep).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["kmeans_assign"]


def grid(vec_col: str, scale: int):
    """``vec_col`` quantized to the BIGINT grid, ``floor(v·scale + 0.5)``."""
    return F.expr(
        f"transform({vec_col}, v -> "
        f"CAST(floor(CAST(v AS DOUBLE) * {scale}.0 + 0.5) AS BIGINT))"
    )


def nearest(X, books):
    """Exact nearest centroid per slice: ``X`` is (n, m·sub) int64,
    ``books`` is (m, c, sub) int64; returns (codes int32, dists int64),
    both (n, m), by the ``min(dist·c + cid)`` integer argmin.

    numpy int64 matches BIGINT bit-for-bit as long as nothing overflows,
    but numpy WRAPS where ANSI Spark raises, so the bound
    ``sub·(2·max|x|)²·c < 2⁶³`` is enforced here — at the default 1e4 grid
    over unit-ish embeddings the headroom is ~8 orders of magnitude."""
    import numpy as np

    m, c, sub = books.shape
    if X.shape[1] != m * sub:
        raise ValueError(
            f"mixed embedding dimensions: a vector has {X.shape[1]}, the "
            f"centroids have {m * sub}"
        )
    amax = max(
        int(np.abs(X).max(initial=0)), int(np.abs(books).max(initial=0))
    )
    if sub * (2 * amax) ** 2 >= (2**63 - 1) // max(c, 1):
        raise ValueError(
            "BIGINT grid bound exceeded — lower `scale` (numpy would wrap "
            "where ANSI raises)"
        )
    Xs = X.reshape(len(X), m, sub)
    keys = np.empty((len(X), m), dtype=np.int64)
    for s in range(m):
        diff = Xs[:, s, None, :] - books[s][None, :, :]
        key = np.einsum("nkd,nkd->nk", diff, diff) * c + np.arange(c)
        keys[:, s] = key.min(axis=1)
    return (keys % c).astype(np.int32), keys // c


def _assign_arrow(xq: DataFrame, id_col: str, books) -> DataFrame:
    """Assignment of (id_col, _x) to ``books`` by :func:`nearest` over
    Arrow batches: (id_col, _x, _code array<int> one per slice, _dist
    bigint summed over slices). NULL and element-NULL vectors get NULL
    ``_code``/``_dist`` rows — the SQL kernel's zip_with folds them to a
    NULL distance the same way."""
    import numpy as np
    import pandas as pd

    B = np.array(books, dtype=np.int64)
    id_type = xq.schema[id_col].dataType.simpleString()

    def unassigned(rows, xs):
        return pd.DataFrame(
            {
                id_col: rows[id_col],
                "_x": xs,
                "_code": [None] * len(rows),
                "_dist": pd.array([None] * len(rows), dtype="Int64"),
            }
        )

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # np.stack would crash on None: route NULL rows around the math
            isnull = pdf["_x"].isna()
            if isnull.any():
                yield unassigned(pdf[isnull], pdf["_x"][isnull])
                if isnull.all():
                    continue
                pdf = pdf[~isnull]
            X = np.stack(pdf["_x"].to_numpy())
            if X.dtype != np.int64:
                # element-level NULLs: Arrow surfaces a bigint list with a
                # null element as float64 NaN (or object None) cells
                elem_null = pd.isna(X).any(axis=1)
                if elem_null.any():
                    bad = pdf[elem_null]
                    # NaN cells won't round-trip to array<bigint>; rebuild
                    # as nullable int lists (rare rows)
                    yield unassigned(bad, [
                        [None if pd.isna(v) else int(v) for v in a]
                        for a in bad["_x"]
                    ])
                    if elem_null.all():
                        continue
                    pdf = pdf[~elem_null]
                    X = X[~elem_null]
                # integral floats are exact up to 2^53; the BIGINT grid
                # bound is far tighter, so this cast is lossless
                X = X.astype(np.int64)
            codes, dists = nearest(X, B)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "_x": pdf["_x"],
                    "_code": list(codes),
                    "_dist": dists.sum(axis=1),
                }
            )

    return xq.mapInPandas(
        kernel,
        schema=(
            f"{id_col} {id_type}, _x array<bigint>, "
            "_code array<int>, _dist bigint"
        ),
    )


def _assign_sql(xq: DataFrame, id_col: str, books) -> DataFrame:
    """The pure-Catalyst twin of :func:`_assign_arrow` for one full-width
    slice: a broadcast nested loop over the centroid rows, the argmin
    collapsed in the same map-side groupBy by the ``dist·c + cid``
    encoding."""
    (book,) = books
    c = len(book)
    cdf = xq.sparkSession.createDataFrame(
        list(enumerate(book)), "cid int, _m array<bigint>"
    )
    dists = xq.join(F.broadcast(cdf)).select(
        F.col(id_col),
        "_x",
        F.expr(
            "aggregate(zip_with(_x, _m, (a, b) -> (a - b) * (a - b)), "
            "0L, (acc, v) -> acc + v)"
        ).alias("_d"),
        "cid",
    )
    return dists.groupBy(id_col, "_x").agg(
        F.min(F.col("_d") * c + F.col("cid")).alias("_key")
    ).select(
        F.col(id_col),
        "_x",
        F.array((F.col("_key") % c).cast("int")).alias("_code"),
        # non-negative: truncating div == floor div on any engine
        F.expr(f"CAST(_key div {c} AS BIGINT)").alias("_dist"),
    )


def lloyd(
    xq: DataFrame,
    *,
    id_col: str,
    k: int,
    iters: int,
    m: int = 1,
    assign=_assign_arrow,
) -> list[list[list[int]]]:
    """Fit ``m`` codebooks over the equal-width slices of ``xq``'s grid
    vectors (id_col, _x array<bigint>); returns ``books[s][cid]``.

    Seeds are the ``k`` vectors with the lowest ids (the only seeding that
    needs no randomness and no data-dependent tie ambiguity), fewer when
    there are fewer. Vectors with a NULL anywhere can't seed (one NULL
    component poisons the centroid's distances) and add nothing to a
    refit. ``iters − 1`` refit rounds follow, each one ``assign`` pass
    over all slices and one collect. ``xq`` should be persisted: every
    round reads it."""
    seeds = (
        xq.filter(
            F.col("_x").isNotNull()
            & ~F.exists("_x", lambda v: v.isNull())
        )
        .orderBy(F.col(id_col).asc())
        .limit(k)
        .collect()
    )
    if not seeds:
        return [[] for _ in range(m)]
    sub = len(seeds[0]._x) // m
    books = [
        [list(r._x[s * sub : (s + 1) * sub]) for r in seeds]
        for s in range(m)
    ]
    for _ in range(iters - 1):
        # re-fit: explode components, sum/count per (slice, code,
        # component) — k·dims cells, map-side combined; re-quantized back
        # to the grid
        refit = (
            assign(xq, id_col, books)
            .select("_code", F.posexplode("_x").alias("_j", "_v"))
            .withColumn("_s", F.expr(f"CAST(_j div {sub} AS INT)"))
            .groupBy("_s", F.expr("get(_code, _s)").alias("_c"), "_j")
            .agg(F.sum("_v").alias("_sum"), F.count(F.lit(1)).alias("_n"))
            .select(
                "_s",
                "_c",
                "_j",
                F.expr(
                    "CAST(floor(CAST(_sum AS DOUBLE) / CAST(_n AS DOUBLE) "
                    "+ 0.5) AS BIGINT)"
                ).alias("_m"),
            )
            .collect()
        )
        cells: dict[tuple[int, int], dict[int, int]] = {}
        for r in refit:
            cells.setdefault((r._s, r._c), {})[r._j - r._s * sub] = r._m
        # an emptied cluster keeps its previous centroid (standard Lloyd
        # fallback; deterministic because "empty" is itself deterministic)
        books = [
            [
                [cells[s, c][j] for j in range(sub)]
                if (s, c) in cells
                else prev
                for c, prev in enumerate(book)
            ]
            for s, book in enumerate(books)
        ]
    return books


def kmeans_assign(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    scale: int = 10000,
    kernel: str = "arrow",
) -> DataFrame:
    """Assign every vector to one of ``k`` clusters after ``iters`` exact
    Lloyd rounds: :func:`lloyd` over one full-width slice, then its final
    assignment.

    Returns (id_col, cluster_id INT, dist BIGINT) — ``dist`` is the exact
    squared distance on the quantized grid, so downstream consumers can
    threshold or re-rank without re-deriving it. NULL and element-NULL
    vectors get NULL cluster_id and dist.

    ``kernel`` selects the assignment implementation for every round —
    bit-identical results either way (both are exact int64 on the same
    grid, pinned by tests/test_kmeans.py): ``"arrow"`` (default) runs the
    numpy core (the 100 TB path); ``"sql"`` keeps the pure-Catalyst
    broadcast-join formulation whose plan IS the unrolled CTE oracle shape
    (and needs no Python workers)."""
    from checkatron_spark.session import scratch_persist

    assign = {"arrow": _assign_arrow, "sql": _assign_sql}.get(kernel)
    if assign is None:
        raise ValueError(f"kmeans_assign: unknown kernel {kernel!r}")
    # persisted: xq is re-read by every round's assignment AND refit
    # collect — without it the source scan + quantization re-executes
    # ~2x per Lloyd iteration
    xq = df.select(
        F.col(id_col), grid(vec_col, scale).alias("_x")
    ).transform(scratch_persist)
    books = lloyd(xq, id_col=id_col, k=k, iters=iters, assign=assign)
    return assign(xq, id_col, books).select(
        F.col(id_col),
        F.col("_code")[0].alias("cluster_id"),
        F.col("_dist").alias("dist"),
    )
