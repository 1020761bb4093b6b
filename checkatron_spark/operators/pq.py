"""Product quantization (PQ) for embedding compression + ADC top-k search.

The 100 TB ANN memory path (Jégou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011 — the FAISS IVF-PQ building block): split each
vector into ``m`` contiguous subspaces, k-means each subspace independently
(codebook of ``k`` centroids per subspace), and store every vector as ``m`` small
integer codes — 64 float32 dims (256 bytes) compress to m=4 bytes, so a
corpus whose raw embeddings need a cluster's worth of RAM fits its PQ codes
in one executor's cache. Search uses ASYMMETRIC DISTANCE COMPUTATION (ADC):
the query stays exact, a per-query table of query-subvector-to-centroid
distances is built once (m·k entries), and every corpus vector's distance is
m table lookups — no float math per candidate.

Exact-arithmetic formulation (the oracle-checkable twin of MLlib-style
float PQ): vectors quantize once to the BIGINT grid, the codebooks are the
exact-integer Lloyd of operators/kmeans.py run over ``m`` subspace slices
(integer ``min(dist·k + cid)`` argmin, deterministic lowest-id seeding),
and ADC scores are exact BIGINT sums — every code and every distance
reproduces bit-for-bit in ANSI SQL (unrolled per-subspace CTE chains), so
the DuckDB oracle grades the whole index+search pipeline, not a recall
proxy.

Scale shape:
- fit: per iteration, one assignment pass over all m subspaces and one
  map-side-combined (subspace, code, dim) groupBy; the codebooks are
  m·k·(dims/m) integers on the driver — the same loop as k-means. At corpus
  scale the fit input is a BOUNDED deterministic sample (``fit_sample``
  — the FAISS discipline: codebooks train on ~1e5 vectors, never the
  corpus), and the fitted codebooks PERSIST in the model cache keyed by
  corpus identity (``cache_key``: fit once per corpus version, every
  later process loads instead of refitting; corrupt/mismatched entries
  fall back to a refit — checkatron_spark/model_cache.py).
- encode: one Arrow-batched kernel pass over the corpus (codebooks ride
  the task closure), emitting (id, subspace, code) rows — no joins.
- search: the per-query distance tables (|Q|·m·k rows — tiny) BROADCAST;
  corpus codes join on (subspace, code) equality, partial-aggregated per
  (query, vector), then the two-phase per-query top-k (per-partition
  row_number, then the bounded final window — the bm25_multiquery
  discipline, no single-reducer window).

Reference parity note: the reference (simbo1905/checkatron) has no vector
surface — this module belongs to the large-scale training-data mandate
(similarity search over embedding columns at corpus scale).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from checkatron_spark import model_cache
from checkatron_spark.operators.kmeans import grid, lloyd, nearest
from checkatron_spark.operators.similarity import topk_two_phase

__all__ = [
    "fit_pq_codebooks",
    "fit_codebooks_grid",
    "pq_encode",
    "pq_encode_grid",
    "pq_adc_topk",
    "pq_adc_rerank_topk",
    "rerank_exact",
    "ivfpq_topk",
    "ivf_grid_index",
    "ivf_grid_topk",
    "ivf_grid_apply_changes",
    "ivf_grid_incremental_topk",
    "ivf_occupancy_drift",
]

def _quantized(df: DataFrame, id_col: str, vec_col: str, scale: int):
    """(id, _x array<bigint>) on the BIGINT grid, degenerate embeddings
    (NULL / element-NULL / zero-norm) excluded — Spark's sequential fold
    poisons the norm to NULL on one NULL element, so the single norm
    filter implements the oracle's explicit _EMB_OK clause set."""
    norm = F.expr(
        f"sqrt(aggregate({vec_col}, 0.0D, "
        "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
    return (
        df.filter(norm > F.lit(0.0))
        .select(F.col(id_col), grid(vec_col, scale).alias("_x"))
    )


def _grid_stats(xq: DataFrame, k: int) -> int:
    """Dims + safety gates in ONE bounded aggregate job: ragged
    dimensions fail fast (mixed-dim codes would silently mis-rank), and
    the BIGINT ``min(dist·k + cid)`` argmin encoding is bounds-checked at
    FIT time — Spark's non-ANSI arithmetic would wrap silently on
    large-magnitude grids, producing garbage codebooks long before the
    encode kernel's own guard fires. The residual stage
    doubles magnitudes (x − centroid, then vs residual centroids), so the
    guard uses 4·amax per difference term — conservative for flat PQ,
    exact for IVF-PQ's worst case."""
    row = xq.select(
        F.min(F.size("_x")).alias("_lo"),
        F.max(F.size("_x")).alias("_hi"),
        F.max(
            F.expr("aggregate(_x, 0L, (acc, v) -> greatest(acc, abs(v)))")
        ).alias("_amax"),
    ).first()
    if row is None or row._lo is None:
        raise ValueError("pq: no non-degenerate vectors to fit on")
    if row._lo != row._hi:
        raise ValueError(
            f"pq: ragged embedding dimensions {[row._lo, row._hi]} — fix "
            "the corpus (mixed-dim codes would silently mis-rank)"
        )
    dims, amax = int(row._hi), int(row._amax or 0)
    if dims * (4 * amax) ** 2 >= (2**63 - 1) // max(k, 1):
        raise ValueError(
            "pq: BIGINT grid bound exceeded at fit time — lower `scale` "
            f"(dims={dims}, max|x|={amax}, k={k})"
        )
    return dims


def _fit_sample_grid(xq: DataFrame, id_col: str, n: int | None) -> DataFrame:
    """Deterministic BOUNDED fit sample: the ``n`` rows with the smallest
    ``md5(id || 'pqfit')`` digest (id tiebreak). Cross-engine by
    construction — both engines order the same lowercase-hex strings
    byte-wise — so the DuckDB oracle replays the identical sample, and
    the fit cost is O(n), corpus-independent (a top-n TakeOrdered, not a
    global sort). ``None`` keeps the full-input fit."""
    if n is None:
        return xq
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit("pqfit")))
    return xq.orderBy(h.asc(), F.col(id_col).asc()).limit(n)


def _books_valid(books, *, m: int, k: int, dims: int | None) -> bool:
    """Never trust a planted/partial/mismatched cache entry: shape must be
    exactly m x k x sub with all-int centroids (bool is an int subclass
    and is NOT a centroid value), and m·sub must equal the corpus dims
    when the caller knows them."""
    if not isinstance(books, list) or len(books) != m:
        return False
    subs = set()
    for book in books:
        if not isinstance(book, list) or len(book) != k:
            return False
        for cent in book:
            if not isinstance(cent, list) or not cent:
                return False
            if not all(
                isinstance(v, int) and not isinstance(v, bool) for v in cent
            ):
                return False
            subs.add(len(cent))
    if len(subs) != 1:
        return False
    return dims is None or next(iter(subs)) * m == dims


def _read_json(path: str):
    with open(path) as fh:
        return json.load(fh)


def _load_books(path: str, *, m: int, k: int, dims: int | None):
    """Load {"fp": fingerprint, "books": [...]} — the fingerprint must
    match the path's own (path basename IS the fingerprint), so bare-list
    entries and entries copied between keys both refit."""
    obj = model_cache.read(path, _read_json)
    if not isinstance(obj, dict):
        return None
    fp = os.path.basename(path).rsplit(".", 1)[0]
    if obj.get("fp") != fp:
        return None
    books = obj.get("books")
    return books if _books_valid(books, m=m, k=k, dims=dims) else None


def _publish_books(path: str | None, books) -> None:
    """Publish ``books`` bound to the entry's own fingerprint."""
    def write(tmp: str) -> None:
        with open(tmp, "w") as fh:
            json.dump({"fp": os.path.basename(path), "books": books}, fh)

    model_cache.publish(path, write)


def fit_pq_codebooks(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    scale: int = 10000,
    fit_sample: int | None = None,
    cache_key: str | None = None,
) -> list[list[list[int]]]:
    """Train the m per-subspace codebooks (the exact integer Lloyd of
    operators/kmeans.py over m slices: lowest-id seeding, min(dist·k+cid)
    argmin, one IEEE division + floor(+0.5) per re-quantized component,
    emptied clusters keep their previous centroid). Returns
    ``codebooks[s][cid] -> list[int]`` of length dims/m.

    ``fit_sample`` bounds the Lloyd input to a deterministic md5-ordered
    sample (see :func:`_fit_sample_grid`); ``cache_key`` persists the
    fitted codebooks to disk keyed by (corpus identity, params) — the
    fit is deterministic, so a cache hit IS the refit, job-free."""
    path = model_cache.entry(
        model_cache.PQ_BOOKS, cache_key, "pq", (m, k, iters, scale, fit_sample)
    )
    if path is not None:
        books = _load_books(path, m=m, k=k, dims=None)
        if books is not None:
            return books
    xq = _quantized(vectors, id_col, vec_col, scale)
    books = fit_codebooks_grid(
        _fit_sample_grid(xq, id_col, fit_sample),
        id_col=id_col, m=m, k=k, iters=iters,
    )
    _publish_books(path, books)
    return books


def fit_codebooks_grid(
    xq: DataFrame,
    *,
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 16,
    iters: int = 2,
) -> list[list[list[int]]]:
    """The grid-input fit: ``xq`` is (id_col, _x array<bigint>) already on
    the BIGINT grid — the seam that lets IVF-PQ train codebooks over
    RESIDUAL vectors (x − coarse centroid), which are grid integers by
    construction and must NOT be re-quantized. The fit itself is the
    shared exact Lloyd over ``m`` subspace slices (kmeans.lloyd)."""
    from checkatron_spark.session import scratch_persist

    xq = xq.transform(scratch_persist)
    dims = _grid_stats(xq, k)
    if dims % m:
        raise ValueError(
            f"pq: dims ({dims}) must divide evenly into m={m} subspaces"
        )
    books = lloyd(xq, id_col=id_col, k=k, iters=iters, m=m)
    if len(books[0]) < k:
        raise ValueError(
            f"pq: need at least k={k} non-degenerate vectors to seed"
        )
    return books


def _assign_residual_grid(
    xq: DataFrame, coarse: list[list[int]], *, id_col: str = "vec_id",
    residual: bool = True,
) -> DataFrame:
    """Coarse-cell assignment + residual computation in ONE Arrow pass:
    the exact integer argmin (kmeans.nearest, one full-width slice) runs
    map-side with the centroids in the task closure, emitting (id, cell,
    residual) with zero shuffles and zero joins — a broadcast centroid
    fan-out plus a groupBy argmin keyed on (id, vector) would shuffle every
    vector n_cells times. ``residual=False`` emits the ORIGINAL grid vector
    instead of the residual — the grid-IVF seam (ivf_grid_topk scores
    probed cells on full vectors, so re-joining xq for them would add a
    corpus-sized shuffle the kernel avoids for free)."""
    import numpy as np
    import pandas as pd

    cents = np.array(coarse, dtype=np.int64)  # (n_cells, dims)
    id_type = dict(xq.dtypes)[id_col]

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            try:
                X = np.array([list(v) for v in pdf["_x"]], dtype=np.int64)
            except ValueError as e:  # ragged rows inside one batch
                raise ValueError(
                    "ivfpq: ragged embedding dimensions — fix the corpus "
                    "(mixed-dim codes would silently mis-rank)"
                ) from e
            if X.shape[1] != cents.shape[1]:
                raise ValueError(
                    f"ivfpq: vector dims {X.shape[1]} != coarse centroid "
                    f"dims {cents.shape[1]}"
                )
            cell = nearest(X, cents[None])[0][:, 0]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cell": cell,
                    "_x": list(X - cents[cell]) if residual else list(X),
                }
            )

    return xq.mapInPandas(
        kernel, schema=f"{id_col} {id_type}, cell int, _x array<bigint>"
    )


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[int]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10000,
) -> DataFrame:
    """Corpus codes in LONG form: (id_col, s, code) — one Arrow-friendly
    row per (vector, subspace). Long form is deliberate: ADC joins on
    (s, code) equality, so the encode output is directly the join's build
    side with no array poking in the hot path."""
    xq = _quantized(vectors, id_col, vec_col, scale)
    return pq_encode_grid(xq, codebooks, id_col=id_col)


def pq_encode_grid(
    xq: DataFrame,
    codebooks: list[list[list[int]]],
    *,
    id_col: str = "vec_id",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Grid-input encode over (id_col, _x array<bigint>) — the residual
    seam for IVF-PQ (see :func:`fit_codebooks_grid`). ``passthrough``
    columns (e.g. the IVF cell id) are repeated per subspace and carried
    through the kernel, so consumers that need them avoid a corpus-sized
    join back onto the encode output (a few bytes per Arrow row instead
    of a shuffle)."""
    import numpy as np
    import pandas as pd

    cents = np.array(codebooks, dtype=np.int64)  # (m, k, sub)
    m, _, sub = cents.shape
    dtypes = dict(xq.dtypes)
    id_type = dtypes[id_col]

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            try:
                X = np.array([list(v) for v in pdf["_x"]], dtype=np.int64)
            except ValueError as e:  # ragged rows inside one batch
                raise ValueError(
                    "pq_encode: ragged embedding dimensions — fix the "
                    "corpus (mixed-dim codes would silently mis-rank)"
                ) from e
            if X.shape[1] != m * sub:
                raise ValueError(
                    f"pq_encode: vector dims {X.shape[1]} != codebook "
                    f"dims {m * sub}"
                )
            n = len(X)
            ids = np.repeat(np.asarray(pdf[id_col]), m)
            ss = np.tile(np.arange(m, dtype=np.int32), n)
            codes = nearest(X, cents)[0]
            out = {id_col: ids, "s": ss, "code": codes.reshape(-1)}
            for c in passthrough:
                out[c] = np.repeat(np.asarray(pdf[c]), m)
            yield pd.DataFrame(out)

    schema = f"{id_col} {id_type}, s int, code int" + "".join(
        f", {c} {dtypes[c]}" for c in passthrough
    )
    return xq.mapInPandas(kernel, schema=schema)


def pq_adc_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    scale: int = 10000,
    topk: int = 3,
    codebooks: list[list[list[int]]] | None = None,
    fit_sample: int | None = None,
    cache_key: str | None = None,
) -> DataFrame:
    """PQ + ADC top-k: fit (or reuse) the codebooks, encode the corpus,
    and rank each query's neighbors by the exact ADC distance
    ``sum_s dist(query_subvector_s, centroid(code_s))`` — integer
    arithmetic end to end, so the result is graded value-exact against
    the unrolled-CTE DuckDB oracle (approximation error vs true distance
    is PQ's documented property, recall-pinned in tests/test_pq.py, but
    the COMPUTATION itself is deterministic).

    Returns (query_id, neighbor_id, rank, adc_dist), rank 1..topk per
    query, ties broken by neighbor id; query vectors never match
    themselves. Plan: per-query distance tables (|Q|·m·k rows) broadcast
    against the long-form code table, partial-aggregated per (query,
    neighbor), two-phase per-query top-k."""
    from checkatron_spark.session import scratch_persist

    if codebooks is None:
        codebooks = fit_pq_codebooks(
            vectors, id_col=id_col, vec_col=vec_col, m=m, k=k,
            iters=iters, scale=scale, fit_sample=fit_sample,
            cache_key=cache_key,
        )
    m = len(codebooks)
    codes = pq_encode(
        vectors, codebooks, id_col=id_col, vec_col=vec_col, scale=scale
    ).withColumnRenamed(id_col, "neighbor_id")
    qx = _quantized(queries, id_col, vec_col, scale).withColumnRenamed(
        id_col, "query_id"
    ).transform(scratch_persist)
    sub = len(codebooks[0][0])
    # distance tables: query x (s, cid) — |Q| * m * k rows, broadcast side
    flat = [
        (s, cid, list(map(int, cent)))
        for s, book in enumerate(codebooks)
        for cid, cent in enumerate(book)
    ]
    cdf = qx.sparkSession.createDataFrame(
        flat, "s int, code int, _m array<bigint>"
    )
    # broadcast pinned, not AQE-inherited: cdf is m*k rows — the same
    # hint its sibling fan-outs (ivfpq_topk) carry
    qd = (
        qx.crossJoin(F.broadcast(cdf))
        .select(
            "query_id",
            "s",
            "code",
            F.expr(
                "aggregate(zip_with(slice(_x, s * "
                f"{sub} + 1, {sub}), _m, (a, b) -> (a - b) * (a - b)), "
                "0L, (acc, v) -> acc + v)"
            ).alias("_d"),
        )
    )
    scored = (
        codes.join(F.broadcast(qd), ["s", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("_d").alias("adc_dist"))
    )
    return topk_two_phase(scored, "adc_dist", topk)


def pq_adc_rerank_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    scale: int = 10000,
    shortlist: int = 10,
    topk: int = 3,
    codebooks: list[list[list[int]]] | None = None,
    fit_sample: int | None = None,
    cache_key: str | None = None,
) -> DataFrame:
    """PQ search with EXACT re-ranking — the standard two-stage deployment
    (FAISS's IVF-PQ + refine): the compressed index shortlists
    ``shortlist`` candidates per query by ADC, then ONLY those candidates
    are re-scored with the exact squared distance on the full-precision
    grid and the top ``topk`` returned. Re-rank cost is |Q|·shortlist
    exact folds — independent of corpus size — while recall recovers the
    within-cell detail quantization discarded (recall-vs-raw-ADC pinned
    in tests/test_pq.py).

    Integer-exact end to end like everything in this module. Returns
    (query_id, neighbor_id, rank, exact_dist)."""
    short = pq_adc_topk(
        vectors, queries, id_col=id_col, vec_col=vec_col, m=m, k=k,
        iters=iters, scale=scale, topk=shortlist, codebooks=codebooks,
        fit_sample=fit_sample, cache_key=cache_key,
    ).select("query_id", "neighbor_id")
    return rerank_exact(
        short, vectors, queries, id_col=id_col, vec_col=vec_col,
        scale=scale, topk=topk,
    )


def rerank_exact(
    short: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10000,
    topk: int = 3,
) -> DataFrame:
    """The exact-refine stage of :func:`pq_adc_rerank_topk`, factored out
    so a caller that ALREADY has the ADC shortlist — the
    recall audit runs the flat-PQ pipeline once at topk=shortlist and
    prefixes it for both ADC rows — can re-rank without recomputing the
    whole compressed search. ``short`` = (query_id, neighbor_id)
    candidate pairs; cost is |short| exact folds, corpus-independent."""
    nx = _quantized(vectors, id_col, vec_col, scale).select(
        F.col(id_col).alias("neighbor_id"), F.col("_x").alias("_nx")
    )
    qx = _quantized(queries, id_col, vec_col, scale).select(
        F.col(id_col).alias("query_id"), F.col("_x").alias("_qx")
    )
    exact = (
        short.join(nx, "neighbor_id")
        .join(qx, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                "aggregate(zip_with(_qx, _nx, (a, b) -> (a - b) * (a - b)), "
                "0L, (acc, v) -> acc + v)"
            ).alias("exact_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("exact_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "rank", "exact_dist")
    )


def _fit_coarse_cached(
    xq: DataFrame,
    *,
    id_col: str,
    n_cells: int,
    iters: int,
    scale: int,
    fit_sample: int | None,
    cache_key: str | None,
    dims: int | None = None,
) -> list[list[int]]:
    """The cached coarse-quantizer fit shared by ivfpq_topk and
    ivf_grid_topk: both run the IDENTICAL deterministic m=1 Lloyd chain
    on the same md5-bounded fitset, so they share one cache slot — an
    audit that runs both pays the coarse fit once.

    A cache HIT must stay job-free (``dims=None`` skips the width check
    against the corpus): the warm search/admission paths deliberately do
    NOT run the corpus-wide _grid_stats pass, because the assignment
    kernel re-validates dims and the BIGINT bound on every batch at
    execution time (a full corpus scan would only repeat a guard the
    hot loop already enforces). A cache MISS still pays the
    corpus-wide stats guard before fitting — garbage codebooks must fail
    at fit time, not at first use."""
    cpath = model_cache.entry(
        model_cache.PQ_BOOKS, cache_key, "ivfpq-coarse",
        (n_cells, iters, scale, fit_sample),
    )
    if cpath is not None:
        cached = _load_books(cpath, m=1, k=n_cells, dims=dims)
        if cached is not None:
            return cached[0]
    # FIT path only: the cold path consumes the quantized
    # corpus 2-3 times — the _grid_stats guard scan, the md5 top-n fitset,
    # and (in ivf_grid_index) the assignment kernel, which builds the
    # identical _quantized plan and therefore reads this cache entry too
    # (CacheManager matches canonicalized plans). One compute instead of
    # three full corpus passes per cold fit; warm hits stay job-free.
    from checkatron_spark.session import scratch_persist

    xq = xq.transform(scratch_persist)
    if dims is None:
        _grid_stats(xq, n_cells)  # fit-time corpus guard (raises)
    coarse = fit_codebooks_grid(
        _fit_sample_grid(xq, id_col, fit_sample),
        id_col=id_col, m=1, k=n_cells, iters=iters,
    )[0]
    _publish_books(cpath, [coarse])
    return coarse


def _injected(index: DataFrame | None, coarse: list | None) -> bool:
    """Whether the caller injected a prebuilt (index, coarse) pair. One
    without the other raises: the index's cells are meaningless under any
    other quantizer, and a silent refit would hide the bug."""
    if (index is None) != (coarse is None):
        raise ValueError(
            "pass index= and coarse= together (both from ivf_grid_index), "
            "or neither"
        )
    return index is not None


def ivf_grid_index(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    iters: int = 2,
    scale: int = 10000,
    fit_sample: int | None = None,
    cache_key: str | None = None,
) -> tuple[DataFrame, list[list[int]]]:
    """The corpus half of grid IVF — (index, coarse) where index =
    (id_col, cell, _x ORIGINAL grid vector) from the zero-shuffle
    assignment kernel under the (cached) coarse quantizer. Separate so
    one build can serve several consumers: ivf_grid_topk's
    scoring join uses it directly, and ivfpq_topk can derive its residuals
    from it (x − centroid[cell], exact BIGINT zip_with — identical to the
    kernel's arithmetic, pinned in tests/test_pq.py). The recall audit
    persists ONE index frame and feeds both methods."""
    xq = _quantized(vectors, id_col, vec_col, scale)
    coarse = _fit_coarse_cached(
        xq, id_col=id_col, n_cells=n_cells, iters=iters, scale=scale,
        fit_sample=fit_sample, cache_key=cache_key,
    )
    index = _assign_residual_grid(xq, coarse, id_col=id_col, residual=False)
    return index, coarse


def ivf_grid_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    n_probe: int = 2,
    iters: int = 2,
    scale: int = 10000,
    topk: int = 3,
    fit_sample: int | None = None,
    cache_key: str | None = None,
    index: DataFrame | None = None,
    coarse: list[list[int]] | None = None,
) -> DataFrame:
    """Grid-integer IVF top-k — the APPROXIMATE inverted-file search a
    user reaches for first, exact-arithmetic twin of
    the MLlib-backed ``similarity.ivf_topk`` but fully replayable in the
    DuckDB oracle: the coarse quantizer is the deterministic m=1 Lloyd
    chain (fit_codebooks_grid; md5-bounded fitset, disk-cached — the slot is
    SHARED with ivfpq_topk's coarse stage), each query probes its
    ``n_probe`` closest cells by exact BIGINT centroid distance, and
    candidates in probed cells are ranked by the exact full-vector grid
    distance. Neighbors in unprobed cells are missed BY DESIGN — that
    recall trade is what ann_recall_audit measures for this method.

    Scale shape: cell assignment is the zero-shuffle Arrow kernel
    (centroids in the task closure, original vectors carried through —
    no corpus re-join), the |Q|·n_cells probe table broadcasts, and the
    scoring join keys on cell id, so per-query cost tracks probed-cell
    population, not corpus size. A quantizer-cache HIT runs zero
    pre-search corpus jobs — the corpus-wide _grid_stats guard lives in
    the fit path (_fit_coarse_cached) and the assignment kernel
    re-validates per batch. ``index``/``coarse`` inject a prebuilt
    :func:`ivf_grid_index` — the audit's shared-build seam; they come
    together or not at all (one alone raises ``ValueError``).
    Returns (query_id, neighbor_id, rank, ivf_dist), ties
    (dist, neighbor) — deterministic on both engines."""
    if not _injected(index, coarse):
        index, coarse = ivf_grid_index(
            vectors, id_col=id_col, vec_col=vec_col, n_cells=n_cells,
            iters=iters, scale=scale, fit_sample=fit_sample,
            cache_key=cache_key,
        )
    corpus = index.withColumnRenamed(id_col, "neighbor_id")
    qx = _quantized(queries, id_col, vec_col, scale).withColumnRenamed(
        id_col, "query_id"
    )
    return _ivf_grid_search(
        corpus, coarse, qx, n_probe=n_probe, topk=topk
    )


def _ivf_grid_search(
    corpus: DataFrame,
    coarse: list[list[int]],
    qx: DataFrame,
    *,
    n_probe: int,
    topk: int,
) -> DataFrame:
    """The search half of grid IVF over a MAINTAINED index frame
    ``corpus`` = (neighbor_id, cell, _x) — shared by ivf_grid_topk
    (fresh build) and ivf_grid_apply_changes (incremental admission):
    probe table broadcast, scoring join keyed on cell,
    two-phase per-query top-k."""
    spark = corpus.sparkSession
    cdf = spark.createDataFrame(
        list(enumerate(coarse)), "cell int, _cm array<bigint>"
    )
    cdist = F.expr(
        "aggregate(zip_with(_x, _cm, (a, b) -> (a - b) * (a - b)), 0L, "
        "(acc, v) -> acc + v)"
    )
    qc = qx.crossJoin(F.broadcast(cdf)).select(
        "query_id", "cell", "_x", cdist.alias("_cd")
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("_cd").asc(), F.col("cell").asc()
    )
    probed = (
        qc.withColumn("_pr", F.row_number().over(wp))
        .filter(F.col("_pr") <= n_probe)
        .select("query_id", "cell", F.col("_x").alias("_qx"))
    )
    dist = F.expr(
        "aggregate(zip_with(_qx, _x, (a, b) -> (a - b) * (a - b)), 0L, "
        "(acc, v) -> acc + v)"
    )
    scored = (
        corpus.join(F.broadcast(probed), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", dist.alias("ivf_dist"))
    )
    return topk_two_phase(scored, "ivf_dist", topk)


def ivfpq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    n_probe: int = 2,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    scale: int = 10000,
    topk: int = 3,
    fit_sample: int | None = None,
    cache_key: str | None = None,
    index: DataFrame | None = None,
    coarse: list[list[int]] | None = None,
) -> DataFrame:
    """IVF-PQ — the full FAISS index architecture, exact-integer twin:
    a coarse quantizer (full-vector Lloyd on the grid, ``n_cells``)
    partitions the corpus; per-subspace PQ codebooks train on the
    RESIDUALS (x − coarse centroid — grid integers by construction, no
    re-quantization seam); each query probes its ``n_probe`` closest
    cells and ADC-scores only their members against its per-cell
    residual distance tables.

    The two scale levers compose: probing bounds the candidate set by
    cell population (IVF), the residual codes bound per-candidate cost
    to m table lookups and per-vector memory to m bytes (PQ). Residual
    coding is why IVF-PQ beats flat PQ at equal bits: within a cell the
    residual magnitudes are small, so the same k codes cover them
    finer.

    Every code, probe choice, and distance is exact BIGINT arithmetic
    (deterministic ties: probe order (dist, cell), ranking (dist,
    neighbor)), so the DuckDB oracle replays the entire index+search
    computation. Returns (query_id, neighbor_id, rank, adc_dist) —
    neighbors in unprobed cells are absent by design.

    Warm-path shape: when BOTH the coarse quantizer and the residual
    codebooks hit their caches, the search runs zero pre-search corpus
    jobs — dims derive from the cached books (the kernels re-validate
    per batch at execution), the corpus-wide _grid_stats guard is paid
    only on the fit path, and the residual frame is persisted only when
    the fit consumes it twice. Codes carry
    their cell through the encode kernel (pq_encode_grid passthrough),
    replacing the former corpus-sized codes⋈cell shuffle join with a few
    bytes per row of Arrow traffic. ``index``/``coarse`` (together — one
    alone raises ``ValueError``) inject a prebuilt
    :func:`ivf_grid_index`: residuals derive from it as
    ``zip_with(_x, centroid[cell], a - b)`` — the identical exact BIGINT
    arithmetic the kernel performs (pinned in tests/test_pq.py) — so a
    caller that already built the index (the recall audit) skips the
    assignment pass; the injection is honored only when the residual
    codebooks are cache-warm (a fit needs the quantized corpus anyway)."""
    from checkatron_spark.session import scratch_persist

    xq = _quantized(vectors, id_col, vec_col, scale)
    rpath = model_cache.entry(
        model_cache.PQ_BOOKS, cache_key, "ivfpq-res",
        (n_cells, m, k, iters, scale, fit_sample),
    )
    books = _load_books(rpath, m=m, k=k, dims=None) if rpath else None
    if not _injected(index, coarse):
        coarse = _fit_coarse_cached(
            xq, id_col=id_col, n_cells=n_cells, iters=iters, scale=scale,
            fit_sample=fit_sample, cache_key=cache_key,
        )
    dims = len(coarse[0])
    if books is not None and len(books[0][0]) * m != dims:
        books = None  # stale/mismatched residual cache entry: refit
    if books is None:
        _grid_stats(xq, max(k, n_cells))  # fit-time corpus guard (raises)
        xq = xq.transform(scratch_persist)  # fitset + assignment consumers
    if index is not None and books is not None:
        # residuals from the shared index: exact x − centroid[cell] via a
        # broadcast of the n_cells-row centroid table + codegen zip_with.
        # zip_with pads a width mismatch with NULLs, so a wrong-width
        # index fails here, lazily, naming both widths
        spark = xq.sparkSession
        cdf0 = spark.createDataFrame(
            list(enumerate(coarse)), "cell int, _cm array<bigint>"
        )
        width = F.size("_x")
        res = index.join(F.broadcast(cdf0), "cell").select(
            id_col,
            "cell",
            F.when(
                width != dims,
                F.raise_error(F.concat(
                    F.lit("ivfpq: injected index vectors have "),
                    width.cast("string"),
                    F.lit(f" dims but the coarse centroids have {dims}"
                          " — build index and coarse together"),
                )),
            ).otherwise(
                F.expr("zip_with(_x, _cm, (a, b) -> a - b)")
            ).alias("_x"),
        )
    else:
        # assignment + residuals in one zero-shuffle Arrow pass
        # (identical integer rule, _assign_residual_grid)
        res = _assign_residual_grid(xq, coarse, id_col=id_col)
    if books is None:
        # residual fit input = the residuals OF THE FITSET ROWS (the same
        # md5-bounded sample the coarse quantizer trained on)
        res = res.transform(scratch_persist)
        rfit = res.select(id_col, "_x")
        if fit_sample is not None:
            ids = _fit_sample_grid(xq, id_col, fit_sample).select(id_col)
            rfit = rfit.join(F.broadcast(ids), id_col)
        books = fit_codebooks_grid(
            rfit, id_col=id_col, m=m, k=k, iters=iters
        )
        _publish_books(rpath, books)
    spark = xq.sparkSession
    cdf = spark.createDataFrame(
        list(enumerate(coarse)), "cell int, _cm array<bigint>"
    )
    sub = dims // m
    codes = pq_encode_grid(
        res.select(id_col, "cell", "_x"), books, id_col=id_col,
        passthrough=("cell",),
    ).withColumnRenamed(id_col, "neighbor_id")
    qx = _quantized(queries, id_col, vec_col, scale).withColumnRenamed(
        id_col, "query_id"
    )
    cdist = F.expr(
        "aggregate(zip_with(_x, _cm, (a, b) -> (a - b) * (a - b)), 0L, "
        "(acc, v) -> acc + v)"
    )
    qc = qx.crossJoin(F.broadcast(cdf)).select(
        "query_id", "cell", "_x", "_cm", cdist.alias("_cd")
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("_cd").asc(), F.col("cell").asc()
    )
    probed = (
        qc.withColumn("_pr", F.row_number().over(wp))
        .filter(F.col("_pr") <= n_probe)
        .select(
            "query_id",
            "cell",
            F.expr("zip_with(_x, _cm, (a, b) -> a - b)").alias("_qr"),
        )
    )
    flat = [
        (s, cid, list(map(int, cent)))
        for s, book in enumerate(books)
        for cid, cent in enumerate(book)
    ]
    bookdf = spark.createDataFrame(flat, "s int, code int, _m array<bigint>")
    qd = probed.crossJoin(F.broadcast(bookdf)).select(
        "query_id",
        "cell",
        "s",
        "code",
        F.expr(
            f"aggregate(zip_with(slice(_qr, s * {sub} + 1, {sub}), _m, "
            "(a, b) -> (a - b) * (a - b)), 0L, (acc, v) -> acc + v)"
        ).alias("_d"),
    )
    scored = (
        codes.join(F.broadcast(qd), ["cell", "s", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("_d").alias("adc_dist"))
    )
    return topk_two_phase(scored, "adc_dist", topk)


# ---------------------------------------------------------------------------
# Incremental IVF index maintenance. Model-cache entries key on corpus
# identity, so ANY corpus change would refit everything. This block is the
# delta path — the LSM/CDC shape from streaming.py applied to the vector
# index:
#
# - the BASE index (vec_id, cell, _x) persists as a parquet store in the
#   model cache (one build per corpus version; later processes LOAD
#   assignments instead of re-running the kernel);
# - a changefeed batch (op, vec_id, embedding) admits against the FITTED
#   quantizer: upserts are assigned to existing cells by the identical
#   argmin kernel (work ∝ batch), tombstones drop via a broadcast
#   anti-join (the operators/patch.py op convention: 'upsert'/'delete');
# - the coarse centroids deliberately do NOT move on admission — that is
#   what makes the incremental result EXACTLY equal a rebuild-with-the-
#   same-centroids (pinned in tests), and what cell-occupancy DRIFT
#   detection exists to police: when admissions skew the occupancy
#   distribution past the declared threshold, the honest move is a
#   refit, and ivf_occupancy_drift says so instead of letting recall rot
#   silently.
# ---------------------------------------------------------------------------


def _load_or_build_index(
    xq: DataFrame,
    coarse: list[list[int]],
    *,
    id_col: str,
    cache_key: str | None,
    params: tuple,
) -> DataFrame:
    """The base index (id, cell, _x): load from the parquet store on a
    hit, else one zero-shuffle assignment pass over the corpus, published
    to the store (a hit IS the rebuild because assignment is
    deterministic). Corrupt/partial stores rebuild."""
    path = model_cache.entry(
        model_cache.IVF_INDEX, cache_key, "ivf-index", params
    )

    def stored() -> DataFrame | None:
        idx = model_cache.read(path, xq.sparkSession.read.parquet)
        ok = idx is not None and set(idx.columns) == {id_col, "cell", "_x"}
        return idx if ok else None

    idx = stored()
    if idx is None:
        built = _assign_residual_grid(
            xq, coarse, id_col=id_col, residual=False
        )
        model_cache.publish(path, built.write.parquet)
        idx = stored()  # later actions read the store, not the kernel
        if idx is None:
            idx = built
    return idx


def ivf_grid_apply_changes(
    base: DataFrame,
    changes: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    op_col: str = "op",
    n_cells: int = 8,
    iters: int = 2,
    scale: int = 10000,
    fit_sample: int | None = None,
    cache_key: str | None = None,
) -> tuple[DataFrame, list[list[int]]]:
    """Admit a changefeed batch into the fitted IVF index. Returns
    (index, coarse) where index = (id, cell, _x) reflects the batch:
    'delete' rows drop, 'upsert' rows (re-)assign to the EXISTING cells
    via the same argmin kernel the build used. An id carrying BOTH ops
    in one batch resolves to the upsert (the row exists with its new
    embedding) — compact mixed feeds upstream (the cdc_log_compact
    convention) when delete-wins is wanted. Update work is ∝ batch:
    the quantizer loads from its cache (zero Lloyd jobs), the base index
    loads from its parquet store (zero assignment jobs), the batch
    assignment kernel runs over batch rows only, and the tombstone
    anti-join broadcasts the (small) batch id set map-side. The
    corpus-wide _grid_stats guard (a job NOT ∝ batch) runs on the fit
    path only (_fit_coarse_cached); the assignment kernel re-validates
    dims/overflow per batch at execution."""
    xq = _quantized(base, id_col, vec_col, scale)
    coarse = _fit_coarse_cached(
        xq, id_col=id_col, n_cells=n_cells, iters=iters, scale=scale,
        fit_sample=fit_sample, cache_key=cache_key,
    )
    base_idx = _load_or_build_index(
        xq, coarse, id_col=id_col, cache_key=cache_key,
        params=(n_cells, iters, scale, fit_sample),
    )
    touched = changes.select(id_col).distinct()
    upserts = changes.filter(F.col(op_col) == "upsert").select(
        id_col, vec_col
    )
    new_idx = _assign_residual_grid(
        _quantized(upserts, id_col, vec_col, scale), coarse,
        id_col=id_col, residual=False,
    )
    idx = base_idx.join(
        F.broadcast(touched), id_col, "left_anti"
    ).unionByName(new_idx)
    return idx, coarse


def ivf_grid_incremental_topk(
    base: DataFrame,
    changes: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    op_col: str = "op",
    n_cells: int = 8,
    n_probe: int = 2,
    iters: int = 2,
    scale: int = 10000,
    topk: int = 3,
    fit_sample: int | None = None,
    cache_key: str | None = None,
) -> DataFrame:
    """Search the incrementally-maintained index (apply the changefeed,
    then the shared _ivf_grid_search) — the production read path after a
    delta admission. Deterministic end to end, so the DuckDB oracle
    replays fit + base assignment + admission + search exactly."""
    idx, coarse = ivf_grid_apply_changes(
        base, changes, id_col=id_col, vec_col=vec_col, op_col=op_col,
        n_cells=n_cells, iters=iters, scale=scale,
        fit_sample=fit_sample, cache_key=cache_key,
    )
    qx = _quantized(queries, id_col, vec_col, scale).withColumnRenamed(
        id_col, "query_id"
    )
    return _ivf_grid_search(
        idx.withColumnRenamed(id_col, "neighbor_id"), coarse, qx,
        n_probe=n_probe, topk=topk,
    )


def ivf_occupancy_drift(
    index: DataFrame,
    *,
    n_cells: int,
    skew_threshold: float = 4.0,
    empty_threshold: float = 0.25,
) -> dict:
    """Cell-occupancy drift audit — the refit trigger for incremental
    admission: after K batches, if the most-loaded
    cell holds more than ``skew_threshold`` times its uniform share, or
    more than ``empty_threshold`` of the cells have emptied, the fitted
    centroids no longer describe the corpus and probed-cell search
    recall rots — the decision to pay the refit becomes explicit and
    measurable instead of silent. One bounded aggregate (n_cells rows
    collected)."""
    rows = index.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n")
    ).collect()
    total = sum(r["n"] for r in rows)
    occupied = {int(r["cell"]): int(r["n"]) for r in rows}
    max_n = max(occupied.values(), default=0)
    uniform = total / n_cells if n_cells else 0.0
    skew = (max_n / uniform) if uniform > 0 else 0.0
    empty_frac = (n_cells - len(occupied)) / n_cells if n_cells else 0.0
    return {
        "total": total,
        "max_cell": max_n,
        "skew": skew,
        "empty_frac": empty_frac,
        "refit_recommended": bool(
            skew > skew_threshold or empty_frac > empty_threshold
        ),
    }


def coarse_assign_expr(coarse: list[list[int]], xcol: str = "_x") -> F.Column:
    """Pure-codegen coarse-cell assignment over grid vectors — the
    centroid-LITERAL twin of _assign_residual_grid's Arrow argmin
    (identical ``min(dist·k + cid)`` integer rule, pinned equivalent in
    tests/test_pq.py). Exists for STREAMING admission: a
    stateless projection needs no Python workers and no mapInPandas
    stage, so a micro-batch assigns cells at ingest speed with the
    centroids riding the plan as literals."""
    k = len(coarse)
    cents = "array(" + ", ".join(
        "array(" + ", ".join(f"{int(v)}L" for v in c) + ")" for c in coarse
    ) + ")"
    dists = (
        f"transform({cents}, c -> aggregate(zip_with({xcol}, c, "
        "(a, b) -> (a - b) * (a - b)), 0L, (acc, v) -> acc + v))"
    )
    keyed = (
        f"zip_with({dists}, sequence(0, {k - 1}), "
        f"(d, i) -> d * {k} + CAST(i AS BIGINT))"
    )
    return F.expr(
        f"CAST(aggregate({keyed}, {2**63 - 1}L, "
        f"(acc, v) -> least(acc, v)) % {k} AS INT)"
    )
