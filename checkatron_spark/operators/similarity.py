"""Similarity search over embedding columns (array<float>).

Two paths:

- brute-force cosine top-k: exact, a broadcast join of the (small) query set
  against all candidates — at 100 TB the query side is broadcast, the
  candidate scan stays partition-parallel, and the top-k is a per-query
  window (shuffle on query_id only). Dot products are sequential
  ``F.aggregate`` folds in double precision — deterministic and
  bit-portable (mirrored by DuckDB list_reduce in the oracle).
- LSH-bucketed ANN (BucketedRandomProjectionLSH on L2-normalized vectors ~
  angular distance): the approximate scale path when the candidate set is
  too large for per-query full scans.

- IVF top-k (``ivf_topk``): a KMeans coarse quantizer assigns every vector
  to a cell; each query probes only its ``n_probe`` nearest cells. The
  probe join shuffles on cell id, so per-query work is bounded by cell
  population instead of corpus size — the classic inverted-file ANN layout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from checkatron_spark import model_cache

__all__ = [
    "dot",
    "l2_norm",
    "cosine",
    "ann_bruteforce_topk",
    "ann_blocked_topk",
    "ann_hamming_topk",
    "neardup_embedding_cosine",
    "ann_lsh_topk",
    "ivf_topk",
    "fit_ivf_quantizer",
    "sign_hash_codes",
    "decontaminate_semantic",
]


def topk_two_phase(scored: DataFrame, dist_col: str, k: int) -> DataFrame:
    """The shared two-phase per-query top-k tail over a
    ``(query_id, neighbor_id, <dist_col>)`` frame: phase 1 prunes to <=k
    rows per (query, input partition) — a superset of the true top-k,
    since the global k best per query each survive their own partition's
    cut — so the final per-query window ranks a bounded set instead of
    funneling every scored pair through one task per query (the
    bm25_multiquery discipline). Deterministic total order
    ``(dist, neighbor_id)`` on both phases.

    Rendered as two selectExpr SQL windows (round 15): this tail appears
    in five ANN constructors, and the Column-API form cost ~12 driver
    round-trips per instance — construction at recall-audit width is
    py4j-bound (OPTIMIZATION_r15.md item 1). The SQL text resolves to
    the identical plan; equality is covered by every family oracle.
    Returns (query_id, neighbor_id, rank, <dist_col>), rank 1..k."""
    order = f"{dist_col} ASC, neighbor_id ASC"
    survivors = scored.selectExpr(
        "*",
        "row_number() OVER (PARTITION BY query_id, spark_partition_id() "
        f"ORDER BY {order}) AS _lrn",
    ).filter(f"_lrn <= {k}")
    return survivors.selectExpr(
        "query_id",
        "neighbor_id",
        f"CAST(row_number() OVER (PARTITION BY query_id ORDER BY {order}) "
        "AS INT) AS rank",
        dist_col,
    ).filter(f"rank <= {k}")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision (deterministic FP)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _safe_div(num: Column, den: Column) -> Column:
    """ANSI-total division for cosine scoring: zero/NULL denominators give
    NULL instead of DIVIDE_BY_ZERO. The operators ALSO filter zero-norm
    rows out, but the expression must be total anyway — Catalyst combines
    inferred predicates (isnotnull over the projected division) with the
    norm filter into one conjunction and may evaluate them in either
    order, so a partial division can throw on a row the filter was about
    to drop (measured on pyspark 4.1.2; review r9)."""
    return num / F.when(den > 0.0, den)


def sign_hash_codes(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-bit binarization (Charikar hyperplane hashing degenerate to the
    axis planes): bit_i = 1 iff v[i] > 0, packed MSB-first into 32-bit
    words riding an ``array<bigint>`` — a 64-dim float32 vector (256 B)
    becomes 2 longs the JVM compares with xor+bit_count in whole-stage
    codegen. 32-bit words are deliberate: the fold value stays < 2^32, so
    the SAME ``acc*2 + bit`` recurrence is overflow-free BIGINT arithmetic
    on Spark and DuckDB alike (no sign/two's-complement seam to keep in
    parity). Degenerate embeddings (NULL / element-NULL / zero-norm) are
    dropped — the family's _EMB_OK contract; v=0 packs as bit 0 (strict
    >). Returns (id_col, codes array<bigint>)."""
    norm = F.expr(
        f"sqrt(aggregate({vec_col}, 0.0D, "
        "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
    codes = F.expr(
        f"transform(sequence(0, CAST(ceil(size({vec_col}) / 32.0) AS INT)"
        f" - 1), w -> aggregate(slice({vec_col}, w * 32 + 1, 32), 0L, "
        "(acc, v) -> shiftleft(acc, 1) | IF(v > 0, 1L, 0L)))"
    )
    return vectors.filter(norm > F.lit(0.0)).select(
        F.col(id_col), codes.alias("codes")
    )


def ann_hamming_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Binary-code top-k by Hamming distance over the sign-hash codes —
    the memory-floor ANN path (64x smaller than raw float32; the standard
    first-pass filter in front of exact re-ranking). Scoring is ONE
    xor+bit_count per 32 dims inside whole-stage codegen — no Python, no
    per-dimension float fold — so the brute scan's per-pair cost is ~2
    ALU ops and the broadcast of |Q| query codes is bytes.

    Fully integer-exact (bit packing + popcount), so the DuckDB oracle
    reproduces every distance; ties (Hamming is coarse: 0..dims) break by
    ascending neighbor id — deterministic on both engines. Returns
    (query_id, neighbor_id, rank, hamming).

    Ragged-width error contract (ADVICE r14): the guard is evaluated
    per SCORED pair, so ragged inputs surface as a runtime Spark error
    at the consuming action (not an eager ValueError at construction),
    and an empty opposite side — or a corpus whose only row is the
    query itself, excluded by the self-pair filter — scores no pairs
    and therefore raises nothing. No wrong row can be emitted either
    way: every emitted pair passed the width check."""
    c = sign_hash_codes(vectors, id_col=id_col, vec_col=vec_col)
    q = sign_hash_codes(queries, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("query_id"), F.col("codes").alias("_qc")
    )
    # ragged-dimension fail-fast (ADVICE r12, reworked r13->r14->r14b):
    # mixed code widths make zip_with pad with NULL, the fold goes NULL,
    # and ASC NULLS FIRST would silently promote those pairs to rank 1 —
    # the same condition pq.py raises on. The r13 version aggregated the
    # code frames eagerly (an extra full scan per call — ADVICE r13);
    # the first r14 cut kept ONE eager job over the |Q|-row query frame.
    # Now the guard is fully lazy: every scored pair crosses the corpus
    # with every query (inner cross join), so a per-pair raise_error on
    # size(_qc) <> size(codes) fires on ANY width inconsistency — corpus
    # vs query AND ragged-within-either-side — during the one scan the
    # query already performs, with zero pre-search jobs (guide §1.2).
    ham_sql = (
        "aggregate(zip_with(_qc, codes, (a, b) -> bit_count(a ^ b)), 0, "
        "(acc, v) -> acc + v)"
    )
    ham = F.expr(
        "CASE WHEN size(codes) <> size(_qc) THEN CAST(raise_error("
        "'ann_hamming_topk: ragged embedding dimensions — corpus code "
        "width <> query code width; fix the corpus/queries (NULL-padded "
        f"hamming would silently outrank real neighbors)') AS INT) "
        f"ELSE {ham_sql} END"
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            ham.cast("int").alias("hamming"),
        )
    )
    return topk_two_phase(scored, "hamming", k)


def ann_bruteforce_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is expected small -> broadcast; candidates never shuffle
    until the per-query top-k window (keyed on query_id). Norms are
    precomputed ONCE per vector (not per pair): cosine stays the identical
    ``dot/(norm_a*norm_b)`` arithmetic, but per-pair work drops from three
    64-dim folds to one. Deterministic tie-break: score desc, neighbor id
    asc. Returns (query_id, neighbor_id, rank, cosine_sim)."""
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # zero-norm / NULL embeddings have no defined cosine and would throw
    # DIVIDE_BY_ZERO under Spark 4's default ANSI mode (review r9) — drop
    # them from both sides, same policy as decontaminate_semantic;
    # embedding_audit is the tool that LOCATES them
    q = queries.select(
        F.col(id_col).alias("query_id"), dv.alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    ).filter(F.col("_qn") > 0.0)
    c = vectors.select(
        F.col(id_col).alias("neighbor_id"), dv.alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
    ).filter(F.col("_cn") > 0.0)
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine_sim",
            _safe_div(
                dot(F.col("_qv"), F.col("_cv")), F.col("_qn") * F.col("_cn")
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine_sim", 6).alias("cosine_sim"))
    )


def ann_blocked_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    block_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Filtered vector search: exact top-k cosine neighbors per query
    restricted to candidates sharing the query's ``block_col`` value (label
    / tenant / language / shard) — the attribute-constrained retrieval
    every production vector store serves ("nearest within my collection").

    The constraint is also the scale lever: the candidate set joins on
    ``block_col`` EQUALITY (hash join, no broadcast nested loop), so
    per-query work is |block|, not |corpus|, and the plan shuffles both
    sides by block value — the metadata-blocked shape recommended at
    similarity.py:119-124 for when broadcast probe-all stops fitting.
    NULL block values match nothing (SQL equi-join semantics).
    Deterministic tie-break: score desc, neighbor id asc. Returns
    (query_id, neighbor_id, rank, cosine_sim)."""
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # zero-norm/NULL embeddings dropped (ANSI divide-by-zero; see
    # ann_bruteforce_topk)
    q = queries.select(
        F.col(block_col),
        F.col(id_col).alias("query_id"),
        dv.alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    ).filter(F.col("_qn") > 0.0)
    c = vectors.select(
        F.col(block_col),
        F.col(id_col).alias("neighbor_id"),
        dv.alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
    ).filter(F.col("_cn") > 0.0)
    scored = (
        c.join(q, block_col)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine_sim",
            _safe_div(
                dot(F.col("_qv"), F.col("_cv")), F.col("_qn") * F.col("_cn")
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("cosine_sim", 6).alias("cosine_sim"),
        )
    )


def seq_fold_norms(m) -> "np.ndarray":
    """L2 norms accumulated with one vectorized add PER DIMENSION — the
    sequential left fold ((0+p1)+p2)+..., bit-identical to Catalyst
    ``aggregate`` and DuckDB ``list_reduce``. np.linalg.norm / np.einsum
    would use pairwise/BLAS summation orders and break the oracle. The
    SINGLE implementation shared by every numpy cosine kernel
    (_allpairs_cosine_numpy here, selection._semdedup_drop_kernel) so an
    exactness fix can never miss a copy."""
    import numpy as np

    acc = np.zeros(m.shape[0])
    for k in range(m.shape[1]):
        acc = acc + m[:, k] * m[:, k]
    return np.sqrt(acc)


def nan_ge(cos, threshold: float):
    """``cos >= threshold`` under SPARK/DUCKDB comparison semantics: both
    engines order NaN LARGER than every number, so a NaN cosine (NaN/Inf
    embedding elements that survive the norm gate — Spark's NaN > 0.0 is
    TRUE) must count as a hit; numpy's raw IEEE ``>=`` would silently
    disagree (round-10 review finding)."""
    import numpy as np

    return (cos >= threshold) | np.isnan(cos)


def _allpairs_cosine_numpy(
    vectors: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """All-pairs cosine via a numpy kernel: the candidate matrix is tiny by
    the operator's own contract (all-pairs is the modest-n path), so it is
    collected once and broadcast; each executor batch scores its rows
    against the matrix inside one Arrow-batched mapInPandas.

    FP determinism: the dot is accumulated with 64 vectorized adds — one
    per dimension — which IS the sequential left fold ((0+p1)+p2)+... per
    pair, bit-identical to the Catalyst ``aggregate`` fold and the DuckDB
    ``list_reduce`` oracle. (numpy's own np.sum/np.dot would use pairwise/
    BLAS orders and break the oracle.) Rounding stays Spark-side (HALF_UP)
    after the kernel."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    # zero-norm/NULL embeddings have no defined cosine: drop them up front
    # (ANSI divide-by-zero discipline, review r9 — the numpy division
    # would emit nan/inf warnings instead of an error, equally wrong)
    clean = vectors.filter(
        F.coalesce(l2_norm(F.col(vec_col)) > 0.0, F.lit(False))
    )
    n = clean.count()
    if n > 200_000:
        raise ValueError(
            f"all-pairs cosine collects the candidate matrix to the driver "
            f"({n} vectors is too many); pass block_col= (cluster label / "
            f"LSH bucket) to use the distributed per-block self-join instead"
        )
    # ids stay OPAQUE for non-integral types (review r9: the old long-cast
    # crashed string ids under ANSI), but integral ids keep their numpy
    # dtype (ADVICE r9): dtype=object would degrade the per-tile
    # a_ids < I mask to elementwise PYTHON comparisons — ~10k x 8192 per
    # tile per batch at the row cap — instead of one vectorized int64 op
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    id_type = clean.schema[id_col].dataType
    integral = isinstance(
        id_type, (ByteType, ShortType, IntegerType, LongType)
    )
    rows = clean.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).collect()
    ids = np.array(
        [r._id for r in rows], dtype=np.int64 if integral else object
    )
    mat = np.array([r._v for r in rows], dtype=np.float64)
    dims = mat.shape[1] if len(rows) else 0

    norms = seq_fold_norms(mat)
    sc = vectors.sparkSession.sparkContext
    b_ids, b_mat, b_norms = sc.broadcast(ids), sc.broadcast(mat), sc.broadcast(norms)

    schema = StructType([
        StructField("id_a", id_type),
        StructField("id_b", id_type),
        StructField("_cos", DoubleType()),
    ])
    # candidate-matrix TILE bound (review r9): the dense per-batch
    # intermediate is (arrow_batch x tile) doubles — 10k x 8192 x 8B
    # = 640 MB per array — instead of (batch x n), which at the 200k row
    # cap would be 16 GB and OOM the executor the row cap was meant to
    # protect
    tile = 8192

    def score(batches):
        import pandas as pd

        M, I, N = b_mat.value, b_ids.value, b_norms.value
        for pdf in batches:
            A = np.array([list(v) for v in pdf["_v"]], dtype=np.float64)
            a_ids = pdf["_id"].to_numpy()
            if integral:  # match the broadcast side's vectorizable dtype
                a_ids = a_ids.astype(np.int64, copy=False)
            a_norms = seq_fold_norms(A)
            out_a, out_b, out_c = [], [], []
            for lo in range(0, M.shape[0], tile):
                Mt = M[lo : lo + tile]
                acc = np.zeros((A.shape[0], Mt.shape[0]))
                for k in range(dims):
                    acc = acc + A[:, k][:, None] * Mt[None, :, k]
                cos = acc / (a_norms[:, None] * N[None, lo : lo + tile])
                keep = (a_ids[:, None] < I[None, lo : lo + tile]) & nan_ge(
                    cos, threshold
                )
                ai, bj = np.nonzero(keep)
                out_a.append(a_ids[ai])
                out_b.append(I[lo : lo + tile][bj])
                out_c.append(cos[ai, bj])
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a) if out_a else [],
                    "id_b": np.concatenate(out_b) if out_b else [],
                    "_cos": np.concatenate(out_c) if out_c else [],
                }
            )

    pairs = clean.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).mapInPandas(score, schema=schema)
    return pairs.select(
        "id_a", "id_b", F.round("_cos", 6).alias("cosine_sim")
    )


def neardup_embedding_cosine(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    block_col: str | None = None,
) -> DataFrame:
    """Embedding near-dup pairs with cosine >= threshold. With ``block_col``
    (e.g. a cluster label or LSH bucket) the self-join is per-block — the
    scale path; without it, an all-pairs scorer for modest n, executed by
    the numpy kernel in :func:`_allpairs_cosine_numpy` (same arithmetic as
    the Catalyst fold, ~5x faster)."""
    if block_col is None:
        return _allpairs_cosine_numpy(vectors, id_col, vec_col, threshold)
    # from here on block_col is non-None: the blockless case returned into
    # the guarded numpy path above, so no cartesian fallback may exist —
    # a crossJoin branch here would be a live trap outside the declared-
    # query no-cartesian plan pin (VERDICT r5 item 5)
    assert block_col is not None
    # precast to array<double> and precompute the norm ONCE per vector —
    # per-pair work is then a single fold with no element casts
    # (float -> double is exact, so values are unchanged)
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cols = [
        F.col(id_col).alias("_id"),
        dv.alias("_v"),
        l2_norm(F.col(vec_col)).alias("_norm"),
        F.col(block_col).alias("_blk"),
    ]
    # zero-norm/NULL embeddings dropped (ANSI divide-by-zero; see
    # ann_bruteforce_topk)
    v = vectors.select(*cols).filter(F.col("_norm") > 0.0)
    left = v.select(*[F.col(c).alias(c + "a") for c in v.columns])
    right = v.select(*[F.col(c).alias(c + "b") for c in v.columns])
    joined = left.join(right, F.col("_blka") == F.col("_blkb"))
    return (
        joined.filter(F.col("_ida") < F.col("_idb"))
        .withColumn(
            "cosine_sim",
            _safe_div(
                dot(F.col("_va"), F.col("_vb")),
                F.col("_norma") * F.col("_normb"),
            ),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select(
            F.col("_ida").alias("id_a"),
            F.col("_idb").alias("id_b"),
            F.round("cosine_sim", 6).alias("cosine_sim"),
        )
    )


def _ivf_feats(vectors: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    # norm precomputed ONCE per vector (review r9: the per-pair cosine()
    # re-ran both norm folds for every candidate — 3x the needed work on
    # the hot scoring path); zero-norm/NULL embeddings dropped (ANSI
    # divide-by-zero; see ann_bruteforce_topk)
    return vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("features"),
    ).filter(F.col("_cn") > 0.0)


def fit_ivf_quantizer(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    max_iter: int = 5,
    fit_fraction: float | None = None,
    cache_key: str | None = None,
):
    """Train the IVF coarse quantizer once (sample-fit KMeans) for reuse by
    many ``ivf_topk`` searches — the production lifecycle: fit per corpus
    version, search many times. Deterministic given the seed, so passing
    the returned model to ``ivf_topk(model=...)`` yields exactly the result
    an inline refit would.

    ``cache_key`` additionally persists the fitted model in the model
    cache keyed by (cache_key, n_cells, seed, max_iter, fit_fraction):
    later processes LOAD the identical centroids (MLlib's save/load
    round-trips the exact model) instead of re-running count + sample +
    Lloyd. The caller's key must change when the corpus does (the
    declared queries use the parquet file's realpath + mtime + size).
    Corrupt/partial cache entries fall back to a refit, never an error."""
    from pyspark.ml.clustering import KMeans, KMeansModel

    path = model_cache.entry(
        model_cache.IVF_QUANTIZER, cache_key, "kmeans",
        (n_cells, seed, max_iter, fit_fraction),
    )
    model = model_cache.read(path, KMeansModel.load)
    # never trust a planted/mismatched entry — the loaded model must
    # actually be a quantizer for THESE params
    if (model is not None and model.getK() == n_cells
            and model.getOrDefault(model.seed) == seed):
        return model
    feats = _ivf_feats(vectors, id_col, vec_col)
    n_vecs = feats.count()
    if fit_fraction is None:
        fit_fraction = min(1.0, (200.0 * n_cells) / max(n_vecs, 1))
    fit_set = (
        feats.sample(fraction=fit_fraction, seed=seed)
        if fit_fraction < 1.0
        else feats
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(fit_set)
    model_cache.publish(path, model.write().save)
    return model


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    max_iter: int = 5,
    fit_fraction: float | None = None,
    exact: bool = False,
    model=None,
) -> DataFrame:
    """IVF (inverted-file) top-k cosine search.

    Index: KMeans over the corpus -> every vector gets a cell id (the
    coarse quantizer; at 100 TB, fit on a sample and ``transform`` the
    rest map-side). Search: each query scores the (tiny, broadcast)
    centroid table, probes its ``n_probe`` closest cells, and scores only
    vectors in those cells — the probe join shuffles on cell id, so query
    cost tracks cell population, not corpus size.

    With ``exact=True`` a triangle-inequality refinement makes the result
    EQUAL to brute force at any scale (not recall-tuned): the index stores
    each cell's angular radius r_c = max angle(member, centroid); after the
    first probe establishes a per-query kth-best similarity s_k, every
    unprobed cell whose best-possible cosine cos(max(0, theta_qc - r_c))
    still clears s_k is probed too (ball-tree-style pruning, cf. FAISS IVF
    + the classic branch-and-bound NN bound). Cells that cannot contain a
    better neighbor are provably skipped, so the extra probe set is small
    when the first probe is good — and the output is exactly the brute-
    force top-k, which is what the DuckDB oracle checks.

    Returns (query_id, neighbor_id, rank, cosine_sim)."""
    from pyspark.ml.clustering import KMeans

    spark = vectors.sparkSession
    feats = _ivf_feats(vectors, id_col, vec_col)
    # coarse quantizer: cell QUALITY barely moves recall (n_probe covers
    # boundary cases), so don't pay for convergence — 5 Lloyd iterations,
    # each a full job, vs the default 20. Fit on a SAMPLE: Lloyd iterations
    # scan the fit set every round, and centroids from a few hundred points
    # per cell match full-corpus centroids to well within cell-boundary
    # noise — at 100 TB the fit input must not be the corpus. Auto-sizes to
    # ~200 points per cell unless fit_fraction pins it.
    # a caller-supplied prefit quantizer (see fit_ivf_quantizer) skips the
    # count + sample + Lloyd jobs entirely — the production pattern: the
    # quantizer is trained once per corpus version and reused by every
    # search; with fixed seed the refit would produce identical centroids
    # anyway, so results are unchanged.
    if model is None:
        n_vecs = feats.count()
        if fit_fraction is None:
            target = 200.0 * n_cells
            fit_fraction = min(1.0, target / max(n_vecs, 1))
        fit_set = (
            feats.sample(fraction=fit_fraction, seed=seed)
            if fit_fraction < 1.0
            else feats
        )
        model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(fit_set)
    assigned = model.transform(feats).select(
        "neighbor_id", "_cv", "_cn", F.col("prediction").alias("_cell")
    )
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        ["_cell", "_centroid"],
    ).withColumn("_ctn", l2_norm(F.col("_centroid")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    ).filter(F.col("_qn") > 0.0)
    # query x centroid: tiny (|Q| * n_cells), centroid side broadcast;
    # norms reused from the precomputed columns (one fold per pair)
    qc = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn(
            "_qc_cos",
            _safe_div(
                dot(F.col("_qv"), F.col("_centroid")),
                F.col("_qn") * F.col("_ctn"),
            ),
        )
        .select("query_id", "_qv", "_qn", "_cell", "_qc_cos")
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("_qc_cos").desc(), F.col("_cell").asc()
    )
    ranked_cells = qc.withColumn("_crank", F.row_number().over(wc))
    probed = ranked_cells.filter(F.col("_crank") <= n_probe).select(
        "query_id", "_qv", "_qn", "_cell"
    )

    def _score(cells: DataFrame) -> DataFrame:
        return (
            cells.join(assigned, "_cell")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                _safe_div(
                    dot(F.col("_qv"), F.col("_cv")),
                    F.col("_qn") * F.col("_cn"),
                ).alias("cosine_sim"),
            )
        )

    scored = _score(probed)

    if exact:
        # the assigned index is consumed three times below (probe scoring,
        # radius agg, extra-probe scoring) and the phase-1 candidates twice
        # (kth-best agg, final union) — persist both so the KMeans transform
        # + corpus scan run once, the same reuse a production deployment
        # gets by materializing the IVF index as a table. MEMORY_AND_DISK
        # is deliberate: consumers run lazily after return, so there is no
        # safe unpersist point — oversized frames spill instead of evicting
        # a sibling query's cache under LRU pressure.
        from checkatron_spark.session import scratch_persist

        assigned = assigned.transform(scratch_persist)
        scored = scored.transform(scratch_persist)
        # index-time per-cell angular radius: max angle(member, centroid)
        # == acos(min cosine). One agg over the corpus, n_cells rows out.
        # _EPS absorbs the acos/cos round-trip error (~1e-8 rad near
        # cos≈1), which is LARGER than FP ulp — a tighter slack could prune
        # a cell holding a true top-k neighbor sitting on the bound. 1e-6
        # only costs a few extra probed cells.
        _EPS = 1e-6
        clamp = lambda c: F.greatest(F.lit(-1.0), F.least(F.lit(1.0), c))  # noqa: E731
        radius = (
            assigned.join(F.broadcast(centroids), "_cell")
            .select(
                "_cell",
                F.acos(
                    clamp(
                        _safe_div(
                            dot(F.col("_cv"), F.col("_centroid")),
                            F.col("_cn") * F.col("_ctn"),
                        )
                    )
                ).alias("_ang"),
            )
            .groupBy("_cell")
            .agg((F.max("_ang") + F.lit(_EPS)).alias("_radius"))
        )
        # per-query kth-best similarity from the first probe; queries with
        # fewer than k candidates get the -1 floor (probe everything).
        wk = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc())
        kth = (
            scored.withColumn("_r", F.row_number().over(wk))
            .filter(F.col("_r") <= k)
            .groupBy("query_id")
            .agg(
                F.min("cosine_sim").alias("_skmin"),
                F.count(F.lit(1)).alias("_nk"),
            )
            .select(
                "query_id",
                F.when(F.col("_nk") >= k, F.col("_skmin"))
                .otherwise(F.lit(-1.0))
                .alias("_sk"),
            )
        )
        # spherical triangle inequality: angle(q, v) >= theta_qc - r_c for
        # any v in cell c, so cos(max(0, theta_qc - r_c)) bounds the best
        # cosine the cell can hold. Probe every unprobed cell whose bound
        # clears s_k (eps covers FP rounding + kth-place ties).
        theta = F.acos(clamp(F.col("_qc_cos")))
        bound = F.when(theta <= F.col("_radius"), F.lit(1.0)).otherwise(
            F.cos(theta - F.col("_radius"))
        )
        extra = (
            ranked_cells.filter(F.col("_crank") > n_probe)
            .join(F.broadcast(radius), "_cell")
            .join(F.broadcast(kth), "query_id", "left")
            .filter(
                F.coalesce(
                    bound
                    >= F.coalesce(F.col("_sk"), F.lit(-1.0)) - F.lit(_EPS),
                    F.lit(True),  # NULL bound (zero centroid) -> probe
                )
            )
            .select("query_id", "_qv", "_qn", "_cell")
        )
        scored = scored.unionByName(_score(extra))

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.round("cosine_sim", 6).alias("cosine_sim"))
    )


def ann_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    bucket_length: float = 0.5,
    num_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via BucketedRandomProjectionLSH over L2-normalized
    vectors (Euclidean distance on the unit sphere is monotone in cosine:
    ||a-b||^2 = 2 - 2 cos). Probabilistic -> rows-only driver check."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    from checkatron_spark.session import scratch_checkpoint

    def normed(df, out_id):
        # the norm is HOISTED into a column first: HOF lambdas are
        # interpreted with no CSE, so an inline l2_norm would re-run the
        # O(d) fold once per ELEMENT — O(d^2) per row; zero-norm/NULL
        # embeddings dropped (ANSI divide-by-zero). The final scratch
        # localCheckpoint is a deliberate OPTIMIZER BARRIER: MLlib's hash
        # UDF predicates get pushed below the filter and combined with it,
        # and conjunct order is not guaranteed — a degenerate row then
        # reaches the UDF (dim-0 vector) before the filter drops it. The
        # lineage cut keeps every predicate above the cleaned relation.
        # Cost is one materialization of the cleaned vectors — acceptable
        # for this MLlib API-parity surface (the declared scale paths are
        # IVF / banded MinHash).
        return scratch_checkpoint(
            df.select(
                F.col(id_col).alias(out_id),
                F.col(vec_col).alias("_raw"),
                l2_norm(F.col(vec_col)).alias("_n"),
            )
            .filter(F.col("_n") > 0.0)
            .select(
                out_id,
                array_to_vector(
                    F.transform(
                        # degenerate rows are filtered out above, but the
                        # optimizer may evaluate this projection alongside
                        # reordered predicates, so it must be TOTAL: a
                        # NULL array NPEs array_to_vector (coalesce to
                        # empty) and a NULL/zero divisor would either
                        # throw under ANSI or emit a NULL element the
                        # vector type refuses (neutral 1.0)
                        F.coalesce(
                            F.col("_raw"),
                            F.array().cast("array<double>"),
                        ),
                        lambda x: x.cast("double")
                        / F.when(F.col("_n") > 0.0, F.col("_n")).otherwise(
                            F.lit(1.0)
                        ),
                    )
                ).alias("_nv"),
            ),
            eager=False,
        )

    vecs = normed(vectors, "neighbor_id")
    qs = normed(queries, "query_id")
    lsh = BucketedRandomProjectionLSH(
        inputCol="_nv", outputCol="_hashes", bucketLength=bucket_length,
        numHashTables=num_tables, seed=seed,
    )
    model = lsh.fit(vecs)
    # approxSimilarityJoin with generous radius, then exact re-rank of the
    # candidates (sqrt(2 - 2*0.5): cosine >= 0.5 candidates)
    pairs = model.approxSimilarityJoin(vecs, qs, 1.5, distCol="_d")
    scored = pairs.select(
        F.col("datasetB.query_id").alias("query_id"),
        F.col("datasetA.neighbor_id").alias("neighbor_id"),
        (F.lit(1.0) - F.col("_d") * F.col("_d") / F.lit(2.0)).alias("cosine_sim"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.round("cosine_sim", 6).alias("cosine_sim"))
    )


def ann_lsh_banded_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    band_bits: int = 8,
    k: int = 3,
    scale: int = 10000,
) -> DataFrame:
    """Banded sign-bit LSH top-k — the APPROXIMATE random-hyperplane LSH
    search, deterministic end to end (VERDICT r13 #2): the hyperplanes
    are the coordinate axes (the sign_hash_codes contract, v > 0), bits
    group into ``band_bits``-wide bands, and two vectors are CANDIDATES
    iff they agree on at least one whole band — the MinHash-LSH banding
    trick applied to SRP bits. Candidates are then ranked by the exact
    BIGINT grid distance (the pq family's _quantized rule), ties by
    neighbor id, so the DuckDB oracle replays every band value, every
    candidate decision, and every distance bit-for-bit — unlike the
    MLlib ``BucketedRandomProjectionLSH`` twin (ann_lsh_topk), whose
    seeded hash functions no other engine can reproduce.

    Scale shape: band tables are (id, band_idx, band_val) — the
    candidate join keys on band equality (bucketed, never all-pairs),
    the |Q|-side band table broadcasts, and scoring touches only the
    deduped candidate pairs. Recall falls as band_bits grows (fewer,
    stricter collisions) — ann_recall_audit measures exactly that.
    Uniform embedding width is the family contract (ragged widths are a
    corpus defect; see ann_hamming_topk's guard). Returns (query_id,
    neighbor_id, rank, lsh_dist); queries absent from every shared
    bucket return fewer than k rows by design."""
    band = F.expr(
        f"transform(sequence(0, CAST(ceil(size({vec_col}) / "
        f"{band_bits}.0) AS INT) - 1), b -> aggregate(slice({vec_col}, "
        f"b * {band_bits} + 1, {band_bits}), 0L, "
        "(acc, v) -> acc * 2 + IF(v > 0, 1L, 0L)))"
    )
    norm = F.expr(
        f"sqrt(aggregate({vec_col}, 0.0D, "
        "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
    grid = F.expr(
        f"transform({vec_col}, v -> "
        f"CAST(floor(CAST(v AS DOUBLE) * {scale}.0 + 0.5) AS BIGINT))"
    )

    # two LEAN corpus projections instead of one wide frame consumed
    # twice (round 14, guide §2.3): the band scan computes only the band
    # fold and the scoring scan only the grid transform — the old shape
    # evaluated BOTH 64-element lambda folds in BOTH scans. The |Q|-side
    # frames are tiny either way.
    qf = queries.filter(norm > F.lit(0.0)).select(
        F.col(id_col).alias("query_id"),
        band.alias("_bands"),
        grid.alias("_x"),
    )
    cb = vectors.filter(norm > F.lit(0.0)).select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode(band).alias("_bi", "_bv"),
    )
    qb = qf.select("query_id", F.posexplode("_bands").alias("_bi", "_bv"))
    cand = (
        cb.join(F.broadcast(qb), ["_bi", "_bv"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    dist = F.expr(
        "aggregate(zip_with(_qx, _x, (a, b) -> (a - b) * (a - b)), 0L, "
        "(acc, v) -> acc + v)"
    )
    corp_x = vectors.filter(norm > F.lit(0.0)).select(
        F.col(id_col).alias("neighbor_id"), grid.alias("_x")
    )
    scored = (
        cand.join(corp_x, "neighbor_id")
        .join(
            F.broadcast(
                qf.select("query_id", F.col("_x").alias("_qx"))
            ),
            "query_id",
        )
        .select("query_id", "neighbor_id", dist.alias("lsh_dist"))
    )
    return topk_two_phase(scored, "lsh_dist", k)


def decontaminate_semantic(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
) -> DataFrame:
    """SEMANTIC decontamination: corpus items whose embedding is too close
    to any evaluation/benchmark item (cosine >= threshold) — the
    paraphrase-leakage complement of the n-gram `decontaminate` pass,
    which only catches verbatim overlap.

    Same broadcast shape as the lexical pass: eval sets are tiny relative
    to the corpus, so the benchmark vectors BROADCAST and the corpus side
    is one scan — each corpus row scored against the (in-memory) benchmark
    set, then a per-item aggregate. No corpus-sized shuffle; at 100 TB the
    cost is |corpus| x |benchmark| fused into the scan. Compiles to a
    broadcast nested loop with the similarity predicate pushed into the
    join — deliberate probe-all against the small build side, the same
    class as ``ann_bruteforce_topk`` (plan-pinned in tests/test_plans.py's
    BNLJ allow-list).

    Returns (id_col, n_bench_hits, max_bench_sim) for contaminated items
    only; anti-join the corpus against it to clean.
    """
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # zero-norm CORPUS rows can't match anything (cosine undefined) and
    # would trip ANSI divide-by-zero — filter them; locating them is
    # embedding_audit's job, not the gate's
    c = corpus.select(
        F.col(id_col).alias("_cid"),
        dv.alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
    ).filter(F.col("_cn") > 0.0)
    b = benchmark.select(
        dv.alias("_bv"),
        l2_norm(F.col(vec_col)).alias("_bn"),
    )
    # a zero-norm (or NULL) BENCHMARK vector would make the cosine NULL
    # against every corpus row — the degenerate eval embedding silently
    # disabling its own decontamination. Fail fast instead: the benchmark
    # side is tiny by contract (it broadcasts), so this eager probe is one
    # bounded job, same class as the Bloom-mask collect. NULL embeddings
    # make _bn NULL and `~(NULL > 0)` is NULL (dropped by filter), so the
    # predicate must fold NULL-norm to "degenerate" explicitly (ADVICE r6)
    if b.filter(
        ~F.coalesce(F.col("_bn") > 0.0, F.lit(False))
    ).limit(1).count():
        raise ValueError(
            "decontaminate_semantic: benchmark contains a zero-norm or "
            "NULL embedding; it would match nothing (cosine undefined). "
            "Drop or fix degenerate eval vectors first (embedding_audit "
            "locates them)."
        )
    sim = dot(F.col("_cv"), F.col("_bv")) / (F.col("_cn") * F.col("_bn"))
    return (
        c.crossJoin(F.broadcast(b))
        .withColumn("_sim", sim)
        .filter(F.col("_sim") >= threshold)
        .groupBy(F.col("_cid").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_bench_hits"),
            F.round(F.max("_sim"), 6).alias("max_bench_sim"),
        )
    )
