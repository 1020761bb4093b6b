"""Deduplication operators for training-data pipelines at 100 TB scale.

Five families, from exact to approximate:

- exact          : content-hash groupBy (one shuffle on md5, min-id winner)
- keyed          : row_number()==1 inside a partition key (window, one shuffle)
- ngram_jaccard  : EXACT near-dup via shingle inverted index — only pairs that
                   share >=1 shingle are compared (no O(n^2) cross join);
                   SQL-expressible, oracle-checked
- minhash_lsh    : MinHash + banded LSH (MLlib) — the probabilistic scale
                   path; candidates verified with exact Jaccard
- simhash        : 60-bit SimHash fingerprints + banded bucketing for
                   Hamming-distance near-dups

The inverted-index shape is the one that survives 100x scale-up: the shuffle
key is the shingle (or band hash), so work is proportional to shared content,
not to n^2. Hot shingles (stop-shingles shared by a large fraction of docs)
are the skew risk — ``max_shingle_freq`` drops them, which is both a perf
guard and standard near-dup practice.

A similarity join is candidate generation plus one verification step, and
each near-dup rule is written once here, as a private helper every
operator uses:

- ``_shingler``            : the word n-gram shingle rule (the ``shingles``
                             UDF and the banded-MinHash signature UDF), and
  ``_shingle_rows``          one row per (doc, shingle) for decontamination;
- ``_hot``                 : the skew guard's hot set (``max_shingle_freq``,
                             ``max_fp_freq``);
- ``_ppjoin_prefix``       : the PPJoin prefix stage (n-gram Jaccard, full
                             and incremental);
- ``_band_candidates``     : the (band index, band value) self-join, with
  ``_check_bands``           its ``num_hashes % band_r`` guard (both MinHash
                             operators);
- ``_jaccard_verified``    : the exact-Jaccard verifier every candidate
                             generator above feeds;
- ``_bloom_pos_sql``       : the Bloom bit position and bit test as SQL, one
  ``_bloom_all_set_sql``     copy for the mask build, the batch probe and the
                             streaming gate (``bloom_hits_expr``).

The min-id-per-fingerprint collapse is :func:`dedup_canonical`; the staged
corpus dedup calls it with no key columns.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType
from pyspark.sql.window import Window
from checkatron_spark.session import release, scratch_checkpoint, scratch_persist

from checkatron_spark.functions.text import WS_CLASS, fingerprint

__all__ = [
    "dedup_exact",
    "dedup_keyed",
    "shingles",
    "neardup_ngram_jaccard",
    "dedup_incremental",
    "neardup_incremental",
    "neardup_minhash_lsh",
    "neardup_minhash_banded",
    "simhash64",
    "neardup_simhash",
    "connected_components",
    "dedup_corpus",
    "reelect_representatives",
    "split_by_cluster",
    "substring_dup_pairs",
    # decontamination (exact, per-suite and Bloom) and staged corpus dedup
    "decontaminate",
    "decontaminate_multi",
    "bloom_mask_words",
    "bloom_merge_masks",
    "bloom_hits_expr",
    "decontaminate_bloom",
    "fuzzy_pairs_blocked",
    "dedup_corpus_staged",
    "dedup_canonical",
]


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact content dedup: md5-of-normalized-text groups; the minimum id is
    the kept representative. Returns (fingerprint, keep_id, n_dups)."""
    return (
        df.select(
            fingerprint(F.col(text_col)).alias("fp"), F.col(id_col).alias("_id")
        )
        .groupBy("fp")
        .agg(
            F.min("_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def dedup_keyed(df: DataFrame, partition_cols: list[str], order_col: str) -> DataFrame:
    """Keep the first row per key (row_number()==1, deterministic order).
    One shuffle on the partition key; survives scale as long as no single
    key dominates (AQE skew split otherwise)."""
    w = Window.partitionBy(*partition_cols).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# the whitespace contract, python side: the class is DERIVED from the
# single source of truth (functions/text.py WS_CLASS — python re reads the
# \t/\n escapes identically to Java/RE2), plus space-only strip matching
# SQL trim() exactly
_WS_RE = re.compile(WS_CLASS + "+")


def _shingler(n: int):
    """THE shingle rule (semantics in :func:`shingles`): a function from
    one text to its distinct word n-grams, in first-occurrence order. A
    closure, so the UDFs that call it ship it by value — Python workers
    need not import this package."""

    def grams(text) -> list[str]:
        words = _WS_RE.split((text or "").strip(" "))
        if len(words) < n:
            return [" ".join(words)]
        return list(
            dict.fromkeys(
                " ".join(words[i : i + n]) for i in range(len(words) - n + 1)
            )
        )

    return grams


def shingles(text_col, n: int = 3):
    """Distinct word n-gram shingles as array<string> (space-joined), via an
    Arrow-batched pandas UDF.

    Semantics (mirrored by the DuckDB oracles): split SQL-trimmed text
    (spaces only — NOT python str.strip, which eats unicode whitespace the
    oracle's trim() keeps) on the explicit ``[ \\t\\n\\r\\f]+`` class
    (the whitespace contract, functions/text.py WS_CLASS; python's
    ``\\s`` is unicode-aware and Java's includes \\x0B — both diverge
    from the RE2 oracle). Empty text yields the [''] sentinel like SQL
    split; docs with < n words get one whole-doc shingle; order-preserving
    dedup.

    A pure-JVM formulation exists (transform over an index sequence with
    concat_ws/element_at) but Catalyst interprets higher-order lambdas
    per-element — measured ~13 us per shingle, 8+ s for 5k docs at sf0.1.
    The vectorized Python loop over Arrow batches is ~10x faster and is the
    intended pattern for this shape of per-row text kernel."""

    grams = _shingler(n)

    @F.pandas_udf(ArrayType(StringType()))
    def _sh(texts: pd.Series) -> pd.Series:
        return pd.Series([grams(t) for t in texts])

    return _sh(text_col)


def _shingle_rows(df: DataFrame, text_col: str, n: int, *cols) -> DataFrame:
    """One row per (``cols``..., shingle ``s``) of each text."""
    return df.select(*cols, F.explode(shingles(F.col(text_col), n)).alias("s"))


def _hot(rows: DataFrame, key: str, max_freq: int) -> DataFrame:
    """THE skew guard's hot set: the ``key`` values on more than
    ``max_freq`` rows (shingles or fingerprints, one row per doc)."""
    return (
        rows.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_f"))
        .filter(F.col("_f") > max_freq)
        .select(key)
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: find corpus docs sharing any word n-gram
    with an evaluation/benchmark set (the training-data hygiene step that
    keeps eval questions out of the training corpus).

    Plan: the benchmark's distinct shingle set is tiny relative to the
    corpus (eval sets are thousands of docs, corpora are billions), so it
    BROADCASTS — the corpus side is one scan + shingle explode + broadcast
    hash semi-join + per-doc count, no corpus-sized shuffle on the gram
    key. Returns (id_col, n_matched_grams) for contaminated docs only;
    anti-join the corpus against it to clean."""
    doc_sh = _shingle_rows(docs, text_col, n, id_col)
    bench_sh = _shingle_rows(benchmark, text_col, n).distinct()
    return (
        doc_sh.join(F.broadcast(bench_sh), "s")
        .groupBy(id_col)
        .agg(F.count_distinct(F.col("s")).alias("n_matched_grams"))
    )


def decontaminate_multi(
    docs: DataFrame,
    benchmarks: DataFrame,
    text_col: str,
    id_col: str,
    bench_col: str,
    *,
    n: int = 3,
) -> DataFrame:
    """Per-benchmark contamination report in ONE corpus pass: ``benchmarks``
    is a LABELED eval frame (``bench_col``, ``text_col`` — e.g. a dozen
    eval suites stacked), and the output says which suite leaks into which
    document: (id_col, bench_col, n_matched_grams).

    Same plan as :func:`decontaminate`, with the benchmark label carried
    through the broadcast: the distinct (bench, gram) set is still
    eval-set-sized so it broadcasts, and the corpus side is one scan +
    shingle explode + broadcast join + per-(doc, bench) count — adding
    suites never adds corpus scans. The single-benchmark operator is the
    bench_col-constant special case; an anti-join on the distinct doc ids
    cleans against ALL suites at once."""
    doc_sh = _shingle_rows(docs, text_col, n, id_col)
    bench_sh = _shingle_rows(benchmarks, text_col, n, bench_col).distinct()
    return (
        doc_sh.join(F.broadcast(bench_sh), "s")
        .groupBy(id_col, bench_col)
        .agg(F.count_distinct(F.col("s")).alias("n_matched_grams"))
    )


def _bloom_pos_sql(gram: str, seed: int, m_bits: int) -> str:
    """THE Bloom bit position, as SQL over the gram expression ``gram``:
    md5 of 'gram#seed', first 8 hex chars as uint32, mod m_bits. The mask
    build (bloom_mask_words) sets these bits and every probe tests them
    through :func:`_bloom_all_set_sql` — the bit-for-bit mask/probe
    agreement across engines IS the design, so there is exactly one copy.
    (SQL rather than Column: the bit test needs a variable-amount
    shiftright, which only the SQL layer has.)"""
    return (
        f"(CAST(conv(substring(md5(concat({gram}, '#{seed}')), 1, 8), 16, 10) "
        f"AS BIGINT) % {m_bits})"
    )


def _bloom_all_set_sql(gram: str, bits: str, m_bits: int, k: int) -> str:
    """SQL predicate: all ``k`` Bloom bits of ``gram`` are set in the mask
    column ``bits`` (an array of m_bits/64 longs)."""
    tests = []
    for i in range(k):
        pos = _bloom_pos_sql(gram, i, m_bits)
        tests.append(
            f"((shiftright(element_at({bits}, CAST({pos} div 64 AS INT) + 1), "
            f"CAST({pos} % 64 AS INT)) & 1) = 1)"
        )
    return " AND ".join(tests)


def bloom_mask_words(
    benchmark: DataFrame,
    text_col: str,
    *,
    n: int = 3,
    m_bits: int = 65536,
    k: int = 3,
) -> list[int]:
    """The Bloom mask over a benchmark's distinct word n-grams, as the
    list of m_bits/64 signed longs a caller embeds with ``F.lit`` (see
    ``decontaminate_bloom`` for the full design discussion; the driver
    collect here is bounded by min(k·|grams|, m_bits) integers)."""
    bench_sh = _shingle_rows(benchmark, text_col, n).distinct()
    pos_rows = (
        bench_sh.select(
            F.array(
                *[F.expr(_bloom_pos_sql("s", i, m_bits)) for i in range(k)]
            ).alias("ps")
        )
        .select(F.explode("ps").alias("p"))
        .distinct()
        .collect()
    )
    words = [0] * (m_bits // 64)
    for r in pos_rows:
        words[r.p // 64] |= 1 << (r.p % 64)
    # two's-complement fold: Spark longs are signed 64-bit
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_merge_masks(*masks: list[int]) -> list[int]:
    """Merge Bloom masks (bitwise OR per 64-bit word, signed-long safe):
    per-benchmark-snapshot masks fold into the mask of the union of their
    gram sets — associative, commutative, and idempotent, so an
    incremental pipeline can re-merge an already-merged snapshot without
    drift (property-pinned across 3-snapshot chains in
    tests/test_properties.py). A probe against the merged mask flags a
    superset of what any constituent mask flags."""
    if not masks:
        raise ValueError("bloom_merge_masks: need at least one mask")
    n = len(masks[0])
    if any(len(m) != n for m in masks):
        raise ValueError("bloom_merge_masks: masks differ in m_bits")
    u64 = (1 << 64) - 1
    out = []
    for i in range(n):
        w = 0
        for m in masks:
            w |= m[i] & u64
        out.append(w - (1 << 64) if w >= (1 << 63) else w)
    return out


def bloom_hits_expr(
    arr_col: str, bits_col: str, *, m_bits: int = 65536, k: int = 3
) -> str:
    """SQL expression counting how many grams of an ARRAY column have all
    ``k`` Bloom bits set in the literal-mask column — the zero-state,
    zero-join membership test as a pure projection (the streaming gate's
    shape: no explode, no aggregation, so an append stream stays
    stateless). The bit test is the batch probe's own
    (:func:`_bloom_all_set_sql`)."""
    all_set = _bloom_all_set_sql("s", bits_col, m_bits, k)
    return f"size(filter({arr_col}, s -> {all_set}))"


def decontaminate_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    m_bits: int = 65536,
    k: int = 3,
    mask_words: list[int] | None = None,
) -> DataFrame:
    """Bloom-filter decontamination — the 100 TB shape of ``decontaminate``.

    The exact semi-join ships the benchmark's distinct gram STRINGS to every
    executor; at a few million eval grams that broadcast is tens of MB of
    text and the probe is a hash lookup per corpus gram. The Bloom variant
    compresses the benchmark side to a fixed ``m_bits``-bit mask (8 KiB at
    the default 2^16) that is embedded in the scan as a literal array of
    longs: each gram sets/tests ``k`` bit positions derived from the same
    portable md5 primitive the sampling operators use (first 8 hex chars →
    uint32, mod m). Probing is pure JVM bit arithmetic inside whole-stage
    codegen — no join at all on the corpus side, just a scan — at the price
    of a tunable false-positive rate (≈ (1-e^{-kg/m})^k for g benchmark
    grams; over-flagging is the SAFE direction for decontamination).

    The driver-side collect is bounded by min(k·|bench grams|, m_bits)
    integers — the same bounded-collect pattern as the incremental
    changed-bucket inlining — and is how the mask becomes a broadcast
    literal instead of a shuffled table.

    Determinism: bit positions are md5-derived on both engines, so the
    flagged set (false positives included) is bit-identical across Spark
    and the DuckDB oracle. Returns (id_col, n_flagged_grams) for flagged
    docs only."""
    # pass mask_words (from a prior bloom_mask_words call) to skip the
    # benchmark-side build — the mask is a pure function of the benchmark
    if mask_words is None:
        mask_words = bloom_mask_words(
            benchmark, text_col, n=n, m_bits=m_bits, k=k
        )
    doc_sh = _shingle_rows(docs, text_col, n, id_col).withColumn(
        "_bits", F.lit(mask_words)
    )
    return (
        doc_sh.filter(F.expr(_bloom_all_set_sql("s", "_bits", m_bits, k)))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_flagged_grams"))
    )


def fuzzy_pairs_blocked(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    *,
    max_dist: int = 2,
) -> DataFrame:
    """Entity-resolution fuzzy matching: pairs whose ``text_col`` values are
    within ``max_dist`` Levenshtein edits, restricted to the same
    ``block_cols`` BLOCK — the standard record-linkage blocking trick that
    turns an O(n²) all-pairs scan into an equi-join shuffled on the block
    key, with candidate count ∝ Σ block_size². Two cheap pre-filters run
    before the edit-distance kernel: ``id_a < id_b`` (each unordered pair
    once) and the length-band ``|len_a − len_b| ≤ max_dist`` (edit distance
    is bounded below by length difference), so the quadratic-ish kernel
    only touches plausible candidates. All JVM-side codegen — no UDF.

    At 100 TB: choose blocks so the hottest block stays bounded (brand,
    zip, first token…); a skewed block inherits AQE skew-join splitting,
    and the length band can be folded into the block key (length bucket)
    to cut candidates further.
    """
    a = df.select(
        *[F.col(c).alias(f"bk_{c}") for c in block_cols],
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("text_a"),
    )
    b = df.select(
        *[F.col(c).alias(f"bk_{c}") for c in block_cols],
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("text_b"),
    )
    pairs = a.join(b, [f"bk_{c}" for c in block_cols]).filter(
        (F.col("id_a") < F.col("id_b"))
        & (
            F.abs(F.length("text_a") - F.length("text_b"))
            <= F.lit(max_dist)
        )
    )
    # threshold form runs a banded DP with early exit (returns -1 above the
    # threshold) — measured 2.2x faster than unbounded levenshtein + filter
    dist = F.expr(f"levenshtein(text_a, text_b, {int(max_dist)})").cast("int")
    return (
        pairs.withColumn("dist", dist)
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", "text_a", "text_b", "dist")
    )


def _ppjoin_prefix(posts: DataFrame, threshold: float, keys: list[str]) -> DataFrame:
    """THE PPJoin prefix stage: keep each doc's first
    ``floor((1-t)*_n) + 1`` postings under the global order (ascending
    document frequency, ties by value — rarest first). ``posts`` is one
    row per (``keys``..., ``_n``, shingle ``_s``); returns the persisted
    (``keys``..., ``_s``) prefix rows, which feed both sides of the
    candidate join (the materialized ordered-postings index every
    PPJoin-family implementation builds; Spark evicts LRU)."""
    freq = posts.groupBy("_s").agg(F.count(F.lit(1)).alias("_f"))
    w = Window.partitionBy(*keys).orderBy(F.col("_f").asc(), F.col("_s").asc())
    # +1e-9 before floor: (1-t)*n is an IEEE product and lands a hair BELOW
    # the true value whenever it is mathematically an integer (e.g. t=0.8,
    # n=5 -> 0.999...8, floor 0 instead of 1) — the lemma then gets a prefix
    # one element short and can MISS a qualifying pair. One extra prefix
    # element only adds candidates; one missing breaks exactness.
    prefix_len = (
        F.floor(
            (F.lit(1.0) - F.lit(threshold)) * F.col("_n") + F.lit(1e-9)
        ).cast("int")
        + F.lit(1)
    )
    return (
        posts.join(freq, "_s")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= prefix_len)
        .select(*keys, "_s")
        .transform(scratch_persist)
    )


def _jaccard_verified(
    cand: DataFrame,
    a_docs: DataFrame,
    b_docs: DataFrame,
    threshold: float,
    *,
    a: str = "id_a",
    b: str = "id_b",
    out: str = "jaccard",
) -> DataFrame:
    """THE exact-Jaccard verifier every candidate generator feeds:
    ``cand`` holds (``a``, ``b``) id pairs, ``a_docs``/``b_docs`` hold
    (``_id``, shingle array ``_sh``) for each side. Returns (``a``, ``b``,
    ``out``) with ``out`` = |A∩B| / (|A|+|B|-|A∩B|) >= threshold. The
    denominator is summed in integers and divided once as doubles — exact
    for any set size below 2^53, so every caller gets bit-identical
    values."""
    inter = F.size(F.array_intersect("_sha", "_shb"))
    sha = a_docs.select(F.col("_id").alias(a), F.col("_sh").alias("_sha"))
    shb = b_docs.select(F.col("_id").alias(b), F.col("_sh").alias("_shb"))
    return (
        cand.join(sha, a)
        .join(shb, b)
        .withColumn(
            out,
            inter.cast("double")
            / (F.size("_sha") + F.size("_shb") - inter).cast("double"),
        )
        .filter(F.col(out) >= threshold)
        .select(a, b, out)
    )


def neardup_ngram_jaccard(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via PREFIX FILTERING (the
    PPJoin-family set-similarity join).

    Correctness lemma: order every doc's shingles by a global total order
    (ascending document frequency, ties by value — rarest first). If
    J(A,B) >= t then A and B must share a shingle within the first
    ``floor((1-t)*|X|) + 1`` shingles of each — so joining only on these
    PREFIX shingles finds every qualifying pair, while the hot (frequent)
    shingles that drive candidate blowup sit at the ends of the ordering
    and mostly drop out of prefixes. Candidates are then verified exactly
    with ``array_intersect`` on the full shingle sets.

    Shuffles: freq count (by shingle) -> per-doc window (by id) -> candidate
    join (by prefix shingle) -> verify joins (by id). Work scales with
    genuinely-similar content, not with hot-token fanout — the property
    that survives a 100x scale-up. ``max_shingle_freq`` optionally drops
    ultra-hot shingles from the index entirely (changes semantics: pairs
    sharing ONLY dropped shingles are missed; off by default).

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    # docs feeds the posting list AND both verify sides (3 consumers) —
    # persisted so shingling runs once
    docs = df.select(
        F.col(id_col).alias("_id"),
        shingles(F.col(text_col), n).alias("_sh"),
    ).withColumn("_n", F.size("_sh")).transform(scratch_persist)
    posts = docs.select("_id", "_n", F.explode("_sh").alias("_s"))
    if max_shingle_freq is not None:
        hot = _hot(posts, "_s", max_shingle_freq)
        posts = posts.join(F.broadcast(hot), "_s", "left_anti")
    prefix = _ppjoin_prefix(posts, threshold, ["_id"])
    cand = (
        prefix.alias("pa")
        .join(prefix.alias("pb"), "_s")
        .select(
            F.col("pa._id").alias("id_a"), F.col("pb._id").alias("id_b")
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    return _jaccard_verified(cand, docs, docs, threshold)


def dedup_incremental(
    new_docs: DataFrame,
    base_docs: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Incremental-ingestion exact dedup: classify every NEW document
    against the already-ingested base corpus — ``dup_of_base`` when its
    content fingerprint already exists in the base, ``dup_in_batch`` for
    second-and-later occurrences within the new batch itself (first
    occurrence by id wins), ``new`` otherwise. This is the admission gate
    of a continuously-growing corpus: the base is never re-deduped, only
    its fingerprint set is consulted.

    Plan: base collapses to DISTINCT fingerprints (in production a
    persisted fingerprint table — the base text is never re-read); one
    shuffle on fp serves BOTH the left join and the within-batch
    row_number window (same key, Spark reuses the exchange). Work scales
    with |new| + |base fingerprints|, not |base text| — the property that
    makes daily ingestion into a 100 TB corpus cheap."""
    new_fp = new_docs.select(
        F.col(id_col).alias("doc_id"),
        fingerprint(F.col(text_col)).alias("fp"),
    )
    base_fp = (
        base_docs.select(fingerprint(F.col(text_col)).alias("fp"))
        .distinct()
        .withColumn("_in_base", F.lit(1))
    )
    w = Window.partitionBy("fp").orderBy(F.col("doc_id").asc())
    return (
        new_fp.join(base_fp, "fp", "left")
        .withColumn("_rn", F.row_number().over(w))
        .select(
            "doc_id",
            "fp",
            F.when(F.col("_in_base") == 1, F.lit("dup_of_base"))
            .when(F.col("_rn") > 1, F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


def neardup_incremental(
    new_docs: DataFrame,
    base_docs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental near-dup detection: exact n-gram Jaccard pairs between a
    NEW batch and the existing base corpus (bipartite variant of
    ``neardup_ngram_jaccard`` — same prefix-filtering lemma, the global
    shingle order is document frequency over the UNION of both sides, and
    candidates come from joining new-side prefixes against base-side
    prefixes only). New-vs-new pairs are ``neardup_ngram_jaccard`` on the
    batch; base-vs-base was settled when the base was admitted.

    Shuffle work scales with the new batch's postings plus the base
    prefix index (persistable across batches in production), never with
    all-pairs. Returns (new_id, base_id, jaccard >= threshold)."""
    tagged = new_docs.select(
        F.lit(0).alias("_side"),
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_t"),
    ).unionByName(
        base_docs.select(
            F.lit(1).alias("_side"),
            F.col(id_col).alias("_id"),
            F.col(text_col).alias("_t"),
        )
    )
    docs = (
        tagged.select(
            "_side", "_id", shingles(F.col("_t"), n).alias("_sh")
        )
        .withColumn("_n", F.size("_sh"))
        .transform(scratch_persist)
    )
    posts = docs.select("_side", "_id", "_n", F.explode("_sh").alias("_s"))
    prefix = _ppjoin_prefix(posts, threshold, ["_side", "_id"])
    cand = (
        prefix.filter(F.col("_side") == 0)
        .select(F.col("_id").alias("new_id"), "_s")
        .join(
            prefix.filter(F.col("_side") == 1).select(
                F.col("_id").alias("base_id"), "_s"
            ),
            "_s",
        )
        .select("new_id", "base_id")
        .distinct()
    )
    return _jaccard_verified(
        cand,
        docs.filter(F.col("_side") == 0),
        docs.filter(F.col("_side") == 1),
        threshold,
        a="new_id",
        b="base_id",
    )


# Above this many distinct over-cap shingles, the in-plan literal array
# (F.array of F.lit strings riding the task closure) stops being the right
# vehicle: the plan itself bloats with thousands of string literals. Past
# the bound, the hot set stays distributed — explode + broadcast ANTI join
# + order-preserving rebuild.
_HOT_SHINGLE_LITERAL_MAX = 1000


def _drop_hot_shingles(docs: DataFrame, max_shingle_freq: int) -> DataFrame:
    """Remove shingles whose document frequency exceeds the cap from every
    doc's ``_sh`` array, preserving each array's original order.

    Two bit-identical paths, chosen by the SIZE of the hot set (bounded
    probe: collect at most _HOT_SHINGLE_LITERAL_MAX+1 rows, never the
    whole set):

    - small (the normal case — boilerplate shingles are rare by
      construction, <= |corpus|/cap can exceed the cap): the hot strings
      ride the task closure as an ``array_except`` literal, zero extra
      shuffle;
    - large (adversarial many-hot-shingle corpus): posexplode + broadcast
      anti join against the hot table + re-assemble sorted by position —
      the plan carries a join, not a million-literal expression tree.
      Docs whose every shingle is hot rebuild to an EMPTY array exactly
      like array_except (the left join keeps their id; filtered grams
      aggregate to []). Property-pinned equal in tests/test_lsh.py."""
    hot_df = _hot(
        docs.select(F.explode("_sh").alias("_s")), "_s", max_shingle_freq
    )
    probe = hot_df.limit(_HOT_SHINGLE_LITERAL_MAX + 1).collect()
    if not probe:
        return docs
    if len(probe) <= _HOT_SHINGLE_LITERAL_MAX:
        hot_arr = F.array(*[F.lit(r[0]) for r in probe])
        return docs.withColumn("_sh", F.array_except(F.col("_sh"), hot_arr))
    kept = (
        docs.select("_id", F.posexplode("_sh").alias("_p", "_s"))
        .join(F.broadcast(hot_df), "_s", "left_anti")
        .groupBy("_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_p", "_s"))),
                lambda x: x["_s"],
            ).alias("_sh2")
        )
    )
    return (
        docs.select("_id")
        .join(kept, "_id", "left")
        .select(
            "_id",
            F.coalesce(F.col("_sh2"), F.array().cast("array<string>")).alias(
                "_sh"
            ),
        )
    )


def _check_bands(op: str, num_hashes: int, band_r: int) -> None:
    if num_hashes % band_r:
        raise ValueError(
            f"{op}: num_hashes ({num_hashes}) must be a multiple of band_r "
            f"({band_r}) — a short trailing band is an OR-only "
            "(quadratic-candidate) leak"
        )


def _band_candidates(bands: DataFrame) -> DataFrame:
    """THE banded-LSH candidate step: ``bands`` holds one row per (``_id``,
    band index ``_bi``, band value ``_bv``); two docs are a candidate when
    any band index carries an equal value. Returns distinct (id_a, id_b)
    with id_a < id_b. Shuffle key = (band, value), so work tracks
    genuinely-colliding content; a hot band value (many identical docs) is
    the skew risk and inherits AQE skew splitting."""
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a._bi") == F.col("b._bi"))
            & (F.col("a._bv") == F.col("b._bv"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


def neardup_minhash_lsh(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    num_hashes: int = 16,
    threshold: float = 0.8,
    num_features: int = 1 << 16,
    seed: int = 42,
    max_shingle_freq: int | None = None,
    band_r: int = 1,
) -> DataFrame:
    """MinHash + LSH near-dup candidates, verified with MLlib's Jaccard
    distance. The probabilistic scale path: signature computation is linear
    per doc; the OR-amplified band join replaces the inverted-index self-join
    when even shared-shingle joins get too hot. Returns (id_a, id_b,
    jaccard_est). Probabilistic (may miss pairs near the threshold) — driver
    gets a rows-only check; exactness is covered by neardup_ngram_jaccard.

    16 single-hash OR-amplified tables keep recall ~1 at useful thresholds
    (P[collide] = 1-(1-s)^16: 0.99997 at s=0.5, ~1 above) at a quarter of
    the 64-table candidate/explode cost.

    ``max_shingle_freq``: drop shingles whose document frequency exceeds
    the cap BEFORE hashing. A corpus-hot shingle (boilerplate by
    definition) dominates the min of every doc containing it, so its LSH
    bucket grows linearly with corpus size and candidate pairs
    quadratically — measured 23.8x runtime at a 10x corpus step with a
    linear true-pair count; capped, the bucket bound is (cap / doc_len)
    regardless of corpus size. Same policy and name as the exact
    variant's guard; jaccard_est becomes jaccard over the capped shingle
    sets (stop-shingle removal — the standard MinHashLSH practice). The
    hot set is tiny by construction (≤ |corpus|/cap distinct values can
    exceed the cap), so it rides the task closure like the Bloom mask.

    ``band_r``: MLlib's ``approxSimilarityJoin`` only supports
    OR-amplification (one hash per table), which makes candidate volume
    quadratic in corpus size whenever the corpus has nonzero BACKGROUND
    similarity (shared zipf-head shingles): P(candidate|s) ≈ b·s0 for
    every pair. With ``band_r > 1`` the MLlib model still computes the
    signatures (API parity preserved), but candidates come from an
    AND-amplified (band, r-slice) self-join over the transformed
    signatures — P = 1-(1-s^r)^b squares the background away (measured
    120x fewer candidates and linear growth at a 10x corpus step) — and
    each candidate is verified with EXACT shingle Jaccard, so
    ``jaccard_est`` is exact in this mode and false positives cannot
    survive. ``num_hashes`` must divide by ``band_r``."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    _check_bands("neardup_minhash_lsh", num_hashes, band_r)
    docs = df.select(
        F.col(id_col).alias("_id"), shingles(F.col(text_col), n).alias("_sh")
    )
    if max_shingle_freq is not None:
        docs = _drop_hot_shingles(docs, max_shingle_freq)
    tf = HashingTF(
        inputCol="_sh", outputCol="_features", numFeatures=num_features,
        binary=True,
    )
    feats = tf.transform(docs).filter(F.col("_sh") != F.array())
    # both sides of the self-join and the LSH fit consume feats — persist so
    # the scan + shingling + HashingTF pipeline runs once, not three times
    feats = feats.transform(scratch_persist)
    mh = MinHashLSH(
        inputCol="_features", outputCol="_sig", numHashTables=num_hashes,
        seed=seed,
    )
    model = mh.fit(feats)
    if band_r > 1:
        from pyspark.ml.functions import vector_to_array

        # AND-amplified candidate join over the MLlib signatures: band
        # value = the sorted r-slice of (table_idx, hash) structs — the
        # sort pins band contents deterministically regardless of
        # aggregation encounter order
        ex = (
            model.transform(feats)
            .select("_id", F.posexplode("_sig").alias("_i", "_h"))
            .select(
                "_id",
                "_i",
                vector_to_array("_h").getItem(0).cast("bigint").alias("_hv"),
            )
            .withColumn("_bi", (F.col("_i") / band_r).cast("int"))
            .groupBy("_id", "_bi")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("_i", "_hv"))
                ).alias("_bv")
            )
        )
        return _jaccard_verified(
            _band_candidates(ex), feats, feats, threshold, out="jaccard_est"
        )
    pairs = model.approxSimilarityJoin(
        feats, feats, 1.0 - threshold, distCol="_dist"
    )
    return (
        pairs.filter(F.col("datasetA._id") < F.col("datasetB._id"))
        .select(
            F.col("datasetA._id").alias("id_a"),
            F.col("datasetB._id").alias("id_b"),
            (F.lit(1.0) - F.col("_dist")).alias("jaccard_est"),
        )
    )


def simhash64(text_col_sql: str):
    """60-bit SimHash over word tokens, as a pure JVM SQL expression: per
    token, each bit contributes +1/-1; the fingerprint sets bits with
    positive sums. ``text_col_sql`` is a SQL expression string naming the
    text column. Returns BIGINT.

    Hash family: the first 15 hex chars (60 bits) of md5 — an engine-
    portable choice (DuckDB computes the identical value), so the whole
    operator has an exact SQL oracle; 60 bits also stays inside a signed
    BIGINT with no sign games. xxhash64 would be ~2x faster JVM-side but is
    Spark-only, which would leave the operator un-oracle-checkable.

    (Written with F.expr because the Python shiftleft/shiftright wrappers
    only accept literal shift amounts; SQL-side `>>`/shiftleft take columns.
    The inner ``transform`` hashes each token ONCE before the bit fold —
    inlining the md5 into the per-bit lambda would recompute it 60x per
    token in the interpreted evaluator.)
    """
    return F.expr(
        f"""
        aggregate(
            zip_with(
                aggregate(
                    transform(array_distinct(split(trim({text_col_sql}), '[ \\\\t\\\\n\\\\r\\\\f]+')),
                              w -> cast(conv(substring(md5(w), 1, 15), 16, 10)
                                        AS bigint)),
                    array_repeat(0, 60),
                    (acc, h) -> zip_with(
                        acc,
                        transform(sequence(0, 59),
                                  j -> IF(shiftright(h, j) & 1 = 1, 1, -1)),
                        (s, d) -> s + d
                    )
                ),
                sequence(0, 59),
                (s, j) -> IF(s > 0, shiftleft(1L, j), 0L)
            ),
            0L,
            (a, b) -> a + b
        )
        """
    )


def neardup_simhash(
    df: DataFrame, text_col: str, id_col: str, *, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs: band the 60-bit fingerprint into 4x15-bit
    buckets (pigeonhole: hamming<=3 pairs share >=1 exact band), join on
    (band_idx, band_value), verify with exact popcount of XOR. Shuffle key =
    band value; no cross join. Returns (id_a, id_b, hamming)."""
    # both sides of the band self-join descend from fp; persist so the
    # md5-per-word fingerprint fold (the expensive part) runs once — the
    # persisted frame is just (id, 60-bit bigint), a few bytes per doc
    fp = df.select(
        F.col(id_col).alias("_id"), simhash64(text_col).alias("_fp")
    ).transform(scratch_persist)
    bands = fp.select(
        "_id",
        "_fp",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), "
                "b -> struct(b AS band, shiftright(_fp, b * 15) & 32767 AS val))"
            )
        ).alias("_band"),
    ).select("_id", "_fp", "_band.band", "_band.val")
    left = bands.select(
        F.col("_id").alias("id_a"), F.col("_fp").alias("_fpa"), "band", "val"
    )
    right = bands.select(
        F.col("_id").alias("id_b"), F.col("_fp").alias("_fpb"), "band", "val"
    )
    cand = (
        left.join(right, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_fpa", "_fpb")
        .distinct()
    )
    hamming = F.bit_count(F.col("_fpa").bitwiseXOR(F.col("_fpb")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Cluster near-dup pairs into groups: connected components by
    min-label propagation. Returns (``id_col``, ``cluster_id``) where
    cluster_id = the smallest member id of the component (singletons
    label themselves) — downstream dedup keeps one row per cluster_id.

    The iterative-DataFrame pattern: each round joins current labels
    across the (symmetrized) edge set UNION the current label pointers
    (node <-> lbl as extra edges — pointer jumping, the same shortcutting
    idea as large-star/small-star) and takes the per-node min. A label
    therefore floods a hop AND a pointer per round: rounds needed =
    O(log diameter), so a 1000-hop near-dup chain (templated spam,
    boilerplate gradients) converges in ~10 rounds instead of 1000.
    ``localCheckpoint`` truncates the lineage each round — without it the
    plan doubles every iteration and the job dies on plan size long
    before data size matters. Genuinely iterative -> no single-query SQL
    oracle; the driver entry uses DuckDB's recursive CTE as ground truth.

    Every checkpoint goes through the scratch registry: the returned
    labels read the last one, so collect them before
    :func:`~checkatron_spark.session.release_scratch` frees it.

    Raises ``RuntimeError`` if the loop exits at ``max_iter`` with labels
    still changing: silently-unconverged labels split one component into
    several and downstream keep-list dedup would keep rows it should drop
    — fail loudly instead.
    """
    # materialize edges ONCE: the pair generator upstream (e.g. the whole
    # prefix-filtered jaccard join) would otherwise re-execute every round
    edges = scratch_checkpoint(
        pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(
            pairs.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
        )
        .distinct()
    )
    labels = scratch_checkpoint(
        nodes.select(F.col(id_col).alias("node"), F.col(id_col).alias("lbl"))
    )

    # Checkpoint release: a round's checkpoint is safe to drop exactly when
    # the round after it has materialized (checkpoints cannot recompute, so
    # never before), the edge set after the loop. Dropping them here, not
    # at GC-paced ContextCleaner time, keeps repeated runs in one session
    # from accumulating checkpoint blocks and keeps the async cleanup from
    # racing the next run's jobs. The final labels checkpoint is the
    # caller's until release_scratch().
    prev = labels
    changed = 0
    for it in range(max_iter):
        # pointer jumping: label assignments double as edges (lbl is in
        # the node's component by induction), collapsing long chains in
        # O(log diameter) rounds. Round 0 skips them — labels are still
        # the identity, so every pointer would be a useless self-loop
        if it == 0:
            prop_edges = edges
        else:
            lbl_edges = labels.filter(
                F.col("lbl") != F.col("node")  # self-loops propagate nothing
            )
            prop_edges = edges.unionByName(
                lbl_edges.select(
                    F.col("node").alias("src"), F.col("lbl").alias("dst")
                ).union(
                    lbl_edges.select(
                        F.col("lbl").alias("src"), F.col("node").alias("dst")
                    )
                )
            )
        prop = (
            prop_edges
            .join(labels, F.col("src") == F.col("node"))
            .groupBy("dst")
            .agg(F.min("lbl").alias("nlbl"))
        )
        # labels only ever decrease, so "changed" = "an incoming label beat
        # mine" — carried as a flag in the SAME pass, which saves a
        # new-vs-old join (and its shuffle) per round
        new = scratch_checkpoint(
            labels.join(prop, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
                ).alias("lbl"),
                (F.coalesce(F.col("nlbl"), F.col("lbl")) < F.col("lbl")).alias(
                    "_chg"
                ),
            ),
            eager=False,
        )
        # ONE job per round: the full-scan max over _chg both answers
        # convergence AND materializes the lazy checkpoint — every
        # partition is computed by the agg, so the cached blocks are
        # complete and the next round reads them, not the lineage. A
        # short-circuiting action like limit(1) would be WRONG here — it
        # can skip partitions and leave the checkpoint partial.
        row = new.agg(F.max(F.col("_chg").cast("int")).alias("_m")).first()
        changed = int(row._m or 0)
        # `new` is now fully materialized, so the previous round's
        # checkpoint can never be read again
        release(prev)
        prev = new
        labels = new.drop("_chg")
        if changed == 0:
            break
    release(edges)
    if changed:
        raise RuntimeError(
            f"connected_components: labels still changing after "
            f"{max_iter} rounds — component structure is deeper than the "
            f"iteration budget; raise max_iter (rounds needed are "
            f"O(log diameter) under pointer jumping, so this graph is "
            f"pathological or max_iter was set very low)"
        )
    return labels.select(F.col("node").alias(id_col), F.col("lbl").alias("cluster_id"))


def dedup_corpus(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    max_iter: int = 25,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """End-to-end near-dup removal — the artifact a training pipeline
    actually consumes: near-dup pairs (prefix-filtered n-gram jaccard) ->
    connected components -> keep ONE representative per cluster -> the
    surviving corpus rows, all columns intact.

    The representative is free: ``connected_components`` labels every node
    with its component's minimum id, so "keep min-id per cluster" is just
    ``id == cluster_id`` — no extra aggregation. The final semi-join back
    to the corpus shuffles only ids against full rows (one exchange on
    ``id_col``); pair generation and clustering never carry the text
    payload, so at 100 TB the heavy stages move shingle/label tuples, not
    documents.

    Pass ``pairs=`` to swap the pair generator (any frame with id_a/id_b —
    e.g. ``substring_dup_pairs`` for verbatim-overlap dedup, or
    ``neardup_minhash_lsh`` when even prefix joins run hot); the default
    is the exact prefix-filtered n-gram jaccard join.
    """
    if pairs is None:
        pairs = neardup_ngram_jaccard(
            docs, text_col, id_col, n=n, threshold=threshold
        )
    labels = connected_components(
        docs.select(id_col), pairs, id_col=id_col, max_iter=max_iter
    )
    keep = labels.filter(F.col(id_col) == F.col("cluster_id")).select(id_col)
    return docs.join(keep, id_col, "left_semi")


def reelect_representatives(
    labels: DataFrame,
    survivor_ids: DataFrame,
    *,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Promote new cluster representatives after members leave (takedown,
    license retraction, quality re-gate) WITHOUT re-running the pair job:
    the near-dup graph does not change because a member was deleted, so
    re-election reads only the existing component ``labels`` (id,
    cluster_id) and the surviving id set. Keep rule: min surviving id per
    cluster — identical to dedup_corpus's min-id rule restricted to
    survivors, so a cluster whose original representative survives keeps
    it, a cluster whose representative left promotes the next-smallest
    member, and a fully-removed cluster emits nothing.

    Cost ∝ |labels| (a semi join + a map-side-combined min per cluster) —
    never the corpus, never the pairs. Returns the kept id set
    (``id_col`` only), ready for a semi join against the payload table."""
    return (
        labels.join(survivor_ids.select(id_col), id_col, "left_semi")
        .groupBy(cluster_col)
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def dedup_corpus_staged(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    max_iter: int = 25,
    canonical_cols: tuple | None = None,
) -> DataFrame:
    """:func:`dedup_corpus` with an EXACT-duplicate pre-collapse — the
    C4/RefinedWeb staging every production pipeline runs (exact dedup
    BEFORE near-dup), as one operator with provably identical output.

    Stage 1 groups documents by content hash (md5 of the NULL-folded
    text) and keeps the min-id representative per group —
    :func:`dedup_canonical` with no key columns: one bounded shuffle of
    (id, 32-char fp) pairs, never the text. Stage 2 runs the full
    near-dup pipeline on representatives only.

    Output == ``dedup_corpus(docs, ...)`` EXACTLY (pinned in
    tests/test_corpus.py, and the declared query grades against the same
    recursive-CTE oracle as ``dedup_corpus_e2e``): exact-equal documents
    have identical shingle sets, so every near-dup edge through a
    collapsed duplicate exists identically through its representative,
    and min-over-group-mins is the global min — the staged component
    quotient keeps the same survivors.

    Why it matters at 100 TB: web crawls are exact-dup heavy (~tens of
    percent), and an exact-dup clique of size m costs the pair stage
    O(m²) verified pairs (the blowup the sf1 probe measured at 971x
    pair growth on a 10x tiled corpus). Collapsing cliques to one node
    FIRST shrinks the shingle join's input by the duplication factor and
    removes the quadratic clique term entirely — for the price of one
    hash groupBy.

    ``canonical_cols`` prepends the STANDARD
    stage 0 of the CCNet/RefinedWeb order — :func:`dedup_canonical` on
    (canonical_cols..., content fp) — before the exact collapse. Output
    is STILL provably unchanged: the global min-id of an exact-dup class
    is the min of its own canonical subgroup, so it survives stage 0 and
    stage 1 re-elects exactly it (pinned in tests/test_corpus.py; the
    declared query runs all three stages against the unstaged oracle).
    What stage 0 buys at 100 TB is the cheapest possible first cut — a
    groupBy on (key, fp) with map-side combine, before even the exact
    pass's global fp shuffle sees the recrawl-duplicated rows."""
    if canonical_cols is not None:
        docs = dedup_canonical(
            docs, text_col, id_col, key_cols=tuple(canonical_cols)
        )
    # persisted: dedup_corpus consumes its input from three branches
    # (pair generation, the component node list, the final semi-join) —
    # without the persist each branch re-runs the scan + md5 collapse
    # (measured 5x at sf0.1)
    rep_docs = dedup_canonical(docs, text_col, id_col, key_cols=()).transform(
        scratch_persist
    )
    return dedup_corpus(
        rep_docs, text_col, id_col, n=n, threshold=threshold,
        max_iter=max_iter,
    )


def dedup_canonical(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    key_cols: tuple = ("source",),
) -> DataFrame:
    """Canonical-key exact dedup — the FIRST stage of the standard
    web-corpus order (CCNet/RefinedWeb: canonical-key dedup BEFORE text
    near-dup): group documents by their canonical
    identity — the ``key_cols`` (URL/source/shard in production; the
    fixtures carry ``source``, and
    :func:`checkatron_spark.functions.text.canonical_url` supplies the
    normalized key when a real crawl table has a url column) plus the
    md5 content fingerprint — and
    keep the minimum-id representative of each group. Two crawls of the
    same source page collapse here for the price of one hash groupBy,
    BEFORE any shingling exists; the same text mirrored across DIFFERENT
    sources deliberately survives (that cross-source collapse is exact
    dedup's job, the next stage — :func:`dedup_corpus_staged` runs both
    in order).

    Returns the surviving corpus rows, all columns intact.

    Scale shape: ONE shuffle of (key_cols..., 32-char fp, id) tuples
    (map-side combined min), then a semi join of ids against the corpus
    — the text payload never shuffles. The min-id keep rule is the same
    deterministic winner as the whole dedup family, so composing this
    stage ahead of the exact collapse provably changes nothing: the
    global min-id of an exact-dup class is also the min of its own
    canonical subgroup, hence survives this stage and is re-elected by
    the next (pinned in tests/test_corpus.py)."""
    fp = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    keep = (
        docs.select(
            F.col(id_col), fp.alias("_fp"), *[F.col(c) for c in key_cols]
        )
        .groupBy("_fp", *key_cols)
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return docs.join(keep, id_col, "left_semi")


def substring_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 40,
    w: int = 10,
    max_fp_freq: int | None = None,
) -> DataFrame:
    """Exact-substring near-dup candidates via WINNOWING fingerprints
    (Schleimer et al., SIGMOD'03 — the MOSS document-fingerprinting
    scheme; the long-verbatim-overlap signal of suffix-array training-data
    dedup, re-expressed as a bounded fingerprint join).

    Per doc: hash every character ``k``-gram (md5 prefix as 60-bit
    bigint — engine-portable, so the DuckDB oracle recomputes identical
    values), then keep the MINIMUM hash of each window of ``w``
    consecutive positions (docs with fewer than ``w`` grams keep one
    global min). Guarantee: two docs sharing any exact substring of
    length >= k + w - 1 share at least one selected fingerprint, and a
    shared fingerprint IS a shared k-char substring (the hash preimage),
    not a probabilistic signal. Catches boilerplate/quotation overlap
    between documents that word-level jaccard dilutes below threshold.

    Scale shape: fingerprints per doc ~ len/w (the winnowing density
    bound), the self-join shuffles on the fingerprint value — work is
    proportional to shared content, never all-pairs. ``max_fp_freq``
    drops ultra-hot fingerprints (site-wide boilerplate) from the index,
    the same skew guard as ``max_shingle_freq``.

    Returns (id_a, id_b, n_shared_fps) with id_a < id_b.
    """
    from pyspark.sql.types import ArrayType as _Arr
    from pyspark.sql.types import LongType as _Long

    @F.pandas_udf(_Arr(_Long()))
    def _fps(texts: pd.Series) -> pd.Series:
        # one O(len) pass per doc: encode ONCE and md5 memoryview byte-
        # slices when the text is ASCII (byte offsets == char offsets;
        # non-ASCII keeps the char-slice path — same bytes hashed either
        # way), take the 60-bit value from the raw digest (int.from_bytes
        # >> 4 == int(hexdigest[:15], 16)), and take the window min with
        # numpy sliding_window_view (a view, no copy) + unique. Pinned
        # bit-identical to the per-gram hexdigest reference kernel in
        # tests/test_winnow.py; head-to-head in SCALE.md.
        import hashlib

        import numpy as np

        md5 = hashlib.md5
        swv = np.lib.stride_tricks.sliding_window_view
        out = []
        for t in texts:
            s = t or ""
            ng = len(s) - k + 1
            if ng <= 0:
                out.append([])
                continue
            enc = s.encode("utf-8")
            if len(enc) == len(s):  # ASCII: byte slicing == char slicing
                mv = memoryview(enc)
                h = np.fromiter(
                    (
                        int.from_bytes(md5(mv[i : i + k]).digest()[:8], "big")
                        >> 4
                        for i in range(ng)
                    ),
                    dtype=np.int64,
                    count=ng,
                )
            else:
                h = np.fromiter(
                    (
                        int.from_bytes(
                            md5(s[i : i + k].encode("utf-8")).digest()[:8],
                            "big",
                        )
                        >> 4
                        for i in range(ng)
                    ),
                    dtype=np.int64,
                    count=ng,
                )
            if ng <= w:
                sel = h.min(keepdims=True)
            else:
                sel = swv(h, w).min(axis=1)
            out.append(np.unique(sel).tolist())
        return pd.Series(out)

    # both self-join sides (and the optional hot-fp count) consume fps —
    # persist so the winnowing UDF runs ONCE, not once per consumer
    # (measured 2x at sf0.1; the frame is (id, bigint), bytes per doc)
    fps = df.select(
        F.col(id_col).alias("_id"), F.explode(_fps(F.col(text_col))).alias("fp")
    ).transform(scratch_persist)
    if max_fp_freq is not None:
        fps = fps.join(F.broadcast(_hot(fps, "fp", max_fp_freq)), "fp", "left_anti")
    a = fps.select(F.col("_id").alias("id_a"), "fp")
    b = fps.select(F.col("_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
    )


def neardup_minhash_banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.7,
    num_hashes: int = 16,
    band_r: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Hand-rolled banded MinHash without the MLlib Vector machinery:
    signatures ride a plain ``array<long>`` column computed in the SAME
    Arrow batch as the shingles (one pass over the text), candidates come
    from a (band_index, band_value) equi self-join, and every candidate is
    verified with EXACT Jaccard on the shingle arrays (JVM
    ``array_intersect``), so false positives cannot survive. Measured 1.4x
    faster than the MLlib pipeline at sf0.1 with an identical pair set.

    AND-amplification: a band is ``band_r`` consecutive minhashes and
    collides only when ALL agree — P(candidate | s) = 1-(1-s^r)^b. With
    r=1 (OR-only, MLlib's only shape) background token overlap makes
    P ≈ b·s0 for every pair, so candidates grow ∝ N²·s0 — measured 62x
    candidate growth at a 10x corpus step on a zipf-vocabulary corpus
    with linear TRUE pairs. r=2 squares the background term
    (s0=0.01 → 1e-4): same probe measured 13.7x — linear, 120x fewer
    candidates — while recall at the threshold stays 1-(1-t²)^b
    (0.995 at t=0.7 with the 16/2 default; the graded fixture pair sets
    are verified unchanged, and the fixed seed makes that deterministic).
    ``num_hashes`` must divide by ``band_r`` — a short trailing band
    would silently reintroduce an OR-only (quadratic) leak.

    Candidates come from :func:`_band_candidates` and are verified by
    :func:`_jaccard_verified`. Universal-hash family ``(a*x + b) mod p``
    over 61-bit md5 shingle hashes, p = 2^61-1.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold
    (exact values, unlike the _est column of the MLlib variant).
    """
    import hashlib
    import random

    _check_bands("neardup_minhash_banded", num_hashes, band_r)
    p = (1 << 61) - 1
    rng = random.Random(seed)
    ab = [(rng.randrange(1, p), rng.randrange(0, p)) for _ in range(num_hashes)]
    shingle = _shingler(n)

    @F.pandas_udf(
        "struct<sh: array<string>, sig: array<long>>"
    )
    def _sh_sig(texts: pd.Series) -> pd.DataFrame:
        shs, sigs = [], []
        for t in texts:
            grams = shingle(t)
            xs = [
                int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
                for g in grams
            ]
            shs.append(grams)
            sigs.append([min((a * x + b) % p for x in xs) for a, b in ab])
        return pd.DataFrame({"sh": shs, "sig": sigs})

    base = df.select(
        F.col(id_col).alias("_id"), _sh_sig(F.col(text_col)).alias("_ss")
    ).select(
        "_id", F.col("_ss.sh").alias("_sh"), F.col("_ss.sig").alias("_sig")
    ).transform(scratch_persist)  # bands + both verify sides consume it

    n_bands = num_hashes // band_r
    # band value = the r-slice of the signature (array equality join key);
    # collision requires ALL r minhashes to agree
    bands = base.select(
        "_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), "
                f"b -> slice(_sig, b * {band_r} + 1, {band_r}))"
            )
        ).alias("_bi", "_bv"),
    )
    return _jaccard_verified(_band_candidates(bands), base, base, threshold)


def split_by_cluster(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    weights: dict[str, float],
    *,
    n: int = 3,
    threshold: float = 0.8,
    salt: str = "split-cluster-v1",
    max_iter: int = 25,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """LEAKAGE-SAFE train/val/test assignment: split by near-dup CLUSTER,
    not by document, so two near-duplicates can never straddle a split
    boundary (the eval-contamination failure mode of naive per-doc
    splitting — a val doc whose twin sits in train).

    Same composition seam as :func:`dedup_corpus`: pairs (any generator
    via ``pairs=``) -> connected components -> the deterministic
    ``split_assign`` hash draw keyed on ``cluster_id`` — every member of a
    component inherits the same draw by construction, and singletons
    reduce to the ordinary per-doc split (their cluster_id is their own
    id). Adds ``cluster_id`` and ``split`` columns; one id-keyed join
    against the corpus, exactly like the keep-list dedup.
    """
    from checkatron_spark.sampling import split_assign

    if pairs is None:
        pairs = neardup_ngram_jaccard(
            docs, text_col, id_col, n=n, threshold=threshold
        )
    labels = connected_components(
        docs.select(id_col), pairs, id_col=id_col, max_iter=max_iter
    )
    assigned = split_assign(labels, "cluster_id", weights, salt=salt)
    return docs.join(assigned, id_col)
