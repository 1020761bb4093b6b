"""Unit tests for the selection module (BM25 retrieval, graded
contamination, DSIR importance weights).

The declared queries' DuckDB oracles pin engine parity on the fixtures at
three scales; these tests pin the BOUNDARY behavior the word-salad
fixtures never exercise (NULL text, sub-n-gram docs, 100%-contained docs,
score-sign structure) plus engine parity on an adversarial NULL/exotic-
whitespace corpus the fixtures don't contain."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from checkatron_spark.selection import (
    bm25_topk,
    bm25_topk_sql,
    contamination_frac,
    contamination_frac_sql,
    dsir_importance,
    dsir_importance_sql,
)


def test_bm25_scores_and_ranking(spark):
    # hand-checkable corpus: N=3, terms present in 2/3 docs
    docs = spark.createDataFrame(
        [
            (1, "join join join filler filler"),
            (2, "join filler filler filler filler"),
            (3, "nothing relevant here at all"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in bm25_topk(docs, ("join",), k=10).collect()
    }
    # doc 3 has no posting -> absent; doc 1 (tf=3) outranks doc 2 (tf=1)
    assert set(out) == {1, 2}
    assert out[1]["rnk"] == 1 and out[2]["rnk"] == 2
    assert out[1]["score_micro"] > out[2]["score_micro"] > 0
    # python reference for doc 2: tf=1, df=2, N=3, dl=5, avgdl=5
    idf = math.log(1.0 + (3.0 - 2.0 + 0.5) / (2.0 + 0.5))
    s = idf * (1.0 * 2.2) / (1.0 + 1.2 * (1.0 - 0.75 + 0.75 * 5.0 / 5.0))
    assert out[2]["score_micro"] == round(s * 1e6)


def test_bm25_tie_breaks_on_doc_id(spark):
    docs = spark.createDataFrame(
        [(7, "join x"), (3, "join x"), (5, "join x")], ["doc_id", "text"]
    )
    rows = bm25_topk(docs, ("join",), k=2).collect()
    assert [(r["doc_id"], r["rnk"]) for r in rows] == [(3, 1), (5, 2)]


def test_bm25_null_text_does_not_poison_stats(spark):
    # NULL text folds to the [''] sentinel (dl=1) like the oracle's
    # coalesce; the doc has no posting so it never scores
    docs = spark.createDataFrame(
        [(1, "join a b"), (2, None)], ["doc_id", "text"]
    )
    rows = bm25_topk(docs, ("join",), k=10).collect()
    assert [r["doc_id"] for r in rows] == [1]


def test_bm25_multiquery_scores_per_profile(spark):
    """Round 11 (VERDICT r10 #4): each profile ranks independently, a
    term shared between profiles fans its postings to both, and the
    per-(query, doc) score equals the single-query scorer's for an
    identical term set (same df/stats — the corpus is shared)."""
    from checkatron_spark.selection import bm25_multiquery

    docs = spark.createDataFrame(
        [
            (1, "join join join filler filler"),
            (2, "join filler filler filler filler"),
            (3, "vector stream stream other words"),
        ],
        ["doc_id", "text"],
    )
    profiles = {"qa": ("join",), "qb": ("vector", "stream"),
                "qc": ("join", "vector")}
    out = bm25_multiquery(docs, profiles, k=10).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], {})[r["doc_id"]] = r
    # qa: docs 1,2 score; doc 3 absent. qb: only doc 3.
    assert set(by_q["qa"]) == {1, 2} and set(by_q["qb"]) == {3}
    assert by_q["qa"][1]["rnk"] == 1 and by_q["qa"][2]["rnk"] == 2
    # the shared-term profile reproduces qa's scores on docs 1-2 exactly
    # (same postings, same df) and additionally scores doc 3 via vector
    assert set(by_q["qc"]) == {1, 2, 3}
    for d in (1, 2):
        assert (by_q["qc"][d]["score_micro"]
                == by_q["qa"][d]["score_micro"])
    # single-query equivalence: bm25_topk with qa's term set gives the
    # same micro scores (one corpus, same df/stats)
    single = {r["doc_id"]: r["score_micro"]
              for r in bm25_topk(docs, ("join",), k=10).collect()}
    assert {d: r["score_micro"] for d, r in by_q["qa"].items()} == single


def test_bm25_multiquery_topk_is_global_per_query(spark):
    """The two-phase top-k (per-partition heaps, then a bounded final
    window) must equal the true global per-query top-k regardless of
    how rows were partitioned."""
    from checkatron_spark.selection import bm25_multiquery

    # 40 docs with increasing tf of 'join' -> the true top-3 is the
    # 3 highest-tf docs, ties impossible
    docs = spark.createDataFrame(
        [
            (i, " ".join(["join"] * (1 + i % 7) + ["pad"] * 5))
            for i in range(40)
        ],
        ["doc_id", "text"],
    ).repartition(8)
    out = bm25_multiquery(docs, {"q": ("join",)}, k=3).collect()
    assert len(out) == 3
    assert [r["rnk"] for r in sorted(out, key=lambda r: r["rnk"])] == [1, 2, 3]
    # highest tf wins: tf = 1 + i%7 peaks at i%7==6, lowest doc_id first
    assert sorted(r["doc_id"] for r in out) == [6, 13, 20]


def test_bm25_multiquery_duplicate_terms_and_empty_profiles(spark):
    """ADVICE r11: a term duplicated inside one profile must not
    double-count its score (profiles canonicalize to sorted term sets),
    and empty input raises a clear ValueError instead of a TypeError
    from isin(*[])."""
    import pytest

    from checkatron_spark.selection import bm25_multiquery

    docs = spark.createDataFrame(
        [(1, "join join filler"), (2, "join filler filler")],
        ["doc_id", "text"],
    )
    dup = {r["doc_id"]: r["score_micro"] for r in bm25_multiquery(
        docs, {"q": ("join", "join")}, k=10).collect()}
    clean = {r["doc_id"]: r["score_micro"] for r in bm25_multiquery(
        docs, {"q": ("join",)}, k=10).collect()}
    assert dup == clean
    with pytest.raises(ValueError, match="non-empty"):
        bm25_multiquery(docs, {}, k=10)
    with pytest.raises(ValueError, match="empty term set"):
        bm25_multiquery(docs, {"q": ()}, k=10)
    # the SQL twin canonicalizes identically (no duplicate qmap VALUES)
    from checkatron_spark.selection import bm25_multiquery_sql

    assert bm25_multiquery_sql({"q": ("join", "join")}) == \
        bm25_multiquery_sql({"q": ("join",)})


def test_contamination_frac_verdict_thresholds(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    docs = spark.createDataFrame(
        [
            # all 3 trigrams in bench -> 100% -> drop
            (1, "alpha beta gamma delta epsilon"),
            # 1 of 4 trigrams matched (25%) -> flag
            (2, "alpha beta gamma x y z"),
            # nothing shared -> clean
            (3, "totally unrelated words here now"),
            # sub-n doc: whole-doc shingle, not in bench -> clean
            (4, "alpha beta"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in contamination_frac(docs, bench, "text", "doc_id").collect()
    }
    assert out[1]["verdict"] == "drop" and out[1]["pct_matched"] == 100.0
    assert out[2]["verdict"] == "flag" and out[2]["pct_matched"] == 25.0
    assert out[3]["verdict"] == "clean" and out[3]["n_matched"] == 0
    assert out[4]["n_grams"] == 1 and out[4]["verdict"] == "clean"
    # every corpus doc reports, even with zero overlap
    assert set(out) == {1, 2, 3, 4}


def test_dsir_weights_separate_target_like_docs(spark):
    # target speaks "alpha beta"; raw docs either mimic the target
    # distribution or speak "zed yon" — the mimic must weight higher
    rows = (
        [(i, "alpha beta alpha beta alpha", True) for i in range(4)]
        + [(10, "alpha beta alpha beta alpha", False)]
        + [(11, "zed yon zed yon zed", False)]
        + [(12, "x", False)]  # < 2 tokens -> no grams -> absent
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text", "is_t"])
    out = {
        r["doc_id"]: r
        for r in dsir_importance(docs, F.col("is_t")).collect()
    }
    # only RAW docs with >= 1 bigram appear
    assert set(out) == {10, 11}
    assert out[10]["n_grams"] == 4 and out[11]["n_grams"] == 4
    assert out[10]["weight_micro"] > out[11]["weight_micro"]
    # python reference for doc 11: all 4 grams land in buckets with
    # ct=0; raw counts: "zed yon"x2? grams are occurrences:
    # [zed yon, yon zed, zed yon, yon zed] -> per-gram cr from doc 11 only
    import hashlib

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % 256

    # totals: target 4 docs x 4 grams = 16; raw 4 + 4 = 8
    tt, tr = 16, 8
    from collections import Counter

    craw = Counter()
    ctgt = Counter()
    for d, t, is_t in rows:
        w = t.split(" ")
        for i in range(len(w) - 1):
            (ctgt if is_t else craw)[bucket(w[i] + " " + w[i + 1])] += 1
    want = 0
    for g in ["zed yon", "yon zed", "zed yon", "yon zed"]:
        b = bucket(g)
        lr = math.log((ctgt[b] + 1.0) / (tt + 256.0)) - math.log(
            (craw[b] + 1.0) / (tr + 256.0)
        )
        want += round(lr * 1e6)
    assert out[11]["weight_micro"] == want


def test_semdedup_keep_first_within_cluster(spark):
    from checkatron_spark.selection import semdedup

    # two tight directions plus an orthogonal singleton; k=2 so the two
    # groups split; within the near-identical group only the LOWEST id
    # survives at a high threshold
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0, 0.0]),   # near-dup of 1 -> dropped
        (5, [0.998, 0.002, 0.0, 0.0]),   # near-dup of 1 -> dropped
        (3, [0.0, 1.0, 0.0, 0.0]),       # different direction
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r["vec_id"]: r["kept"]
        for r in semdedup(df, k=2, iters=2, threshold=0.95).collect()
    }
    assert out == {1: True, 2: False, 5: False, 3: True}


def test_semdedup_kernels_agree_bit_for_bit(spark):
    """kernel='arrow' (per-cluster numpy, per-dimension sequential fold)
    and kernel='join' (pure-DataFrame pair join) must produce identical
    rows — the exact-kmeans Arrow-kernel equivalence precedent — on a
    corpus with near-dups, singleton clusters, and boundary-ish pairs."""
    import random

    from checkatron_spark.selection import semdedup

    rng = random.Random(7)
    rows = []
    for i in range(60):
        base = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((i, base))
        if i % 4 == 0:  # a slightly perturbed twin
            rows.append(
                (1000 + i, [x + rng.uniform(-0.01, 0.01) for x in base])
            )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = sorted(
        tuple(r) for r in semdedup(df, k=4, iters=2, threshold=0.9,
                                   kernel="arrow").collect()
    )
    j = sorted(
        tuple(r) for r in semdedup(df, k=4, iters=2, threshold=0.9,
                                   kernel="join").collect()
    )
    assert a == j and len(a) == len(rows)
    assert any(not r[2] for r in a)  # the twins actually dropped


def test_semdedup_arrow_kernel_rejects_mixed_dims(spark):
    import pytest

    from checkatron_spark.selection import semdedup

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    # in practice the kmeans assignment core raises first (mixed
    # embedding dimensions); the pair kernel's own guard catches what
    # slips past it (e.g. per-cluster raggedness under a future seeding
    # change) — either way mixed dims FAIL FAST instead of silently
    # mis-scoring
    with pytest.raises(
        Exception, match="mixed embedding dimensions|inhomogeneous"
    ):
        semdedup(df, k=2, iters=1).collect()


def test_semdedup_excludes_degenerate_but_clusters_them(spark):
    from checkatron_spark.selection import semdedup

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, [0.0, 0.0]),   # zero norm -> absent from output
        (4, None),          # NULL -> absent from output
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r for r in semdedup(df, k=2, iters=2).collect()}
    assert set(out) == {1, 2}


def test_selection_parity_on_nulls_and_exotic_whitespace(spark, duck, tmp_path):
    """The fixtures contain no NULL/empty/exotic-whitespace text; the
    three new oracles must still grade row-identical on a corpus that
    does (the round-10 whitespace-contract lock, extended to the
    selection module). doc_ids are chosen so the 'bench-v1' 5% draw puts
    at least one doc on each side of the split."""
    import pandas as pd

    from checkatron_spark.sampling import hash_uniform
    from checkatron_spark.selection import QUERIES, oracles

    # find ids on both sides of the bench-v1 draw deterministically
    probe = spark.createDataFrame(
        [(i,) for i in range(400)], ["doc_id"]
    ).select("doc_id", hash_uniform(F.col("doc_id"), "bench-v1").alias("u"))
    us = {r["doc_id"]: r["u"] for r in probe.collect()}
    bench_ids = [i for i in us if us[i] < 0.05][:2]
    raw_ids = [i for i in us if us[i] >= 0.05][:6]
    assert bench_ids and len(raw_ids) >= 6

    texts = [
        "join hash vector stream join",       # all query terms
        None,                                  # NULL text
        "",                                    # empty
        "join\x0bhash a b",                    # vertical tab inside
        "  join \t hash\n vector  ",           # lead/trail mixes
        " join hash stream x",       # NBSP is NOT a separator
    ]
    rows = [(bench_ids[0], "join hash vector a b c"), (bench_ids[1], None)]
    rows += list(zip(raw_ids, texts))
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        tmp_path / "documents.parquet"
    )
    duck.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'documents.parquet'}')"
    )
    for name in ("bm25_topk", "contamination_frac", "dsir_importance"):
        df = QUERIES[name](spark, str(tmp_path))
        got = sorted(tuple(r) for r in df.collect())
        res = duck.sql(oracles()[name])
        idx = [res.columns.index(c) for c in df.columns]
        want = sorted(tuple(row[i] for i in idx) for row in res.fetchall())
        assert got == want, f"{name}: spark={got[:5]} duck={want[:5]}"
        assert got, f"{name}: adversarial corpus produced no rows"


def test_semdedup_parity_on_degenerate_embeddings(spark, duck, tmp_path):
    """Fixture embeddings are all well-formed; pin the oracle's
    degenerate contract on a corpus that is not — a NULL embedding, a
    zero vector, and an element-NULL vector are excluded BEFORE the
    clustering on BOTH engines (a degenerate seed vector makes the Lloyd
    argmin engine-divergent; Spark's fold-norm drops element-NULLs that
    DuckDB's NULL-skipping list_sum would keep — the _EMB_OK clause
    added in the round-10 self-review)."""
    import pandas as pd

    from checkatron_spark.selection import QUERIES, oracles

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.95, 0.05, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 0.0, 0.0]),      # zero norm
        (5, None),                       # NULL embedding
        (6, [0.0, 0.9, 0.1, 0.0]),
        (7, [None, 1.0, 0.0, 0.0]),      # element-level NULL
    ]
    pd.DataFrame(rows, columns=["vec_id", "embedding"]).to_parquet(
        tmp_path / "embeddings.parquet"
    )
    duck.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'embeddings.parquet'}')"
    )
    df = QUERIES["semdedup_prune"](spark, str(tmp_path))
    got = sorted(tuple(r) for r in df.collect())
    res = duck.sql(oracles()["semdedup_prune"])
    idx = [res.columns.index(c) for c in df.columns]
    want = sorted(tuple(row[i] for i in idx) for row in res.fetchall())
    assert got == want
    assert {r[0] for r in got} == {1, 2, 3, 6}


def test_semdedup_kernels_agree_on_nan_embeddings(spark):
    """Round-10 review: Spark and DuckDB order NaN LARGER than any
    number, so a NaN cosine counts as a near-dup hit; raw numpy >= would
    disagree. Both kernels must drop the higher-id NaN twin."""
    import math

    from checkatron_spark.selection import semdedup

    nan = float("nan")
    rows = [
        (1, [nan, 1.0, 0.0, 0.0]),   # NaN norm passes the >0 gate (NaN-largest)
        (2, [nan, 1.0, 0.0, 0.0]),   # cosine vs 1 is NaN -> HIT -> dropped
        (3, [0.0, 1.0, 0.0, 0.0]),   # cosine vs NaN rows is NaN -> dropped too
        (4, [1.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = sorted(tuple(r) for r in semdedup(df, k=2, iters=2, kernel="arrow").collect())
    j = sorted(tuple(r) for r in semdedup(df, k=2, iters=2, kernel="join").collect())
    assert a == j
    kept = {r[0] for r in a if r[2]}
    dropped = {r[0] for r in a if not r[2]}
    assert 1 in kept         # lowest id always survives
    assert 2 in dropped      # NaN twin with a lower-id mate


def test_ccnet_buckets_keep_null_lang_group(spark, duck, tmp_path):
    """Round-10 review: NULL lang is a real tercile group. A null-unsafe
    Spark join would drop every unlabeled doc while the oracle's
    IS NOT DISTINCT FROM keeps them — pin row-identical output on a
    corpus that exercises it."""
    import pandas as pd

    from checkatron_spark.corpus import QUERIES, oracles
    from checkatron_spark.sampling import hash_uniform
    from pyspark.sql import functions as F

    probe = spark.createDataFrame([(i,) for i in range(400)], ["doc_id"]).select(
        "doc_id", hash_uniform(F.col("doc_id"), "lm-ref-v1").alias("u")
    )
    us = {r["doc_id"]: r["u"] for r in probe.collect()}
    ref_ids = [i for i in us if us[i] < 0.1][:3]
    tgt_ids = [i for i in us if us[i] >= 0.1][:8]
    assert len(ref_ids) >= 2 and len(tgt_ids) == 8

    rows = [(i, "the cat sat on the mat", "en", "s", 22) for i in ref_ids]
    for j, i in enumerate(tgt_ids):
        lang = None if j % 2 == 0 else "en"   # half the targets unlabeled
        text = "the cat sat here" if j < 4 else "zz qq ww ee"
        rows.append((i, text, lang, "s", len(text)))
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet")
    duck.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'documents.parquet'}')"
    )
    df = QUERIES["ccnet_ppl_buckets"](spark, str(tmp_path))
    got = sorted(tuple(r) for r in df.collect())
    res = duck.sql(oracles()["ccnet_ppl_buckets"])
    idx = [res.columns.index(c) for c in df.columns]
    want = sorted(tuple(row[i] for i in idx) for row in res.fetchall())
    assert got == want
    assert len(got) == 8                       # NULL-lang docs present
    assert sum(1 for r in got if r[1] is None) == 4


def test_dsir_gram_kernels_agree_bit_for_bit(spark):
    """Round 11 (VERDICT r10 #2): the JVM gram kernel (explode native
    arrays_zip bigram pairs, md5/conv in codegen) must reproduce the
    round-10 Arrow kernel's output exactly — pinned on an adversarial
    corpus (NULL text, exotic whitespace, unicode, single-token and empty
    docs) where a tokenization or encoding divergence would show."""
    rows = [
        (1, "alpha beta gamma", False),
        (2, None, False),                       # NULL -> [''] sentinel
        (3, "", False),                          # empty -> [''] sentinel
        (4, "solo", False),                      # 1 token -> no bigram
        (5, "a  b\tc\nd\re\ff", False),          # every WS_CLASS char
        (6, "café naïve 中文 words", False),  # multibyte
        (7, "alpha beta alpha beta alpha", True),
        (8, " leading and trailing ", False),
        (9, "x\x0by", False),              # \x0B is NOT a separator
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "is_t"])
    j = sorted(
        tuple(r)
        for r in dsir_importance(
            docs, F.col("is_t"), gram_kernel="jvm"
        ).collect()
    )
    a = sorted(
        tuple(r)
        for r in dsir_importance(
            docs, F.col("is_t"), gram_kernel="arrow"
        ).collect()
    )
    assert j == a and len(j) > 0
    # the multibyte doc made it through with identical weights (UTF-8
    # md5 agreement); the \x0B doc stays ONE token under the explicit
    # whitespace class, so it has no bigram and is absent on both paths
    ids = {t[0] for t in j}
    assert 6 in ids and 9 not in ids


def test_dsir_rejects_unknown_gram_kernel(spark):
    import pytest

    docs = spark.createDataFrame([(1, "a b", False)],
                                 ["doc_id", "text", "is_t"])
    with pytest.raises(ValueError, match="gram kernel"):
        dsir_importance(docs, F.col("is_t"), gram_kernel="bogus")


def test_semdedup_derives_k_from_corpus_size(spark):
    """Round 11 (VERDICT r10 #3): k=None mechanizes the paper's
    k-grows-with-corpus lever — ceil(n_comparable / target_cluster_rows)
    — instead of leaving it a docstring promise."""
    import random

    from checkatron_spark.selection import semdedup

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(30)
    ] + [(100, None)]          # degenerate: excluded BEFORE the count
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    derived = semdedup(
        df, k=None, iters=2, target_cluster_rows=10, threshold=0.99
    )
    explicit = semdedup(df, k=3, iters=2, threshold=0.99)
    d = sorted(tuple(r) for r in derived.collect())
    e = sorted(tuple(r) for r in explicit.collect())
    # ceil(30/10) = 3 -> identical clustering and verdicts
    assert d == e and len(d) == 30
    assert len({t[1] for t in d}) <= 3


def test_semdedup_arrow_kernel_caps_cluster_size(spark):
    """Round 11 (VERDICT r10 #3): a cluster past max_cluster_rows must
    fail FAST on the worker with the remediation in the message, not
    OOM it."""
    import pytest

    from checkatron_spark.selection import semdedup

    rows = [(i, [1.0, float(i) * 1e-4, 0.0, 0.0]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="max_cluster_rows"):
        semdedup(df, k=1, iters=1, max_cluster_rows=5).collect()
    # the cap is inclusive: a cluster of exactly max_cluster_rows passes
    out = semdedup(df, k=1, iters=1, max_cluster_rows=12).collect()
    assert len(out) == 12


def test_token_count_bpe_greedy_rule(spark):
    """Round 12 (VERDICT r11 #8): greedy longest-match subword counting —
    the longest vocab unit wins at each position ('ation' over 'at'),
    unmatched chars are single tokens, case folds, blank/NULL docs count
    (0, 0)."""
    from checkatron_spark.selection import token_count_bpe

    docs = spark.createDataFrame(
        [
            (1, "The nation"),   # the=1; n+ation=2 -> 3 subwords, 2 words
            (2, "zzz"),          # 3 unmatched chars -> 3
            (3, None),
            (4, "   "),
            (5, "INGESTED"),     # ing+es+te+d = 4
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: (r["n_words"], r["n_subword_tokens"])
           for r in token_count_bpe(docs).collect()}
    assert got[1] == (2, 3)
    assert got[2] == (1, 3)
    assert got[3] == (0, 0) and got[4] == (0, 0)
    assert got[5] == (1, 4)


def test_token_count_bpe_vs_duckdb_oracle(spark, duck, tmp_path):
    """Cross-engine: the recursive-CTE oracle reproduces the Arrow
    kernel's greedy tokenization on a mixed-case/punctuated corpus."""
    import pandas as pd

    from checkatron_spark.selection import QUERIES, oracles
    from tests.conftest import assert_same_rows

    rows = [
        (1, "The thinking nation ingested THE data, quickly."),
        (2, "hash join vector stream window agg scan filter"),
        (3, None),
        (4, "punctuation-heavy; text... with?? symbols!!"),
        (5, "sameword sameword sameword"),
    ]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        tmp_path / "documents.parquet"
    )
    duck.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'documents.parquet'}')"
    )
    df = QUERIES["token_count_bpe"](spark, str(tmp_path))
    res = duck.sql(oracles()["token_count_bpe"])
    idx = [res.columns.index(c) for c in df.columns]
    assert_same_rows(
        df,
        [tuple(row[i] for i in idx) for row in res.fetchall()],
        duck_cols=df.columns,
    )


def test_bpe_learn_matches_duckdb_and_greedy_semantics(spark, duck, tmp_path):
    """Tokenizer training (round 13): the distributed BPE merge learner
    equals the unrolled-CTE oracle row for row, and the delimiter
    encoding handles the classic adjacency case — with merge (a, a),
    'aaaa' must segment greedily left-to-right to 'aa aa' (the
    space-separated-replace bug would leave 'aa a a')."""
    import pandas as pd

    from checkatron_spark.selection import bpe_learn_segment, bpe_learn_sql

    rows = [
        (1, "the cat the cat hat"),
        (2, "the hat that the cat wore"),
        (3, "aaaa aaaa Mixed-CASE 42 aaaa"),
        (4, None),
    ]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        tmp_path / "documents.parquet"
    )
    duck.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'documents.parquet'}')"
    )
    docs = spark.createDataFrame(
        [(i, t) for i, t in rows], "doc_id long, text string"
    )
    df = bpe_learn_segment(docs, n_merges=4, top_words=100, top_out=50)
    got = {r["word"]: r for r in df.collect()}
    res = duck.sql(bpe_learn_sql(n_merges=4, top_words=100, top_out=50))
    idx = [res.columns.index(c) for c in df.columns]
    from tests.conftest import assert_same_rows

    assert_same_rows(
        df,
        [tuple(row[i] for i in idx) for row in res.fetchall()],
        duck_cols=df.columns,
    )
    # alphabet gate: mixed-case/hyphenated word excluded, digits kept
    assert "mixed-case" not in got and "42" in got
    # greedy adjacency: (a,a) is the top pair in 'aaaa' x3 -> 'aa aa'
    assert got["aaaa"]["tokens"] == "aa aa"
    assert got["aaaa"]["n_tokens"] == 2
    # merges only ever shrink the segmentation
    assert all(1 <= r["n_tokens"] <= len(r["word"]) for r in got.values())


def test_bpe_learn_degenerate_corpus_exhausts_merges(spark, duck, tmp_path):
    """ADVICE r13: when every head word fully merges BEFORE n_merges
    rounds, the Python learner breaks out while the SQL twin's remaining
    merge CTEs see an EMPTY argmax — the sentinel no-op pair in mt{i}
    must keep the cross join total instead of annihilating every row.
    Single-char words exhaust at round 0 (no adjacent pair ever exists);
    'ab' exhausts after one merge, leaving rounds 2..5 empty-argmax."""
    import pandas as pd

    from checkatron_spark.selection import bpe_learn_segment, bpe_learn_sql
    from tests.conftest import assert_same_rows

    rows = [(1, "a b a b ab"), (2, "b a ab a")]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        tmp_path / "documents.parquet"
    )
    duck.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'documents.parquet'}')"
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    df = bpe_learn_segment(docs, n_merges=6, top_words=100, top_out=50)
    got = {r["word"]: r for r in df.collect()}
    assert set(got) == {"a", "b", "ab"}, "oracle/learner must keep all rows"
    assert got["ab"]["n_tokens"] == 1  # the one real merge happened
    res = duck.sql(bpe_learn_sql(n_merges=6, top_words=100, top_out=50))
    assert len(res.fetchall()) == 3, (
        "empty-argmax round annihilated the oracle rows — mt{i} sentinel "
        "regressed"
    )
    res = duck.sql(bpe_learn_sql(n_merges=6, top_words=100, top_out=50))
    idx = [res.columns.index(c) for c in df.columns]
    assert_same_rows(
        df,
        [tuple(row[i] for i in idx) for row in res.fetchall()],
        duck_cols=df.columns,
    )
