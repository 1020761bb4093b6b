"""Unit tests for the round-4 curation additions: PII scrubbing,
cross-document boilerplate stripping, the Gopher-style quality rule
bundle, and sqrt-temperature group rebalancing.

The declared queries' DuckDB oracles pin engine parity on the fixtures;
these tests pin the POSITIVE-match / boundary behavior the word-salad
fixtures never exercise (the fixtures contain no PII, and every fixture
doc passes most Gopher rules)."""

from __future__ import annotations

from pyspark.sql import functions as F

from checkatron_spark.corpus import gopher_quality_profile, strip_boilerplate
from checkatron_spark.functions.text import PII_PATTERNS, pii_count, pii_scrub
from checkatron_spark.sampling import temperature_sample


def _pii_row(spark, text):
    t = F.col("text")
    df = spark.createDataFrame([(1, text)], ["id", "text"]).select(
        *[pii_count(t, k).alias(k) for k in PII_PATTERNS],
        pii_scrub(t).alias("clean"),
    )
    return df.collect()[0]


def test_pii_scrub_positive_matches(spark):
    r = _pii_row(spark, "mail a.b+c@ex-ample.co.uk ip 10.0.255.3 ssn 123-45-6789")
    assert (r["email"], r["ipv4"], r["ssn"], r["phone"]) == (1, 1, 1, 0)
    assert r["clean"] == "mail <EMAIL> ip <IP> ssn <SSN>"


def test_pii_scrub_boundary_negatives(spark):
    # \b guards: digits glued to more digits are NOT an SSN/phone; a
    # dotted run LONGER than 4 octets (version/section number) is consumed
    # whole — over-redaction is the fail-safe direction, a partial match
    # leaving '<IP>.5' fragments would be worse than either extreme
    r = _pii_row(spark, "not ssn 1234-56-7890 phone 555.123.4567 v 1.2.3.4.5")
    assert r["ssn"] == 0
    assert r["phone"] == 1  # dotted phone matches phone, not ipv4
    assert "1234-56-7890" in r["clean"]
    assert r["ipv4"] == 1 and r["clean"].endswith("v <IP>")
    # two adjacent genuine IPs both redact (no boundary-consumption miss)
    r2 = _pii_row(spark, "hosts 10.0.0.1 10.0.0.2 up")
    assert r2["ipv4"] == 2 and r2["clean"] == "hosts <IP> <IP> up"


def test_pii_scrub_is_noop_on_clean_text(spark):
    clean = "just plain words with numbers 123 and dots. end"
    r = _pii_row(spark, clean)
    assert r["clean"] == clean
    assert all(r[k] == 0 for k in PII_PATTERNS)


def test_strip_boilerplate_removes_shared_tiles_only(spark):
    # docs 1 and 2 share their first 3-word tile ("buy our product");
    # every other tile is unique and must survive in original order
    docs = spark.createDataFrame(
        [
            (1, "buy our product alpha beta gamma delta epsilon zeta"),
            (2, "buy our product one two three four five six"),
            (3, "totally unrelated text with nine distinct words here"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in strip_boilerplate(docs, k=3, min_docs=2).collect()
    }
    assert out[1]["clean_text"] == "alpha beta gamma delta epsilon zeta"
    assert out[2]["clean_text"] == "one two three four five six"
    assert out[3]["clean_text"] == docs.collect()[2]["text"]
    assert out[1]["n_removed"] == 1 and out[3]["n_removed"] == 0
    assert out[1]["n_chunks"] == 3


def test_strip_boilerplate_fully_boilerplate_doc_yields_empty(spark):
    docs = spark.createDataFrame(
        [(1, "spam spam spam"), (2, "spam spam spam")], ["doc_id", "text"]
    )
    for r in strip_boilerplate(docs, k=3, min_docs=2).collect():
        assert r["clean_text"] == "" and r["n_removed"] == 1


def test_strip_boilerplate_ragged_tail_tile(spark):
    # 5 words with k=3 -> tiles of 3 and 2 words; reassembly must restore
    # the exact original text when nothing is duplicated
    docs = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    r = strip_boilerplate(docs, k=3, min_docs=2).collect()[0]
    assert r["clean_text"] == "a b c d e" and r["n_chunks"] == 2


def test_gopher_flags_integer_boundaries(spark):
    mk = {
        # exactly 20 words of length 5 -> all-pass (with 2 stopwords)
        "pass": "the a " + " ".join(["vwxyz"] * 18),
        # 19 words -> word-count flag fails, everything else passes
        "short": "the a " + " ".join(["vwxyz"] * 17),
        # mean word length 2 (< 3): 20 two-char words incl two stopwords
        "tiny_words": "ab cd " + " ".join(["ef"] * 16) + " in is",
        # only one stopword
        "one_stop": "the " + " ".join(["vwxyz"] * 19),
    }
    docs = spark.createDataFrame(
        [(k, v) for k, v in mk.items()], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in gopher_quality_profile(docs).collect()}
    assert out["pass"]["keep"] is True
    assert out["short"]["flag_word_count"] is False
    assert out["short"]["flag_mean_word_len"] is True
    assert out["tiny_words"]["flag_mean_word_len"] is False
    assert out["one_stop"]["flag_stopwords"] is False
    assert out["one_stop"]["keep"] is False


def test_gopher_alpha_rule(spark):
    # 10 of 20 words numeric -> 50% alpha < 80% threshold
    text = " ".join(["the"] * 10 + ["12345"] * 10)
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    r = gopher_quality_profile(docs).collect()[0]
    assert r["flag_alpha_words"] is False and r["n_alpha_words"] == 10


def test_temperature_sample_keeps_rare_groups_whole(spark):
    rows = [(i, "big") for i in range(400)] + [(1000 + i, "rare") for i in range(16)]
    df = spark.createDataFrame(rows, ["k", "g"])
    kept = temperature_sample(df, "k", "g", budget_frac=0.5).collect()
    by_g = {}
    for r in kept:
        by_g[r["g"]] = by_g.get(r["g"], 0) + 1
    # rare rate = min(1, 0.5*sqrt(400/16)) = 2.5 -> capped at 1: all kept
    assert by_g["rare"] == 16
    # big rate = 0.5 exactly; hash draw keeps roughly half
    assert 150 < by_g["big"] < 250


def test_temperature_sample_is_deterministic(spark):
    rows = [(i, "a" if i % 3 else "b") for i in range(300)]
    df = spark.createDataFrame(rows, ["k", "g"])
    a = sorted(r["k"] for r in temperature_sample(df, "k", "g", budget_frac=0.7).collect())
    b = sorted(r["k"] for r in temperature_sample(df, "k", "g", budget_frac=0.7).collect())
    assert a == b and len(a) > 0


def test_dedup_incremental_statuses(spark):
    from checkatron_spark.operators.dedup import dedup_incremental

    base = spark.createDataFrame(
        [(1, "seen before text"), (2, "other base text")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [
            (10, "seen before text"),     # exact dup of base doc 1
            (11, "fresh content one"),    # genuinely new
            (12, "fresh content two"),
            (13, "fresh content two"),    # dup WITHIN the batch (13 > 12)
            (14, "Seen  BEFORE text!"),   # normalization-equal to base
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["status"]
           for r in dedup_incremental(new, base, "text", "doc_id").collect()}
    assert out == {
        10: "dup_of_base",
        11: "new",
        12: "new",
        13: "dup_in_batch",
        14: "dup_of_base",
    }


def test_neardup_incremental_finds_cross_pairs_only(spark):
    from checkatron_spark.operators.dedup import neardup_incremental

    base = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            # one word changed vs base doc 1 -> high jaccard cross pair
            (10, "alpha beta gamma delta epsilon zeta eta iota"),
            # unrelated; also near-dup of ANOTHER NEW doc (must NOT pair)
            (11, "red orange yellow green blue indigo violet pink"),
            (12, "red orange yellow green blue indigo violet navy"),
        ],
        ["doc_id", "text"],
    )
    pairs = neardup_incremental(
        new, base, "text", "doc_id", n=3, threshold=0.5
    ).collect()
    assert [(p["new_id"], p["base_id"]) for p in pairs] == [(10, 1)]
    assert pairs[0]["jaccard"] > 0.5


def test_null_text_never_drops_documents(spark):
    """A cleaning pass must not lose rows: NULL text folds to '' in
    strip_boilerplate (doc retained, empty clean_text) and
    gopher_quality_profile (definite False keep, never NULL)."""
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "normal words here")],
        "doc_id int, text string",
    )
    stripped = {r.doc_id: r for r in
                strip_boilerplate(docs, k=3, min_docs=2).collect()}
    assert set(stripped) == {1, 2, 3}
    assert stripped[1]["clean_text"] == ""
    flags = {r.doc_id: r for r in gopher_quality_profile(docs).collect()}
    assert flags[1]["keep"] is False  # definite boolean, not NULL


def test_temperature_sample_null_group_is_a_group(spark):
    """groupBy counts the NULL group, so the join back must be null-safe —
    a plain equi-join would silently drop every null-group row."""
    rows = [(i, None if i < 4 else "a") for i in range(20)]
    df = spark.createDataFrame(rows, "k int, g string")
    kept = temperature_sample(df, "k", "g", budget_frac=1.0).collect()
    # budget_frac=1.0: every group's rate is >= 1 -> nothing drops at all
    assert sorted((r.k, r.g) for r in kept) == sorted(rows)
    assert sorted(temperature_sample(df, "k", "g", budget_frac=1.0).columns) \
        == ["g", "k"]


def test_prefix_filter_integer_boundary_t08(spark):
    """Regression: floor((1-0.8)*5) computes floor(0.999...8) = 0 in IEEE
    arithmetic, shortening the lemma's prefix by one exactly when (1-t)*n
    is an integer. Construction that MISSED before the epsilon fix: new
    doc's shingle set X (|X|=4) vs base doc X ∪ {u} (|X∪{u}|=5, Jaccard
    exactly 0.8); u is unique, so it sorts first in the base's
    rarest-first order and a 1-element prefix is {u} — disjoint from the
    new doc's prefix, no candidate, pair lost."""
    from checkatron_spark.operators.dedup import (
        neardup_incremental,
        neardup_ngram_jaccard,
    )

    # with n=1 the shingle set IS the word set: new = 4 shared words,
    # base = the same 4 plus a unique 5th
    new = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], ["doc_id", "text"]
    )
    base = spark.createDataFrame(
        [(100, "alpha beta gamma delta unique")], ["doc_id", "text"]
    )
    pairs = neardup_incremental(
        new, base, "text", "doc_id", n=1, threshold=0.8
    ).collect()
    assert [(p.new_id, p.base_id) for p in pairs] == [(1, 100)]
    assert abs(pairs[0].jaccard - 0.8) < 1e-12

    # same boundary through the self-join variant
    both = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta unique")],
        ["doc_id", "text"],
    )
    self_pairs = neardup_ngram_jaccard(
        both, "text", "doc_id", n=1, threshold=0.8
    ).collect()
    assert [(p.id_a, p.id_b) for p in self_pairs] == [(1, 2)]


def test_null_fold_parity_with_duckdb(spark, duck):
    """The NULL-text fold must agree ACROSS ENGINES, not just within Spark:
    strip_boilerplate and gopher_quality_profile graded against their
    oracles on a corpus that contains NULL and empty text."""
    from checkatron_spark.corpus import (
        GOPHER_QUALITY_SQL,
        STRIP_BOILERPLATE_SQL,
        gopher_quality_profile,
        strip_boilerplate,
    )

    rows = [
        (1, None),
        (2, ""),
        (3, "the a shared tile words here shared tile words extra"),
        (4, "other doc with shared tile words inside it too yes"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    duck.sql("CREATE TABLE documents(doc_id INT, text VARCHAR)")
    duck.executemany("INSERT INTO documents VALUES (?, ?)", rows)

    got = sorted(
        (r.doc_id, r.clean_text, r.n_chunks, r.n_removed)
        for r in strip_boilerplate(docs, k=3, min_docs=2).collect()
    )
    want = sorted(
        tuple(t) for t in duck.sql(STRIP_BOILERPLATE_SQL).fetchall()
    )
    assert got == want and len(got) == 4  # NULL doc present on BOTH sides

    gq = gopher_quality_profile(docs)
    cols = gq.columns
    got2 = sorted(tuple(r[c] for c in cols) for r in gq.collect())
    res = duck.sql(GOPHER_QUALITY_SQL)
    idx = [res.columns.index(c) for c in cols]
    want2 = sorted(tuple(row[i] for i in idx) for row in res.fetchall())
    assert got2 == want2


# ---------------------------------------------------------------------------
# within-document self-repetition strip (round 5) — positive paths the
# word-salad fixtures never hit
# ---------------------------------------------------------------------------

def _strip_rep(spark, text):
    from checkatron_spark.corpus import strip_repeated_sentences

    df = spark.createDataFrame([(1, text)], "doc_id int, text string")
    return strip_repeated_sentences(df).collect()[0]


def test_consecutive_repeats_dropped_nonconsecutive_kept(spark):
    r = _strip_rep(spark, "buy now. buy now. quality text. buy now.")
    assert (r.n_sentences, r.n_kept) == (4, 3)
    assert r.clean_text == "buy now. quality text. buy now"


def test_run_of_identical_sentences_collapses_to_one(spark):
    r = _strip_rep(spark, "spam. spam. spam. spam. spam.")
    assert (r.n_sentences, r.n_kept) == (5, 1)
    assert r.clean_text == "spam"


def test_clean_doc_untouched(spark):
    r = _strip_rep(spark, "one. two. three.")
    assert (r.n_sentences, r.n_kept) == (3, 3)
    assert r.clean_text == "one. two. three"


def test_empty_and_null_docs(spark):
    for text in ("", None, " . . "):
        r = _strip_rep(spark, text)
        assert (r.n_sentences, r.n_kept, r.clean_text) == (0, 0, "")


def test_whitespace_variants_count_as_repeats(spark):
    # trimming happens before comparison, so '  spam ' == 'spam'
    r = _strip_rep(spark, "spam.   spam . end.")
    assert (r.n_sentences, r.n_kept) == (3, 2)
    assert r.clean_text == "spam. end"


# ---------------------------------------------------------------------------
# round-5 scorer/decontamination edge paths (fixtures: no NULLs, no
# orthogonal/identical embedding pairs — craft them)
# ---------------------------------------------------------------------------

def test_hashed_linear_score_null_and_empty_fold_identically(spark):
    from checkatron_spark.functions.text import hashed_linear_score

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   ")], "id int, text string"
    ).select("id", hashed_linear_score(F.col("text")).alias("q"))
    rows = {r.id: r.q for r in df.collect()}
    # NULL -> '' -> the [''] token: all three rows score the ''-bucket weight
    assert rows[1] == rows[2] == rows[3]
    assert rows[1] is not None and -1.0 <= rows[1] < 1.0


def test_hashed_linear_score_is_token_order_invariant_mean(spark):
    from checkatron_spark.functions.text import hashed_linear_score

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta alpha"), (3, "alpha alpha")],
        "id int, text string",
    ).select("id", hashed_linear_score(F.col("text")).alias("q"))
    rows = {r.id: r.q for r in df.collect()}
    # mean of two weights: order must not matter (sequential fold of the
    # same two doubles — commutative only because we assert the rounded
    # mean, and a+b == b+a exactly for two doubles)
    assert rows[1] == rows[2]
    assert rows[3] != rows[1]  # different bag -> different score (whp)


def test_decontaminate_semantic_hits_and_misses(spark):
    from checkatron_spark.operators.similarity import decontaminate_semantic

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.9, 0.1])],
        "vec_id long, embedding array<float>",
    )
    bench = spark.createDataFrame(
        [(100, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    out = {r.vec_id: r for r in
           decontaminate_semantic(corpus, bench, threshold=0.8).collect()}
    assert set(out) == {1, 3}           # 2 is orthogonal -> clean
    assert out[1].max_bench_sim == 1.0  # identical direction
    assert out[1].n_bench_hits == 1


def test_decontaminate_semantic_empty_benchmark(spark):
    from checkatron_spark.operators.similarity import decontaminate_semantic

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    bench = corpus.filter("vec_id < 0")
    assert decontaminate_semantic(corpus, bench).count() == 0


def test_dedup_corpus_custom_pairs_seam(spark):
    from checkatron_spark.operators.dedup import dedup_corpus

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 6)], "doc_id int, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a int, id_b int"
    )
    kept = sorted(
        r.doc_id
        for r in dedup_corpus(docs, "text", "doc_id", pairs=pairs).collect()
    )
    # components {1,2,3} and {4,5} keep their min ids
    assert kept == [1, 4]


def test_dedup_spans_keeps_exactly_one_occurrence(spark):
    from checkatron_spark.corpus import dedup_spans_keep_first

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),        # both tiles globally first
            (2, "a b c d x y z w"),        # loses "a b c d" to doc 1
            (3, "e f g h"),                # loses its only tile to doc 1
            (4, "p q r s p q r s"),        # within-doc dup: first copy wins
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in dedup_spans_keep_first(docs, k=4).collect()}
    assert out[1].clean_text == "a b c d e f g h"
    assert (out[1].n_chunks, out[1].n_kept) == (2, 2)
    assert out[2].clean_text == "x y z w"
    assert (out[2].n_chunks, out[2].n_kept) == (2, 1)
    assert out[3].clean_text == ""
    assert (out[3].n_chunks, out[3].n_kept) == (1, 0)
    assert out[4].clean_text == "p q r s"
    assert (out[4].n_chunks, out[4].n_kept) == (2, 1)


def test_decontaminate_bloom_never_misses_exact_matches(spark):
    # the Bloom mask may over-flag (false positives) but a gram actually in
    # the benchmark has all k bits set BY CONSTRUCTION — every exact match
    # must be flagged, with a per-doc count >= the exact count
    from checkatron_spark.operators.dedup import decontaminate, decontaminate_bloom

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id int, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "x alpha beta gamma y"),     # shares "alpha beta gamma"
            (2, "totally unrelated words here"),
            (3, "beta gamma delta tail more"),
        ],
        "doc_id int, text string",
    )
    exact = {
        r.doc_id: r.n_matched_grams
        for r in decontaminate(corpus, bench, "text", "doc_id").collect()
    }
    bloom = {
        r.doc_id: r.n_flagged_grams
        for r in decontaminate_bloom(corpus, bench, "text", "doc_id").collect()
    }
    assert set(exact) == {1, 3}
    for doc_id, n in exact.items():
        assert bloom.get(doc_id, 0) >= n


def test_decontaminate_bloom_empty_benchmark(spark):
    from checkatron_spark.operators.dedup import decontaminate_bloom

    corpus = spark.createDataFrame(
        [(1, "some words in a row")], "doc_id int, text string"
    )
    bench = corpus.filter("doc_id < 0")
    assert decontaminate_bloom(corpus, bench, "text", "doc_id").count() == 0


def test_bloom_mask_memo_builds_once_per_benchmark(spark, monkeypatch):
    """Round 10 (VERDICT r9 #2): the decontamination mask is a pure
    function of (benchmark identity, n, m_bits, k); repeat gating — one
    mask vs many corpus batches, the production pattern — must pay the
    benchmark-side shingle scan exactly once. Pinned by counting
    bloom_mask_words calls across two full query builds + executions,
    and by checking a different operating point does NOT reuse the
    cached mask."""
    import os

    if not os.path.isdir("/root/testdata/sf0.001"):
        import pytest

        pytest.skip("driver parquet fixtures not available")
    from checkatron_spark import model_cache
    from checkatron_spark import pipelines as P

    monkeypatch.setattr(model_cache, "_MEMORY", {})
    calls = {"n": 0}
    real = P.D.bloom_mask_words

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(P.D, "bloom_mask_words", counting)
    sf = "/root/testdata/sf0.001"
    n1 = P.q_decontaminate_bloom(spark, sf).count()
    n2 = P.q_decontaminate_bloom(spark, sf).count()
    assert n1 == n2
    assert calls["n"] == 1, "mask must build once across repeat gating"
    P._bench_bloom_mask(spark, sf, m_bits=4096)
    assert calls["n"] == 2, "a new operating point must rebuild, not reuse"


def test_null_text_parity_pii_and_neardup_incremental(spark, duck, tmp_path):
    """VERDICT r5 items 2/3: the pii-scrub and incremental-neardup oracles
    must agree with Spark on a fixture that CONTAINS NULL-text documents —
    the latent divergences were size(regexp_extract_all(NULL)) = -1 vs NULL
    (pii) and the oracle dropping NULL docs the Spark side folds to the ''
    sentinel (neardup). Both ends now coalesce(text, ''), so two NULL docs
    across the new/base split pair on BOTH engines, not Spark-only."""
    import pandas as pd

    from checkatron_spark.pipelines import (
        NEARDUP_INCREMENTAL_SQL,
        pii_scrub_sql,
        q_neardup_incremental,
        q_pii_scrub,
    )

    rows = [
        # doc_id % 17 == 2 -> "new" batch; else base
        (1, "web", None),                         # base, NULL text
        (2, "web", None),                         # new, NULL text
        (3, "web", "alpha beta gamma delta"),     # base twin of 19
        (4, "web", "totally different words entirely x"),
        (19, "web", "alpha beta gamma delta"),    # new, dup of base 3
    ]
    pd.DataFrame(rows, columns=["doc_id", "source", "text"]).to_parquet(
        tmp_path / "documents.parquet"
    )
    duck.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'documents.parquet'}')"
    )

    pii = q_pii_scrub(spark, str(tmp_path))
    got = sorted(tuple(r) for r in pii.collect())
    res = duck.sql(pii_scrub_sql())
    idx = [res.columns.index(c) for c in pii.columns]
    want = sorted(tuple(row[i] for i in idx) for row in res.fetchall())
    assert got == want and len(got) == 5  # NULL docs present on both sides

    nd = q_neardup_incremental(spark, str(tmp_path))
    got2 = sorted(tuple(r) for r in nd.collect())
    res2 = duck.sql(NEARDUP_INCREMENTAL_SQL)
    idx2 = [res2.columns.index(c) for c in nd.columns]
    want2 = sorted(tuple(row[i] for i in idx2) for row in res2.fetchall())
    assert got2 == want2
    # the two NULL docs fold to the '' sentinel and pair at jaccard 1.0 —
    # on BOTH engines (pre-fix the oracle dropped them, Spark paired them)
    assert (2, 1, 1.0) in got2 and (19, 3, 1.0) in got2


def test_degenerate_embedding_parity_spark_vs_oracle(spark, duck, tmp_path):
    """ADVICE r9: the Spark cosine operators drop zero-norm/NULL
    embeddings; the oracle CTEs must encode the SAME contract. On a
    fixture that actually contains a NULL embedding, a zero vector, and a
    zero-vector QUERY, both engines must agree row-for-row (pre-fix,
    DuckDB emitted the degenerate rows with NULL/inf cosine while Spark
    omitted them)."""
    import pandas as pd

    from checkatron_spark.pipelines import (
        ANN_BRUTEFORCE_SQL,
        NEARDUP_EMBEDDING_SQL,
        q_ann_bruteforce,
        q_neardup_embedding,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 1),          # query (vec_id % 50 == 0)
        (1, [0.9, 0.1, 0.0, 0.0], 1),
        (2, [0.0, 0.0, 0.0, 0.0], 1),          # zero vector -> dropped
        (3, None, 1),                           # NULL embedding -> dropped
        (4, [0.0, 1.0, 0.0, 0.0], 1),
        (5, [0.5, 0.5, 0.0, 0.0], 2),
        (50, [0.0, 0.0, 0.0, 0.0], 2),          # degenerate QUERY -> dropped
        # element-level NULL -> dropped on BOTH engines (round-10
        # self-review: Spark's fold-norm poisons on one NULL element;
        # _EMB_OK's list_filter clause makes the oracle match)
        (6, [None, 1.0, 0.0, 0.0], 1),
    ]
    pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]).to_parquet(
        tmp_path / "embeddings.parquet"
    )
    duck.sql(
        "CREATE VIEW embeddings AS SELECT vec_id, embedding::FLOAT[] AS "
        "embedding, label FROM "
        f"read_parquet('{tmp_path / 'embeddings.parquet'}')"
    )
    for qfn, sql in (
        (q_ann_bruteforce, ANN_BRUTEFORCE_SQL),
        (q_neardup_embedding, NEARDUP_EMBEDDING_SQL),
    ):
        df = qfn(spark, str(tmp_path))
        got = sorted(tuple(r) for r in df.collect())
        res = duck.sql(sql)
        idx = [res.columns.index(c) for c in df.columns]
        want = sorted(tuple(row[i] for i in idx) for row in res.fetchall())
        assert got == want, (qfn.__name__, got, want)
        ids = {r[0] for r in got} | {r[1] for r in got}
        assert not ids & {2, 3, 50, 6}, (qfn.__name__, ids)
    assert len(got) >= 1  # the parity check wasn't vacuous


def test_decontaminate_semantic_zero_norm_benchmark_raises(spark):
    """ADVICE r5: a zero-norm eval embedding would silently disable its own
    decontamination (cosine NULL -> never flagged). The operator must fail
    fast instead of admitting everything."""
    import pytest

    from checkatron_spark.operators.similarity import decontaminate_semantic

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id int, embedding array<float>"
    )
    bad_bench = spark.createDataFrame(
        [(9, [0.0, 0.0])], "vec_id int, embedding array<float>"
    )
    with pytest.raises(ValueError, match="zero-norm"):
        decontaminate_semantic(corpus, bad_bench)

    # ADVICE r6: a NULL benchmark embedding is the same silent-disable
    # failure (NULL norm -> `~(NULL > 0)` is NULL -> filter dropped it and
    # the guard never fired); it must raise too
    null_bench = spark.createDataFrame(
        [(9, None)], "vec_id int, embedding array<float>"
    )
    with pytest.raises(ValueError, match="zero-norm"):
        decontaminate_semantic(corpus, null_bench)

    # zero-norm CORPUS rows are fine: they can't match anything and are
    # embedding_audit's problem, not the gate's
    z_corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])], "vec_id int, embedding array<float>"
    )
    bench = spark.createDataFrame(
        [(9, [1.0, 0.0])], "vec_id int, embedding array<float>"
    )
    hits = decontaminate_semantic(z_corpus, bench, threshold=0.8).collect()
    assert [r.vec_id for r in hits] == [1]


def test_embedding_cosine_blocked_path_never_cartesian(spark):
    """VERDICT r5 item 5: the crossJoin fallback in the blocked path was
    unreachable-but-live; now it's gone, pin that the NON-query entry point
    with a block_col compiles to an equi-join, never a cartesian."""
    from checkatron_spark.operators.similarity import neardup_embedding_cosine

    v = spark.createDataFrame(
        [(1, [1.0, 0.0], "a"), (2, [1.0, 0.0], "a"), (3, [0.0, 1.0], "b")],
        "vec_id int, embedding array<float>, blk string",
    )
    df = neardup_embedding_cosine(v, block_col="blk")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = [(r.id_a, r.id_b) for r in df.collect()]
    assert got == [(1, 2)]


def test_decontaminate_multi_per_suite_attribution(spark):
    """Round 6: one corpus pass must attribute contamination PER SUITE —
    a doc leaking from two suites reports two rows; clean docs report
    none; the single-benchmark operator is the label-constant special
    case whose per-doc totals the multi report must reproduce when every
    suite carries the same label."""
    from checkatron_spark.operators.dedup import decontaminate, decontaminate_multi

    bench = spark.createDataFrame(
        [
            ("mmlu", 100, "alpha beta gamma delta"),
            ("gsm", 101, "solve seven plus eight now"),
        ],
        "bench string, doc_id int, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "x alpha beta gamma y"),               # leaks mmlu only
            (2, "we solve seven plus eight now ok"),   # leaks gsm only
            (3, "alpha beta gamma solve seven plus eight"),  # both
            (4, "totally clean document here"),
        ],
        "doc_id int, text string",
    )
    rows = {
        (r.doc_id, r.bench): r.n_matched_grams
        for r in decontaminate_multi(corpus, bench, "text", "doc_id", "bench").collect()
    }
    assert set(rows) == {(1, "mmlu"), (2, "gsm"), (3, "mmlu"), (3, "gsm")}
    assert rows[(3, "mmlu")] >= 1 and rows[(3, "gsm")] >= 1

    # label-constant frame == single-benchmark operator, per doc
    one = bench.select(F.lit("all").alias("bench"), "doc_id", "text")
    multi = {
        r.doc_id: r.n_matched_grams
        for r in decontaminate_multi(corpus, one, "text", "doc_id", "bench").collect()
    }
    single = {
        r.doc_id: r.n_matched_grams
        for r in decontaminate(corpus, bench, "text", "doc_id").collect()
    }
    assert multi == single


def test_split_sentences_expr_matches_udtf(spark):
    """VERDICT r6 item 2: the codegen split/posexplode form (what the
    declared query now resolves to) must be row-identical to the UDTF
    API demo, fixtures plus hand edge cases (NULL text, empty parts,
    leading/trailing dots, whitespace-only sentences)."""
    import os

    import pytest

    from checkatron_spark.pipelines import (
        q_split_sentences,
        q_split_sentences_expr,
    )

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver parquet fixtures not available")
    a = sorted(tuple(r) for r in q_split_sentences_expr(spark, sf).collect())
    b = sorted(tuple(r) for r in q_split_sentences(spark, sf).collect())
    assert a == b and len(a) > 0

    # hand edge cases through the same two code paths via a temp dir
    import pandas as pd

    rows = [
        (1, "a. b..c ."),
        (2, None),
        (3, ""),
        (4, "...."),
        (5, " x .  . y. "),
    ]
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        pd.DataFrame(
            [(i, t, "en", "s", 0) for i, t in rows],
            columns=["doc_id", "text", "lang", "source", "n_chars"],
        ).to_parquet(os.path.join(td, "documents.parquet"))
        a2 = sorted(
            tuple(r) for r in q_split_sentences_expr(spark, td).collect()
        )
        b2 = sorted(tuple(r) for r in q_split_sentences(spark, td).collect())
    assert a2 == b2
    assert a2 == [
        (1, 0, "a"), (1, 1, "b"), (1, 2, "c"),
        (5, 0, "x"), (5, 1, "y"),
    ]


# ---------------------------------------------------------------------------
# round 7: the tiling re-plan (split-once + contested-only join-back) fuzzed
# against the unchanged DuckDB oracles — random tiny corpora from a 6-word
# alphabet force heavy tile collisions, plus NULL/empty/single-word docs
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_WORDS = ["the", "a", "shared", "tile", "words", "x"]
_doc_text = st.one_of(
    st.none(),
    st.just(""),
    st.lists(st.sampled_from(_WORDS), min_size=1, max_size=14).map(" ".join),
)


@given(texts=st.lists(_doc_text, min_size=1, max_size=8))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_fuzz_tiling_rewrite_matches_oracles(spark, texts):
    import duckdb

    from checkatron_spark.corpus import (
        DEDUP_SPANS_SQL,
        STRIP_BOILERPLATE_SQL,
        dedup_spans_keep_first,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    con = duckdb.connect(":memory:")
    try:
        con.sql("CREATE TABLE documents(doc_id INT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)

        got = sorted(
            (r.doc_id, r.clean_text, r.n_chunks, r.n_removed)
            for r in strip_boilerplate(docs, k=3, min_docs=2).collect()
        )
        want = sorted(tuple(t) for t in con.sql(STRIP_BOILERPLATE_SQL).fetchall())
        assert got == want and len(got) == len(rows)

        got2 = sorted(
            (r.doc_id, r.clean_text, r.n_chunks, r.n_kept)
            for r in dedup_spans_keep_first(docs, k=4).collect()
        )
        want2 = sorted(tuple(t) for t in con.sql(DEDUP_SPANS_SQL).fetchall())
        assert got2 == want2 and len(got2) == len(rows)
    finally:
        con.close()


def test_exotic_whitespace_parity_spark_vs_oracle(spark, duck, tmp_path):
    """Round 10 whitespace-contract lock: an adversarial corpus — vertical
    tab, form feed, CR, no-break space (\\u00a0), em space (\\u2003),
    zero-width space (\\u200b), leading/trailing tab/newline mixes, a
    VT-only doc, a true-whitespace-only doc, NULL and empty — must grade
    row-identical across Spark (Java regex + python kernels) and the
    DuckDB (RE2) oracle for the token-stats and shingle-pair queries.
    Every one of these characters picks a different side of \\s in at
    least one of the three regex dialects; the explicit [ \\t\\n\\r\\f]
    class is what makes the engines agree."""
    import pandas as pd

    from checkatron_spark.pipelines import (
        NEARDUP_JACCARD_SQL,
        TEXT_STATS_SQL,
        q_neardup_jaccard,
        q_text_stats,
    )

    texts = [
        "plain words the and of",
        "\x0bvertical\x0btab padded\x0b",
        "\x0b",                               # VT-only: one token everywhere
        "\ttab lead and trail\t",
        "\nnewline lead the end\n",
        "\fform\ffeed the gap\f",
        "\rcarriage the return\r",
        "no break space the pair",        # NBSP inside a "token"
        "em space the pair",              # U+2003 inside a "token"
        "zero​width the pair",            # ZWSP inside a "token"
        " \t\n\f\r ",                          # true-whitespace-only: dropped
        "",
        None,
        # repeated so the shingle query has real pairs to emit
        "alpha\x0bbeta gamma delta the of",
        "alpha\x0bbeta gamma delta the of",
        "alpha beta gamma delta the of",
    ]
    rows = [
        (i + 1, t, "en", "web", len(t) if t else 0)
        for i, t in enumerate(texts)
    ]
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet")
    duck.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'documents.parquet'}')"
    )
    for qfn, sql in (
        (q_text_stats, TEXT_STATS_SQL),
        (q_neardup_jaccard, NEARDUP_JACCARD_SQL),
    ):
        df = qfn(spark, str(tmp_path))
        got = sorted(
            tuple(round(v, 9) if isinstance(v, float) else v for v in r)
            for r in df.collect()
        )
        res = duck.sql(sql)
        idx = [res.columns.index(c) for c in df.columns]
        want = sorted(
            tuple(
                round(row[i], 9) if isinstance(row[i], float) else row[i]
                for i in idx
            )
            for row in res.fetchall()
        )
        assert got == want, (qfn.__name__, got[:4], want[:4])
    assert len(got) >= 1  # the pair query emitted real rows, not vacuous


def test_canonical_url_normalizes_recrawl_variants(spark):
    """Round 11: the production canonical key for dedup_canonical —
    scheme/host case, tracking params, param order, trailing slash, and
    fragments all collapse; distinct content locations stay distinct;
    unparseable urls go to the explicit NULL group."""
    from checkatron_spark import canonical_url

    rows = [
        (1, "HTTP://Example.COM/a/b/?utm_source=x&b=2&a=1#frag"),
        (2, "http://example.com/a/b?a=1&b=2"),          # same canonical
        (3, "http://example.com/a/b?a=1&b=2&gclid=zz"),  # same canonical
        (4, "http://example.com/a/b?a=1&b=3"),           # DIFFERENT param
        (5, "https://example.com/a/b?a=1&b=2"),          # different scheme
        (6, "https://Example.com/"),
        (7, "https://example.com"),                      # same as 6
        (8, "not a url at all"),                         # -> NULL
        (9, None),                                        # -> NULL
        (10, "http://example.com/x?utm_campaign=only"),   # tracking-only qs
        (11, "http://example.com/x"),                     # same as 10
    ]
    df = spark.createDataFrame(rows, ["i", "u"])
    got = {r["i"]: r["c"] for r in df.select(
        "i", canonical_url(df["u"]).alias("c")).collect()}
    assert got[1] == got[2] == got[3] == "http://example.com/a/b?a=1&b=2"
    assert got[4] == "http://example.com/a/b?a=1&b=3" != got[2]
    assert got[5].startswith("https://") and got[5] != got[2]
    assert got[6] == got[7] == "https://example.com"
    assert got[8] is None and got[9] is None
    assert got[10] == got[11] == "http://example.com/x"


def test_canonical_url_tracking_params_tunable(spark):
    """ADVICE r11: 'ref' is content-addressing on code forges — a caller
    can narrow the strip list so ?ref=branch variants stay distinct,
    while the default still collapses them."""
    from checkatron_spark import canonical_url

    rows = [
        (1, "https://forge.example/repo/file?ref=main"),
        (2, "https://forge.example/repo/file?ref=dev"),
        (3, "https://forge.example/repo/file?ref=main&utm_source=x"),
    ]
    df = spark.createDataFrame(rows, ["i", "u"])
    default = {r["i"]: r["c"] for r in df.select(
        "i", canonical_url(df["u"]).alias("c")).collect()}
    assert default[1] == default[2]  # default strips ref
    narrowed = {r["i"]: r["c"] for r in df.select(
        "i",
        canonical_url(
            df["u"], tracking_params=("utm_[^=]*", "gclid", "fbclid")
        ).alias("c"),
    ).collect()}
    assert narrowed[1] != narrowed[2]            # branches stay distinct
    assert narrowed[1] == narrowed[3]            # utm_* still stripped
    assert narrowed[1].endswith("?ref=main")


def test_nfc_declared_table_matches_stdlib_nfc(spark):
    """Round 14 (VERDICT r13 #4): the declared-NFC replace chain must
    agree with stdlib unicodedata NFC on every string whose combining
    marks are covered by the declared table — the snippets the declared
    queries synthesize are exactly such strings (the profile's
    'combining'==0 row proves coverage corpus-wide)."""
    import unicodedata

    from pyspark.sql import functions as F

    from checkatron_spark.functions.text import NFC_PAIRS, nfc_normalize
    from checkatron_spark.pipelines import _MULTILINGUAL_SNIPPETS

    # table sanity: every pair is a genuine NFD->NFC composition
    for seq, comp in NFC_PAIRS:
        assert unicodedata.normalize("NFC", seq) == comp
        assert unicodedata.normalize("NFD", comp) == seq
        assert len(comp) == 1 and len(seq) == 2
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(_MULTILINGUAL_SNIPPETS)]
        + [(99, "á è ñ ç mixed über")],
        ["i", "s"],
    )
    got = {r.i: r.n for r in df.select(
        "i", nfc_normalize(F.col("s")).alias("n")).collect()}
    for i, s in enumerate(_MULTILINGUAL_SNIPPETS):
        assert got[i] == unicodedata.normalize("NFC", s), i
    assert got[99] == unicodedata.normalize(
        "NFC", "á è ñ ç mixed über"
    )


def test_unicode_profile_vs_oracle_on_nonascii_slice(spark, duck, tmp_path):
    """The unicode_profile query against its DuckDB oracle on a
    hand-built NON-ASCII document slice (decomposed sequences, all five
    scripts, NULL text) — the cross-engine pin VERDICT r13 #4 asked
    for, independent of the driver fixtures."""
    import pandas as pd

    from checkatron_spark.pipelines import (
        QUERIES,
        oracles,
    )

    rows = [
        (0, "café déjà vu 42"),
        (1, "Ελληνικά και русский"),
        (2, "中文 نص عربي mixed"),
        (3, None),
        (4, "plain ascii"),
        (5, "über schön nöel"),
        (6, "ASCII 999 content"),
        (7, "tabs\tand\nnewlines"),
    ]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        tmp_path / "documents.parquet"
    )
    duck.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'documents.parquet'}')"
    )
    df = QUERIES["unicode_profile"](spark, str(tmp_path))
    res = duck.sql(oracles()["unicode_profile"])
    from tests.conftest import assert_same_rows

    idx = [res.columns.index(c) for c in df.columns]
    assert_same_rows(
        df,
        [tuple(row[i] for i in idx) for row in res.fetchall()],
        duck_cols=df.columns,
    )
    got = {r.script: (r.n_codepoints, r.n_docs) for r in df.collect()}
    # the declared table must fully compose this slice's combining marks
    assert got["combining"] == (0, 0)
    assert got["nfc_composed"][0] > 0  # and it had real work to do
    assert got["cjk"][0] > 0 and got["arabic"][0] > 0
