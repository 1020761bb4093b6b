"""Training-data pipeline workloads (dedup / similarity / text analysis /
events) with their DuckDB oracle SQL.

Every Spark query here has a paired ``*_SQL`` oracle whose arithmetic mirrors
the DataFrame expression **operation-for-operation** (same fold order, same
parenthesization) so double-precision results are bit-identical across
engines. Probabilistic operators (MinHash LSH, SimHash, LSH ANN) have no SQL
oracle — the driver records a rows-only check; their exact counterparts
(ngram_jaccard, bruteforce ANN) are the oracle-checked ground truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from checkatron_spark import model_cache
from checkatron_spark.functions import text as T
from checkatron_spark.operators import dedup as D
from checkatron_spark.operators import similarity as S
from checkatron_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    t = F.col("text")
    return docs.select(
        "doc_id",
        T.token_count(t).alias("n_tokens"),
        T.word_token_count(t).alias("n_units"),
        T.stopword_ratio(t).alias("stop_ratio"),
        T.punct_ratio(t).alias("punct_ratio"),
        T.quality_score(t).alias("quality"),
    )


_STOPS = ", ".join(f"''{w}''" for w in T.STOPWORDS).replace("''", "'")
# explicit ASCII whitespace class on BOTH engines (round 10 — see
# functions/text.py WS_CLASS): RE2's \s already equals it, Java's does
# not (\x0B), so the class is spelled out everywhere for textual parity
_TOKS = r"string_split_regex(trim(text), '[ \t\n\r\f]+')"

TEXT_STATS_SQL = f"""
WITH base AS (
    SELECT doc_id,
        CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS}) END AS n_tokens,
        len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f]')) AS n_units,
        CASE WHEN len({_TOKS}) = 0 THEN 0.0
             ELSE CAST(len(list_filter({_TOKS}, t -> t IN ({_STOPS}))) AS DOUBLE)
                  / CAST(len({_TOKS}) AS DOUBLE) END AS stop_ratio,
        CASE WHEN length(text) = 0 THEN 0.0
             ELSE CAST(len(regexp_extract_all(text, '[^\\w \\t\\n\\r\\f]')) AS DOUBLE)
                  / CAST(length(text) AS DOUBLE) END AS punct_ratio,
        length(text) AS n_len
    FROM documents
)
SELECT doc_id, n_tokens, n_units, stop_ratio, punct_ratio,
    greatest(least(
        least(CAST(n_len AS DOUBLE) / 500.0, 1.0) * 0.5
        + least(stop_ratio * 4.0, 1.0) * 0.5
        - least(punct_ratio * 2.0, 1.0) * 0.25,
    1.0), 0.0) AS quality
FROM base
"""


def q_lang_id_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(T.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _lang_id_sql_expr() -> str:
    """Reverse-order CASE equivalent of the lang_id fold: the fold keeps the
    LAST language (in LANG_MARKERS order) whose hits strictly exceed the max
    of all earlier languages' hits (and 0)."""
    langs = list(T.LANG_MARKERS)
    hit_cols = {}
    for lang, markers in T.LANG_MARKERS.items():
        mlist = ", ".join(f"'{m}'" for m in markers)
        hit_cols[lang] = (
            f"len(list_filter({_TOKS}, t -> t IN ({mlist})))"
        )
    cases = []
    for i in range(len(langs) - 1, -1, -1):
        lang = langs[i]
        earlier = [hit_cols[langs[j]] for j in range(i)] + ["0"]
        cases.append(
            f"WHEN {hit_cols[lang]} > greatest({', '.join(earlier)}) "
            f"THEN '{lang}'"
        )
    return "CASE " + " ".join(cases) + " ELSE 'und' END"


def lang_id_hist_sql() -> str:
    return (
        f"SELECT {_lang_id_sql_expr()} AS lang_pred, COUNT(*) AS n "
        f"FROM documents GROUP BY 1"
    )


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the n-gram classifier's prediction
    cross-tabulated against the corpus's labeled ``lang`` — per (label,
    prediction) cell counts plus the cell's share of its label row in
    exact per-mille. The accuracy readout that tells a pipeline whether
    the cheap in-flight classifier can gate a language mix, per language
    (a skewed 'und' column = markers missing for that language). One
    map-side-combining groupBy over |langs|² cells."""
    from checkatron_spark.session import scratch_persist

    docs = load_table(spark, "documents", sf_dir)
    # persisted: cell feeds both the row-total aggregate and the join main
    # side — without it the corpus scan + n-gram classifier run twice.
    # The row-total join is null-SAFE (eqNullSafe, mirrored by the
    # oracle's IS NOT DISTINCT FROM): a NULL label is a real matrix row
    # (the 'label missing' failure mode), not a row to drop.
    cell = docs.groupBy(
        F.col("lang").alias("lang_label"),
        T.lang_id(F.col("text")).alias("lang_pred"),
    ).agg(F.count(F.lit(1)).alias("n")).transform(scratch_persist)
    row_tot = cell.groupBy("lang_label").agg(
        F.sum("n").cast("bigint").alias("_row_n")
    ).withColumnRenamed("lang_label", "_rl")
    return (
        cell.join(
            F.broadcast(row_tot),
            F.col("lang_label").eqNullSafe(F.col("_rl")),
        )
        .select(
            "lang_label",
            "lang_pred",
            F.col("n").cast("bigint").alias("n"),
            F.expr("CAST((n * 1000) div _row_n AS BIGINT)")
            .alias("row_share_permille"),
        )
    )


def langid_confusion_sql() -> str:
    return f"""
WITH cell AS (
    SELECT lang AS lang_label, {_lang_id_sql_expr()} AS lang_pred,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM documents GROUP BY 1, 2
),
rt AS (
    SELECT lang_label, CAST(SUM(n) AS BIGINT) AS row_n
    FROM cell GROUP BY lang_label
)
SELECT c.lang_label, c.lang_pred, c.n,
       CAST((c.n * 1000) // r.row_n AS BIGINT) AS row_share_permille
FROM cell c JOIN rt r ON c.lang_label IS NOT DISTINCT FROM r.lang_label
"""


_FP = (
    "md5(trim(regexp_replace(regexp_replace(lower(text), "
    "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))"
)


def q_normalize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style text normalization as a VISIBLE cleaning pass (the same
    lowercase → strip-non-alnum → collapse-spaces chain the content
    fingerprint applies internally, emitted as a column instead of hashed
    away): per doc the normalized text, its length, and whether
    normalization changed anything — the pre-tokenization canonical form
    plus the audit bit that says how much of the corpus was non-canonical.
    Pure regexp projection, zero shuffles, scan-speed at any scale."""
    docs = load_table(spark, "documents", sf_dir)
    t = F.coalesce(F.col("text"), F.lit(""))
    # THE normalization chain — the same normalize_text the content
    # fingerprint hashes, so this visible form and the dedup key can
    # never drift apart
    norm = T.normalize_text(t)
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("bigint").alias("norm_len"),
        (norm != t).alias("changed"),
    )


NORMALIZE_CORPUS_SQL = """
WITH base AS (
    SELECT doc_id, coalesce(text, '') AS t FROM documents
),
n AS (
    SELECT doc_id, t,
           trim(regexp_replace(regexp_replace(lower(t), '[^a-z0-9 ]', '',
                                              'g'), ' +', ' ', 'g'))
               AS norm_text
    FROM base
)
SELECT doc_id, norm_text,
       CAST(length(norm_text) AS BIGINT) AS norm_len,
       norm_text <> t AS changed
FROM n
"""


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))


FINGERPRINTS_SQL = f"SELECT doc_id, {_FP} AS fp FROM documents"


def q_rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprints: whole-doc polynomial hash +
    winnowing-style minimum 16-gram hash. Integer-exact across engines."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        T.rolling_hash(F.col("text")).alias("full_hash"),
        T.winnow_min_hash(F.col("text"), k=16).alias("min16_hash"),
    )


_CODES = "list_transform(range(1, length(text) + 1), i -> ascii(substr(text, i, 1)))"
_FOLD = "(a, b) -> (CAST(a AS BIGINT) * 31 + b) % 2147483647"

ROLLING_FINGERPRINTS_SQL = f"""
SELECT doc_id,
    CASE WHEN length(text) = 0 THEN 0
         ELSE list_reduce({_CODES}, {_FOLD}) END AS full_hash,
    CASE WHEN length(text) = 0 THEN 0
         WHEN length(text) < 16 THEN list_reduce({_CODES}, {_FOLD})
         ELSE list_min(list_transform(
              range(1, length(text) - 16 + 2),
              i -> list_reduce(
                   list_transform(range(i, i + 16),
                                  j -> ascii(substr(text, j, 1))),
                   {_FOLD})))
    END AS min16_hash
FROM documents
"""


def q_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies: explode tokens -> count per token (classic
    map-side-combined aggregation; at scale the shuffle key is the token)."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


TOKEN_FREQ_SQL = (
    f"SELECT token, COUNT(*) AS freq FROM "
    f"(SELECT unnest({_TOKS}) AS token FROM documents) GROUP BY 1"
)

def q_curation_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation gate a training pipeline runs: keep documents
    passing quality >= 0.5, stopword ratio <= 0.6, and a predicted-language
    allowlist; report kept docs with their scores. Pure projection+filter —
    embarrassingly parallel, fully pushed down."""
    docs = load_table(spark, "documents", sf_dir)
    t = F.col("text")
    scored = docs.select(
        "doc_id",
        "source",
        T.quality_score(t).alias("quality"),
        T.stopword_ratio(t).alias("stop_ratio"),
        T.lang_id(t).alias("lang_pred"),
    )
    return scored.filter(
        (F.col("quality") >= 0.5)
        & (F.col("stop_ratio") <= 0.6)
        & F.col("lang_pred").isin("en", "es", "de")
    )


def _quality_sql_expr() -> str:
    """DuckDB twin of functions/text.py quality_score — the single source
    for every oracle that embeds the heuristic (curation_filter, the
    per-source percentile gate)."""
    return """
    greatest(least(
        least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
        + least((CASE WHEN len({toks}) = 0 THEN 0.0
                 ELSE CAST(len(list_filter({toks}, t -> t IN ({stops}))) AS DOUBLE)
                      / CAST(len({toks}) AS DOUBLE) END) * 4.0, 1.0) * 0.5
        - least((CASE WHEN length(text) = 0 THEN 0.0
                 ELSE CAST(len(regexp_extract_all(text, '[^\\w \\t\\n\\r\\f]')) AS DOUBLE)
                      / CAST(length(text) AS DOUBLE) END) * 2.0, 1.0) * 0.25,
    1.0), 0.0)
    """.format(toks=_TOKS, stops=_STOPS)


def curation_filter_sql() -> str:
    quality = _quality_sql_expr()
    stop_ratio = (
        f"CASE WHEN len({_TOKS}) = 0 THEN 0.0 "
        f"ELSE CAST(len(list_filter({_TOKS}, t -> t IN ({_STOPS}))) AS DOUBLE)"
        f" / CAST(len({_TOKS}) AS DOUBLE) END"
    )
    return (
        f"SELECT doc_id, source, {quality} AS quality, "
        f"{stop_ratio} AS stop_ratio, {_lang_id_sql_expr()} AS lang_pred "
        f"FROM documents "
        f"WHERE {quality} >= 0.5 AND ({stop_ratio}) <= 0.6 "
        f"AND {_lang_id_sql_expr()} IN ('en', 'es', 'de')"
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: count and scrub emails / SSNs / phone numbers /
    IPv4 addresses (functions/text.py PII_PATTERNS — the common Java/RE2
    regex subset so the DuckDB oracle matches bit-for-bit). The fixtures'
    word-salad documents contain no PII — the corpus-level result proves
    the no-op path (scrub must not mangle clean text); the positive-match
    behavior is pinned by unit tests on crafted strings. Zero-shuffle
    regexp projection — scrubbing 100 TB is a scan."""
    docs = load_table(spark, "documents", sf_dir)
    # NULL-fold before scrubbing: Spark's size(regexp_extract_all(NULL)) is
    # -1 (legacy sizeOfNull) vs DuckDB's NULL — cleaning must never yield
    # NULL, same principle as strip_boilerplate/gopher_quality_profile
    t = F.coalesce(F.col("text"), F.lit(""))
    counts = {k: T.pii_count(t, k) for k in T.PII_PATTERNS}
    total = sum(counts.values())
    return docs.select(
        "doc_id",
        *[c.cast("int").alias(f"n_{k}") for k, c in counts.items()],
        (total > 0).alias("redacted"),
        F.length(T.pii_scrub(t)).cast("bigint").alias("clean_len"),
    )


def _pii_scrub_sql_expr(col: str = "text") -> str:
    """DuckDB regexp_replace chain equivalent of pii_scrub — single source
    for every oracle that embeds the scrub (pattern/order changes apply
    everywhere at once)."""
    scrub = col
    for pat, token in T.PII_PATTERNS.values():
        scrub = f"regexp_replace({scrub}, '{pat}', '{token}', 'g')"
    return scrub


def pii_scrub_sql() -> str:
    # coalesce mirrors the Spark side's NULL fold (see q_pii_scrub)
    counts = {
        k: f"len(regexp_extract_all(coalesce(text, ''), '{pat}'))"
        for k, (pat, _) in T.PII_PATTERNS.items()
    }
    scrub = _pii_scrub_sql_expr("coalesce(text, '')")
    total = " + ".join(counts.values())
    count_cols = ", ".join(
        f"CAST({expr} AS INTEGER) AS n_{k}" for k, expr in counts.items()
    )
    return (
        f"SELECT doc_id, {count_cols}, ({total}) > 0 AS redacted, "
        f"CAST(length({scrub}) AS BIGINT) AS clean_len FROM documents"
    )


def q_quality_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring at scale (functions/text.py
    hashed_linear_score): fasttext-shaped linear inference over
    hashing-trick bag-of-words, entirely JVM-side — the 100 TB plan is a
    zero-shuffle scan with the weights riding along (here a closed-form
    weight function; a trained model is a broadcast array in the same
    fold)."""
    docs = load_table(spark, "documents", sf_dir)
    t = F.coalesce(F.col("text"), F.lit(""))
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(t), T.WS_CLASS + "+")).alias("n_tokens"),
        T.hashed_linear_score(F.col("text")).alias("quality_linear"),
    )


# Deterministic multilingual augmentation for the unicode queries
# (round 14, VERDICT r13 #4 — the synthesize_media precedent: the
# driver fixtures are pure ASCII, so the non-ASCII slice is synthesized
# closed-form from doc_id and replayed verbatim by the oracle). BMP
# only (no surrogate seam); snippets 0 and 6 carry DECOMPOSED combining
# sequences so the declared-NFC chain has real work to do.
_MULTILINGUAL_SNIPPETS = [
    "café résumé naïve 42",
    "Ελληνικά "
    "κείμενο 7",
    "русский "
    "текст",
    "中文数据处理",
    "نص عربي 3",
    "München Straße für prüfung",
    "nöel über schön",
    "plain ascii only 123",
]


def q_unicode_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script/codepoint-class corpus profile with declared-NFC
    normalization (functions/text.py nfc_normalize + SCRIPT_CLASSES —
    VERDICT r13 #4): each document is augmented with a deterministic
    multilingual snippet, normalized through the declared composition
    chain, and profiled per declared codepoint class — plus an
    'nfc_composed' row counting the codepoints the normalization folded
    (length shrink) and the documents it touched. Pure codegen end to
    end: a replace() chain, one regexp_replace+length per class, ONE
    zero-shuffle aggregate pass (map-side partials), a stack() to rows.
    At 100 TB this is a single corpus scan; the profile is the
    pre-tokenizer audit a multilingual pipeline runs before trusting
    ASCII-contracted operators downstream."""
    docs = load_table(spark, "documents", sf_dir)
    arr = F.array(*[F.lit(s) for s in _MULTILINGUAL_SNIPPETS])
    n = len(_MULTILINGUAL_SNIPPETS)
    aug = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" "),
        F.element_at(arr, (F.col("doc_id") % n).cast("int") + 1),
    )
    frame = docs.select(
        T.nfc_normalize(aug).alias("_t"),
        F.length(aug).alias("_rawlen"),
    )
    aggs = []
    keys = []
    for name, cls in T.SCRIPT_CLASSES:
        c = T.script_class_count(F.col("_t"), cls)
        aggs.append(F.sum(c.cast("bigint")).alias(f"cp_{name}"))
        aggs.append(F.sum((c > 0).cast("bigint")).alias(f"dc_{name}"))
        keys.append((name, name))
    shrink = F.col("_rawlen") - F.length("_t")
    aggs.append(F.sum(shrink.cast("bigint")).alias("cp_nfc"))
    aggs.append(F.sum((shrink > 0).cast("bigint")).alias("dc_nfc"))
    keys.append(("nfc_composed", "nfc"))
    row = frame.agg(*aggs)
    stack = "stack({}, {}) as (script, n_codepoints, n_docs)".format(
        len(keys),
        ", ".join(f"'{label}', cp_{k}, dc_{k}" for label, k in keys),
    )
    return row.selectExpr(stack).orderBy("script")


def unicode_profile_sql() -> str:
    """DuckDB twin: identical snippet list, identical replace() chain in
    NFC_PAIRS order, identical literal-BMP character classes (Java regex
    and RE2 agree on literal codepoint ranges), UNION ALL of the same
    (script, n_codepoints, n_docs) rows."""
    lits = ", ".join("'" + s + "'" for s in _MULTILINGUAL_SNIPPETS)
    n = len(_MULTILINGUAL_SNIPPETS)
    norm = "a"
    for seq, comp in T.NFC_PAIRS:
        norm = f"replace({norm}, '{seq}', '{comp}')"
    parts = []
    sel = []
    for name, cls in T.SCRIPT_CLASSES:
        cnt = f"length(regexp_replace(t, '[^{cls}]', '', 'g'))"
        parts.append(f"sum({cnt}) AS cp_{name}")
        parts.append(
            f"sum(CASE WHEN {cnt} > 0 THEN 1 ELSE 0 END) AS dc_{name}"
        )
        sel.append(
            f"SELECT '{name}' AS script, CAST(cp_{name} AS BIGINT) AS "
            f"n_codepoints, CAST(dc_{name} AS BIGINT) AS n_docs FROM agg"
        )
    parts.append("sum(length(a) - length(t)) AS cp_nfc")
    parts.append(
        "sum(CASE WHEN length(a) > length(t) THEN 1 ELSE 0 END) AS dc_nfc"
    )
    sel.append(
        "SELECT 'nfc_composed' AS script, CAST(cp_nfc AS BIGINT) AS "
        "n_codepoints, CAST(dc_nfc AS BIGINT) AS n_docs FROM agg"
    )
    return f"""
WITH aug AS (
  SELECT coalesce(text, '') || ' ' ||
         [{lits}][CAST(doc_id % {n} AS INT) + 1] AS a
  FROM documents
),
norm AS (SELECT a, {norm} AS t FROM aug),
agg AS (SELECT {", ".join(parts)} FROM norm)
{" UNION ALL ".join(sel)}
ORDER BY script
"""


_W_SQL = (
    "(('0x' || substring(md5(t), 1, 8))::BIGINT % 1024) "
    "* 2654435761 % 2000 / 1000.0 - 1.0"
)

QUALITY_LINEAR_SQL = rf"""
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       round(list_reduce(list_transform(toks, t -> {_W_SQL}),
                         (x, y) -> x + y) / len(toks), 6) AS quality_linear
FROM (
    SELECT doc_id,
           string_split_regex(trim(coalesce(text, '')), '[ \t\n\r\f]+') AS toks
    FROM documents
)
"""


def q_quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality calibration (the FineWeb observation: a global
    quality threshold over-prunes some domains and under-prunes others):
    rank every document's quality score WITHIN its source and keep the top
    60%. percent_rank is made deterministic by the (quality, doc_id) total
    order — no ties, so both engines agree bit-for-bit.

    100 TB shape: one hash shuffle on source, then an external (spillable)
    per-source sort for the window — the same cost class as any
    per-group ranking. If a single source dominates the corpus, the
    drop-in alternative is a two-pass threshold: per-source
    approx_percentile (tiny agg) broadcast back as a filter, trading
    exactness at the boundary for a scan-speed second pass."""
    docs = load_table(spark, "documents", sf_dir)
    t = F.coalesce(F.col("text"), F.lit(""))
    scored = docs.select(
        "doc_id", "source", T.quality_score(t).alias("_q")
    )
    w = Window.partitionBy("source").orderBy("_q", "doc_id")
    ranked = scored.select(
        "doc_id",
        "source",
        F.round(F.col("_q"), 6).alias("quality"),
        F.round(F.percent_rank().over(w), 6).alias("pctl"),
    )
    return ranked.filter(F.col("pctl") >= 0.4)


def quality_percentile_gate_sql() -> str:
    # coalesce(text,'') folded via the documents scan so the quality expr
    # (which names `text` bare) sees the same NULL-free input as Spark
    return f"""
SELECT doc_id, source, round(q, 6) AS quality, round(pctl, 6) AS pctl
FROM (
    SELECT doc_id, source, q,
           percent_rank() OVER (PARTITION BY source ORDER BY q, doc_id)
               AS pctl
    FROM (
        SELECT doc_id, source, {_quality_sql_expr()} AS q
        FROM (SELECT doc_id, source, coalesce(text, '') AS text
              FROM documents)
    )
)
WHERE round(pctl, 6) >= 0.4
"""


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone: the full corpus-assembly pipeline in ONE dataflow —
    curation gate (quality/stopword/lang-id) -> exact content dedup
    (md5 fingerprint, min-doc_id winner) -> deterministic 80/10/10 split ->
    per-split stats. Every stage is an operator proven separately by its
    own driver query; this pins their composition. Shuffles: one per
    aggregation boundary (fingerprint window, final group) — the split and
    gate are scan-speed filters."""
    from checkatron_spark.sampling import split_assign

    docs = load_table(spark, "documents", sf_dir)
    kept_ids = q_curation_filter(spark, sf_dir).select("doc_id")
    enriched = docs.join(kept_ids, "doc_id").select(
        "doc_id", "lang", "n_chars", T.fingerprint(F.col("text")).alias("_fp")
    )
    deduped = D.dedup_keyed(enriched, ["_fp"], "doc_id")
    split = split_assign(deduped, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1},
                         salt="corpus-v1")
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


def corpus_pipeline_sql() -> str:
    from checkatron_spark.sampling import _duck_uniform

    u = _duck_uniform("doc_id", "corpus-v1")
    return f"""
WITH kept AS ({curation_filter_sql()}),
enriched AS (
    SELECT d.doc_id, d.lang, d.n_chars, {_FP} AS fp
    FROM documents d JOIN kept k ON d.doc_id = k.doc_id
),
deduped AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM enriched
    ) WHERE rn = 1
),
assigned AS (
    SELECT *, CASE WHEN {u} < 0.8 THEN 'train'
                   WHEN {u} < 0.9 THEN 'val' ELSE 'test' END AS split
    FROM deduped
)
SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       COUNT(DISTINCT lang) AS n_langs
FROM assigned GROUP BY split
"""


def _funnel_frames(spark: SparkSession, sf_dir: str):
    """The funnel's stage frames (docs, s1..s5) shared by the survival
    report and the per-doc drop-reason view — one dataflow, two readouts."""
    from checkatron_spark.corpus import gopher_quality_profile, strip_boilerplate
    from checkatron_spark.sampling import temperature_sample

    from checkatron_spark.session import scratch_persist

    docs = load_table(spark, "documents", sf_dir)
    keep_ids = gopher_quality_profile(docs).filter("keep").select("doc_id")
    s1 = docs.join(keep_ids, "doc_id").select("doc_id", "lang", "text")
    # each surviving frame feeds its own stage aggregate AND every later
    # stage — persist the two expensive-to-recompute ones, or the 6-way
    # union re-runs the whole upstream chain per stage (at 100 TB that is
    # five redundant corpus passes)
    s2 = s1.select(
        "doc_id", "lang", T.pii_scrub(F.col("text")).alias("text")
    ).transform(scratch_persist)
    stripped = strip_boilerplate(s2, k=3, min_docs=2).filter(
        F.col("clean_text") != ""
    )
    s3 = stripped.join(s2.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "lang", F.col("clean_text").alias("text")
    ).transform(scratch_persist)
    s4 = D.dedup_keyed(
        s3.withColumn("_fp", T.fingerprint(F.col("text"))), ["_fp"], "doc_id"
    ).select("doc_id", "lang", "text").transform(scratch_persist)
    s5 = temperature_sample(
        s4, "doc_id", "lang", budget_frac=0.8, salt="funnel-v1"
    ).select("doc_id", "lang", "text")
    return docs, s1, s2, s3, s4, s5


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone v2: the round-4 curation operators composed into one
    admission funnel, reported as a per-stage survival table —
    ingest -> Gopher rule gate -> PII scrub (counts redactions, drops
    nothing) -> cross-document boilerplate strip (drops fully-boilerplate
    docs) -> exact dedup on the CLEANED text -> sqrt-temperature language
    rebalance. Each stage is an operator proven by its own driver query;
    this pins their composition and the funnel shape a pipeline dashboard
    reports. Stage rows carry (n_docs, n_chars at that stage)."""
    docs, s1, s2, s3, s4, s5 = _funnel_frames(spark, sf_dir)

    def stage(df: DataFrame, idx: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum(F.length("text")), F.lit(0))
            .cast("bigint")
            .alias("n_chars"),
        )

    return (
        stage(docs.select(F.col("text")), 0, "ingest")
        .unionByName(stage(s1, 1, "gopher_gate"))
        .unionByName(stage(s2, 2, "pii_scrub"))
        .unionByName(stage(s3, 3, "boilerplate_strip"))
        .unionByName(stage(s4, 4, "exact_dedup"))
        .unionByName(stage(s5, 5, "temperature_mix"))
    )


def q_curation_drop_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document provenance through the SAME funnel dataflow: which
    stage dropped each document ('kept' for survivors). The debugging view
    behind the survival dashboard — "why did doc X disappear?" answered
    without re-running the pipeline stage by stage. Pure id-frame left
    joins against the existing stage outputs (the text payload is touched
    only where the stages already touch it); the first NULL marker in
    stage order is the reason. (pii_scrub drops nothing by construction,
    so it can never be a reason.)"""
    docs, s1, _s2, s3, s4, s5 = _funnel_frames(spark, sf_dir)

    def ids(df: DataFrame, name: str) -> DataFrame:
        return df.select("doc_id", F.lit(1).alias(name))

    j = (
        docs.select("doc_id")
        .join(ids(s1, "_in1"), "doc_id", "left")
        .join(ids(s3, "_in3"), "doc_id", "left")
        .join(ids(s4, "_in4"), "doc_id", "left")
        .join(ids(s5, "_in5"), "doc_id", "left")
    )
    return j.select(
        "doc_id",
        F.when(F.col("_in1").isNull(), F.lit("gopher_gate"))
        .when(F.col("_in3").isNull(), F.lit("boilerplate_strip"))
        .when(F.col("_in4").isNull(), F.lit("exact_dedup"))
        .when(F.col("_in5").isNull(), F.lit("temperature_mix"))
        .otherwise(F.lit("kept"))
        .alias("drop_reason"),
    )


def curation_drop_reasons_sql() -> str:
    return f"""
WITH {_funnel_stage_ctes()}
SELECT d.doc_id,
       CASE WHEN i1.doc_id IS NULL THEN 'gopher_gate'
            WHEN i3.doc_id IS NULL THEN 'boilerplate_strip'
            WHEN i4.doc_id IS NULL THEN 'exact_dedup'
            WHEN i5.doc_id IS NULL THEN 'temperature_mix'
            ELSE 'kept' END AS drop_reason
FROM documents d
LEFT JOIN (SELECT doc_id FROM s1) i1 USING (doc_id)
LEFT JOIN (SELECT doc_id FROM s3) i3 USING (doc_id)
LEFT JOIN (SELECT doc_id FROM s4) i4 USING (doc_id)
LEFT JOIN (SELECT doc_id FROM s5) i5 USING (doc_id)
"""


def _funnel_stage_ctes() -> str:
    """The s1..s5 stage-CTE chain shared by the funnel survival oracle and
    the per-doc drop-reason oracle — one source, no drift between the two
    views of the same pipeline."""
    from checkatron_spark.corpus import (
        GOPHER_QUALITY_SQL,
        strip_boilerplate_ctes,
    )
    from checkatron_spark.sampling import _duck_uniform

    # every building block reused from its owning oracle — the funnel must
    # drift together with the component operators, never apart from them
    scrub = _pii_scrub_sql_expr()
    u = _duck_uniform("doc_id", "funnel-v1")
    return rf"""gate AS (
    SELECT doc_id FROM ({GOPHER_QUALITY_SQL}) g WHERE g.keep
),
s1 AS (
    SELECT d.doc_id, d.lang, d.text FROM documents d JOIN gate USING (doc_id)
),
s2 AS (
    SELECT doc_id, lang, {scrub} AS text FROM s1
),
{strip_boilerplate_ctes("s2")},
rebuilt AS (
    SELECT c.doc_id,
           COALESCE(string_agg(c.chunk, ' ' ORDER BY c.cid)
                      FILTER (WHERE d.df < 2), '') AS clean_text
    FROM chunks c JOIN docfreq d USING (chunk)
    GROUP BY c.doc_id
),
s3 AS (
    SELECT r.doc_id, s.lang, r.clean_text AS text
    FROM rebuilt r JOIN s2 s USING (doc_id)
    WHERE r.clean_text <> ''
),
s4 AS (
    SELECT doc_id, lang, text FROM (
        SELECT *, row_number() OVER (PARTITION BY {_FP} ORDER BY doc_id) AS rn
        FROM s3
    ) WHERE rn = 1
),
counts AS (SELECT lang, COUNT(*) AS n_g FROM s4 GROUP BY lang),
mx AS (SELECT MAX(n_g) AS n_max FROM counts),
rates AS (
    SELECT lang, least(1.0, 0.8 * sqrt(CAST(n_max AS DOUBLE)
                                       / CAST(n_g AS DOUBLE))) AS rate
    FROM counts, mx
),
s5 AS (
    SELECT s.doc_id, s.lang, s.text
    FROM s4 s JOIN rates r ON s.lang IS NOT DISTINCT FROM r.lang
    WHERE {u} < r.rate
)"""


def curation_funnel_sql() -> str:
    return f"""
WITH {_funnel_stage_ctes()}
SELECT 0 AS stage_idx, 'ingest' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) AS n_chars FROM documents
UNION ALL SELECT 1, 'gopher_gate', COUNT(*), CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) FROM s1
UNION ALL SELECT 2, 'pii_scrub', COUNT(*), CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) FROM s2
UNION ALL SELECT 3, 'boilerplate_strip', COUNT(*), CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) FROM s3
UNION ALL SELECT 4, 'exact_dedup', COUNT(*), CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) FROM s4
UNION ALL SELECT 5, 'temperature_mix', COUNT(*), CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) FROM s5
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf: top-3 terms per document. The classic three-shuffle text
    pipeline — tf by (doc, token), document frequency by token, idf join
    back, per-doc top-k window.

    Determinism: scores are rounded to 6 decimals BEFORE ranking, so the
    sub-ulp differences between JVM and libm ln() can neither change a
    printed score nor flip an ordering (ties then break on the token
    string identically in both engines)."""
    docs = load_table(spark, "documents", sf_dir)
    n_docs = docs.select(F.count(F.lit(1)).alias("_N"))
    tf = (
        docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("_N").cast("double") / F.col("df").cast("double")),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "token", "tfidf", F.col("rnk").cast("int").alias("rnk"))
    )


TFIDF_TOP_TERMS_SQL = f"""
WITH tf AS (
    SELECT doc_id, token, COUNT(*) AS tf
    FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
    GROUP BY doc_id, token
),
dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT doc_id, tf.token,
           round(tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
    FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n
)
SELECT doc_id, token, tfidf, CAST(rnk AS INTEGER) AS rnk
FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, token) AS rnk
    FROM scored
)
WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def q_doc_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile aggregation (sort-based, not approximate): corpus
    length distribution per language — the profiling query every data
    pipeline runs before setting filter thresholds. Values rounded to 4
    decimals: Spark and DuckDB interpolate quantiles with the same
    definition but different FP op order (~1e-13 apart)."""
    docs = load_table(spark, "documents", sf_dir)
    p = F.expr("percentile(n_chars, array(0.5, 0.9, 0.99))")
    return (
        docs.groupBy("lang")
        .agg(p.alias("_p"), F.count(F.lit(1)).alias("n_docs"))
        .select(
            "lang",
            F.round(F.element_at("_p", 1), 4).alias("p50"),
            F.round(F.element_at("_p", 2), 4).alias("p90"),
            F.round(F.element_at("_p", 3), 4).alias("p99"),
            "n_docs",
        )
    )


DOC_LENGTH_PERCENTILES_SQL = """
SELECT lang,
       round(q[1], 4) AS p50, round(q[2], 4) AS p90, round(q[3], 4) AS p99,
       n_docs
FROM (
    SELECT lang, quantile_cont(n_chars, [0.5, 0.9, 0.99]) AS q,
           COUNT(*) AS n_docs
    FROM documents GROUP BY lang
)
"""


def q_split_sentences_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence split as PURE CODEGEN (VERDICT r6 item 2): explode each
    document into trimmed '.'-separated sentences with a per-doc index —
    ``posexplode(filter(transform(split(text, '\\.'), x -> trim(x)),
    x -> x != ''))``. This is the registered query: the whole transform
    stays inside whole-stage codegen, no Python workers touch the corpus.
    The UDTF formulation (:func:`q_split_sentences`) is kept as the Spark-4
    table-function API demo and pinned row-identical in
    tests/test_curation_ops.py; ``posexplode``'s position over the
    post-filter array IS the UDTF's enumerate-after-filter index."""
    docs = load_table(spark, "documents", sf_dir)
    kept = F.filter(
        F.transform(F.split(F.col("text"), r"\."), lambda x: F.trim(x)),
        lambda x: x != F.lit(""),
    )
    return docs.select(
        "doc_id", F.posexplode(kept).alias("sent_idx", "sentence")
    ).select(
        "doc_id",
        F.col("sent_idx").cast("int").alias("sent_idx"),
        "sentence",
    )


def q_split_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function API): explode each document into
    trimmed '.'-separated sentences with a per-doc index — the row-expanding
    text transform (chunking for training windows) as a declarative lateral
    join. Arrow-optimized UDTF; the oracle renumbers kept parts with a
    window, matching the UDTF's enumerate-after-filter exactly.

    API DEMO ONLY (VERDICT r6): the declared query resolves to the codegen
    twin :func:`q_split_sentences_expr` — this per-row Python path would
    serialize the whole corpus through Python workers at scale. Equality
    of the two forms is pinned in tests/test_curation_ops.py."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: bigint, sent_idx: int, sentence: string")
    class SplitSentences:
        def eval(self, doc_id, text):  # noqa: ANN001
            kept = [
                # strip(' ') not strip(): the codegen twin uses SQL trim()
                # (spaces only) — python's default strip eats \t/\n/unicode
                # whitespace the twin keeps (round-10 whitespace contract)
                p.strip(" ")
                for p in (text or "").split(".")
                if p.strip(" ") != ""
            ]
            for i, s in enumerate(kept):
                yield doc_id, i, s

    spark.udtf.register("split_sentences", SplitSentences)
    load_table(spark, "documents", sf_dir).createOrReplaceTempView("docs_udtf")
    return spark.sql(
        "SELECT s.doc_id, s.sent_idx, s.sentence "
        "FROM docs_udtf, LATERAL split_sentences(doc_id, text) s"
    )


SPLIT_SENTENCES_SQL = """
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1
            AS INTEGER) AS sent_idx,
       trim(part) AS sentence
FROM (
    SELECT doc_id, unnest(string_split(text, '.')) AS part,
           generate_subscripts(string_split(text, '.'), 1) AS pos
    FROM documents
)
WHERE trim(part) <> ''
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_exact(load_table(spark, "documents", sf_dir), "text", "doc_id")


DEDUP_EXACT_SQL = (
    f"SELECT {_FP} AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups "
    f"FROM documents GROUP BY 1"
)


def q_dedup_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_keyed(
        load_table(spark, "documents", sf_dir), ["source"], "doc_id"
    )


DEDUP_KEYED_SQL = (
    "SELECT doc_id, text, lang, source, n_chars FROM ("
    "SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn "
    "FROM documents) WHERE rn = 1"
)


def q_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy match over part names: pairs within the same brand
    whose names are ≤2 edits apart (operators/dedup.py
    fuzzy_pairs_blocked)."""
    return D.fuzzy_pairs_blocked(
        load_table(spark, "part", sf_dir), "p_partkey", "p_name", ["p_brand"],
        max_dist=2,
    )


FUZZY_PART_SQL = """
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       a.p_name AS text_a, b.p_name AS text_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
  AND levenshtein(a.p_name, b.p_name) <= 2
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: ~5% of documents (md5-hash draw, salt
    'bench-v1') play the eval set; report corpus docs sharing any 3-gram
    with it (operators/dedup.py decontaminate — broadcast semi-join)."""
    from checkatron_spark.sampling import hash_uniform

    docs = load_table(spark, "documents", sf_dir)
    u = hash_uniform(F.col("doc_id"), "bench-v1")
    bench = docs.filter(u < 0.05)
    corpus = docs.filter(u >= 0.05)
    return D.decontaminate(corpus, bench, "text", "doc_id")


_BENCH_U = (
    "CAST(('0x' || substring(md5('bench-v1' || ':' || "
    "CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE) / 4294967296.0"
)

DECONTAMINATE_SQL = rf"""
WITH w AS (
    SELECT doc_id, string_split_regex(trim(coalesce(text, '')), '[ \t\n\r\f]+') AS w FROM documents
),
sh AS (
    SELECT doc_id,
        CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
             ELSE list_distinct(list_transform(range(1, len(w) - 2 + 1),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        END AS sh
    FROM w
),
u AS (SELECT doc_id, {_BENCH_U} AS u FROM documents),
ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
bench AS (SELECT DISTINCT s FROM ex JOIN u USING (doc_id) WHERE u < 0.05),
corpus AS (SELECT ex.doc_id, ex.s FROM ex JOIN u USING (doc_id) WHERE u >= 0.05)
SELECT doc_id, COUNT(DISTINCT s) AS n_matched_grams
FROM corpus JOIN bench USING (s)
GROUP BY doc_id
"""


def q_decontaminate_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-benchmark decontamination (round 6, operators/dedup.py
    decontaminate_multi): the same 5% eval draw split into three labeled
    suites by the hash value (u<0.02 suite_a, <0.04 suite_b, else
    suite_c); one corpus pass reports which suite leaks into which
    document — the real shape of eval hygiene, where a dozen benchmarks
    are screened together and per-suite attribution decides what gets
    dropped vs flagged."""
    from checkatron_spark.sampling import hash_uniform

    docs = load_table(spark, "documents", sf_dir)
    u = hash_uniform(F.col("doc_id"), "bench-v1")
    bench = docs.filter(u < 0.05).select(
        F.when(u < 0.02, F.lit("suite_a"))
        .when(u < 0.04, F.lit("suite_b"))
        .otherwise(F.lit("suite_c"))
        .alias("bench"),
        "text",
        "doc_id",
    )
    corpus = docs.filter(u >= 0.05)
    return D.decontaminate_multi(corpus, bench, "text", "doc_id", "bench")


DECONTAMINATE_MULTI_SQL = rf"""
WITH w AS (
    SELECT doc_id, string_split_regex(trim(coalesce(text, '')), '[ \t\n\r\f]+') AS w FROM documents
),
sh AS (
    SELECT doc_id,
        CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
             ELSE list_distinct(list_transform(range(1, len(w) - 2 + 1),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        END AS sh
    FROM w
),
u AS (SELECT doc_id, {_BENCH_U} AS u FROM documents),
ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
bench AS (
    SELECT DISTINCT CASE WHEN u < 0.02 THEN 'suite_a'
                         WHEN u < 0.04 THEN 'suite_b'
                         ELSE 'suite_c' END AS bench, s
    FROM ex JOIN u USING (doc_id) WHERE u < 0.05
),
corpus AS (SELECT ex.doc_id, ex.s FROM ex JOIN u USING (doc_id) WHERE u >= 0.05)
SELECT doc_id, bench, COUNT(DISTINCT s) AS n_matched_grams
FROM corpus JOIN bench USING (s)
GROUP BY doc_id, bench
"""


def _bench_bloom_mask(
    spark: SparkSession, sf_dir: str, *,
    n: int = 3, m_bits: int = 65536, k: int = 3, salt: str = "bench-v1",
) -> list[int]:
    """The benchmark-side Bloom mask, built once per (benchmark identity,
    n, m_bits, k) in the model cache's memory tier, so repeated calls (the
    batch query + the streaming gate in one driver session, one mask vs
    many corpus batches) pay the benchmark shingle scan once. Benchmark
    identity is (sf_dir, fixture mtime, bench-split salt): the mtime
    invalidates the entry when a fixture is regenerated at the same path,
    and the mask parameters are part of the key so a second operating
    point is never served a mask built at different (n, m_bits, k)."""
    import os

    from checkatron_spark.sampling import hash_uniform

    try:
        mtime = os.path.getmtime(f"{sf_dir}/documents.parquet")
    except OSError:
        mtime = -1.0

    def build() -> list[int]:
        docs = load_table(spark, "documents", sf_dir)
        bench = docs.filter(hash_uniform(F.col("doc_id"), salt) < 0.05)
        return D.bloom_mask_words(bench, "text", n=n, m_bits=m_bits, k=k)

    return model_cache.remember(
        spark, ("bloom-mask", sf_dir, mtime, n, m_bits, k, salt), build
    )


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-mask decontamination over the same 5%/95% bench/corpus split
    as decontaminate_corpus (operators/dedup.py decontaminate_bloom — the
    broadcast-bitmask variant whose corpus side is a pure scan). The
    flagged set is a deterministic superset of the exact semi-join's
    matches; tests/test_dedup.py pins the no-false-negative property."""
    from checkatron_spark.sampling import hash_uniform

    docs = load_table(spark, "documents", sf_dir)
    u = hash_uniform(F.col("doc_id"), "bench-v1")
    bench = docs.filter(u < 0.05)
    corpus = docs.filter(u >= 0.05)
    # memoized mask: the benchmark-side shingle scan runs once per
    # (sf_dir) no matter how many times the query is re-built (bench
    # min-of-2, driver session also running stream_bloom_gate)
    return D.decontaminate_bloom(
        corpus, bench, "text", "doc_id",
        mask_words=_bench_bloom_mask(spark, sf_dir),
    )


def _bloom_pos_sql(gram: str, seed: int, m_bits: int = 65536) -> str:
    return (
        f"(('0x' || substring(md5({gram} || '#{seed}'), 1, 8))::BIGINT "
        f"% {m_bits})"
    )


DECONTAMINATE_BLOOM_SQL = rf"""
WITH w AS (
    SELECT doc_id, string_split_regex(trim(coalesce(text, '')), '[ \t\n\r\f]+') AS w FROM documents
),
sh AS (
    SELECT doc_id,
        CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
             ELSE list_distinct(list_transform(range(1, len(w) - 2 + 1),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        END AS sh
    FROM w
),
u AS (SELECT doc_id, {_BENCH_U} AS u FROM documents),
ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
bench AS (SELECT DISTINCT s FROM ex JOIN u USING (doc_id) WHERE u < 0.05),
bpos AS (
    SELECT DISTINCT pos FROM (
        SELECT {_bloom_pos_sql("s", 0)} AS pos FROM bench
        UNION SELECT {_bloom_pos_sql("s", 1)} FROM bench
        UNION SELECT {_bloom_pos_sql("s", 2)} FROM bench
    )
),
corpus AS (SELECT ex.doc_id, ex.s FROM ex JOIN u USING (doc_id) WHERE u >= 0.05),
cand AS (
    SELECT doc_id, s, {_bloom_pos_sql("s", 0)} AS pos FROM corpus
    UNION ALL SELECT doc_id, s, {_bloom_pos_sql("s", 1)} FROM corpus
    UNION ALL SELECT doc_id, s, {_bloom_pos_sql("s", 2)} FROM corpus
),
hits AS (
    SELECT doc_id, s, COUNT(*) AS nbits
    FROM cand JOIN bpos USING (pos)
    GROUP BY doc_id, s
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged_grams
FROM hits WHERE nbits = 3
GROUP BY doc_id
"""


def q_neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.neardup_ngram_jaccard(
        load_table(spark, "documents", sf_dir), "text", "doc_id",
        n=3, threshold=0.8,
    )


def neardup_jaccard_sql(threshold: float = 0.8) -> str:
    return r"""
WITH w AS (
    SELECT doc_id, string_split_regex(trim(coalesce(text, '')), '[ \t\n\r\f]+') AS w FROM documents
),
docs AS (
    SELECT doc_id,
        CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
             ELSE list_distinct(list_transform(range(1, len(w) - 2 + 1),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        END AS sh
    FROM w
),
ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(sh) AS n FROM docs)
SELECT id_a, id_b,
       CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
WHERE CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) >= {t}
""".replace("{t}", repr(threshold))


NEARDUP_JACCARD_SQL = neardup_jaccard_sql(0.8)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admission-gate exact dedup of a new ingest batch (doc_id % 17 == 2,
    the corpus-snapshot split convention) against the already-ingested
    base: every new doc labeled new / dup_of_base / dup_in_batch."""
    docs = load_table(spark, "documents", sf_dir)
    new = docs.filter(F.col("doc_id") % 17 == 2)
    base = docs.filter(F.col("doc_id") % 17 != 2)
    return D.dedup_incremental(new, base, "text", "doc_id")


DEDUP_INCREMENTAL_SQL = f"""
WITH new_fp AS (
    SELECT doc_id, {_FP} AS fp FROM documents WHERE doc_id % 17 = 2
),
base_fp AS (
    SELECT DISTINCT {_FP} AS fp FROM documents WHERE doc_id % 17 <> 2
),
j AS (
    SELECT n.doc_id, n.fp, (b.fp IS NOT NULL) AS in_base,
           row_number() OVER (PARTITION BY n.fp ORDER BY n.doc_id) AS rn
    FROM new_fp n LEFT JOIN base_fp b USING (fp)
)
SELECT doc_id, fp,
       CASE WHEN in_base THEN 'dup_of_base'
            WHEN rn > 1 THEN 'dup_in_batch'
            ELSE 'new' END AS status
FROM j
"""


def q_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup admission gate: exact bipartite n-gram Jaccard pairs
    between the new ingest batch and the base corpus (prefix-filtered —
    work scales with the batch, never all-pairs over the base)."""
    docs = load_table(spark, "documents", sf_dir)
    new = docs.filter(F.col("doc_id") % 17 == 2)
    base = docs.filter(F.col("doc_id") % 17 != 2)
    return D.neardup_incremental(
        new, base, "text", "doc_id", n=3, threshold=0.8
    )


NEARDUP_INCREMENTAL_SQL = r"""
WITH w AS (
    SELECT doc_id, string_split_regex(trim(coalesce(text, '')), '[ \t\n\r\f]+') AS w FROM documents
),
docs AS (
    SELECT doc_id,
        CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
             ELSE list_distinct(list_transform(range(1, len(w) - 2 + 1),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        END AS sh
    FROM w
),
ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
inter AS (
    SELECT a.doc_id AS new_id, b.doc_id AS base_id, COUNT(*) AS i
    FROM ex a JOIN ex b ON a.s = b.s
    WHERE a.doc_id % 17 = 2 AND b.doc_id % 17 <> 2
    GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(sh) AS n FROM docs)
SELECT new_id, base_id,
       CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = new_id
JOIN sizes nb ON nb.doc_id = base_id
WHERE CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) >= 0.8
"""

# the MinHash-LSH declared query (threshold 0.7, 8 OR-amplified tables) has
# measured recall 1.0 on the fixtures, so its pair set is graded against the
# exact prefix-filtered Jaccard twin at the same threshold
MINHASH_ORACLE_SQL = (
    f"SELECT id_a, id_b FROM ({neardup_jaccard_sql(0.7)}) t"
)


def q_neardup_minhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-rolled banded MinHash (operators/dedup.py
    neardup_minhash_banded): no Vector machinery, one fused
    shingle+signature Arrow pass, plain-column band join. Candidates are
    verified with EXACT jaccard, so the oracle checks VALUES too — a
    stronger grade than the MLlib twin's id-only check.

    Round 7: AND-amplified bands (16 hashes, 8 bands of 2 — OR-only
    banding had quadratic background candidates at scale). Recall at
    t=0.7 is 1-(1-0.49)^8 = 0.995 per borderline pair and the seed is
    fixed, so the graded pair set is deterministic — verified identical
    to the exact-jaccard oracle at the graded scales."""
    return D.neardup_minhash_banded(
        load_table(spark, "documents", sf_dir), "text", "doc_id",
        threshold=0.7, num_hashes=16, band_r=2,
    )


MINHASH_BANDED_SQL = neardup_jaccard_sql(0.7)


def q_neardup_method_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic-vs-exact dedup audit: full-outer join the SimHash
    (hamming <= 3) pair set against the exact Jaccard (>= 0.8) ground
    truth and count agreements, false positives, and false negatives —
    the sample-scale measurement a pipeline runs BEFORE trusting the
    cheap signal corpus-wide (SimHash-only dedup is safe exactly when
    n_exact_only stays ~0 and n_simhash_only is an acceptable over-removal
    rate). Both pair generators are engine-portable, so even the
    disagreement counts are oracle-graded, not just sanity-checked. One
    audit row out; cost = the two pair joins it audits."""
    docs = load_table(spark, "documents", sf_dir)
    exact = (
        D.neardup_ngram_jaccard(docs, "text", "doc_id", n=3, threshold=0.8)
        .select("id_a", "id_b", F.lit(1).alias("_e"))
    )
    sim = (
        D.neardup_simhash(docs, "text", "doc_id", max_hamming=3)
        .select("id_a", "id_b", F.lit(1).alias("_s"))
    )
    both = exact.join(sim, ["id_a", "id_b"], "full_outer")
    return both.agg(
        F.count("_e").cast("bigint").alias("n_exact"),
        F.count("_s").cast("bigint").alias("n_simhash"),
        F.count_if(F.col("_e").isNotNull() & F.col("_s").isNotNull())
        .cast("bigint")
        .alias("n_both"),
        F.count_if(F.col("_e").isNotNull() & F.col("_s").isNull())
        .cast("bigint")
        .alias("n_exact_only"),
        F.count_if(F.col("_e").isNull() & F.col("_s").isNotNull())
        .cast("bigint")
        .alias("n_simhash_only"),
    )


def _method_audit_sql() -> str:
    return f"""
WITH e AS (SELECT id_a, id_b FROM ({NEARDUP_JACCARD_SQL}) t),
s AS (SELECT id_a, id_b FROM ({SIMHASH_ORACLE_SQL}) t),
j AS (
    SELECT e.id_a IS NOT NULL AS in_e, s.id_a IS NOT NULL AS in_s
    FROM e FULL OUTER JOIN s ON e.id_a = s.id_a AND e.id_b = s.id_b
)
SELECT CAST(COUNT(*) FILTER (WHERE in_e) AS BIGINT) AS n_exact,
       CAST(COUNT(*) FILTER (WHERE in_s) AS BIGINT) AS n_simhash,
       CAST(COUNT(*) FILTER (WHERE in_e AND in_s) AS BIGINT) AS n_both,
       CAST(COUNT(*) FILTER (WHERE in_e AND NOT in_s) AS BIGINT)
           AS n_exact_only,
       CAST(COUNT(*) FILTER (WHERE NOT in_e AND in_s) AS BIGINT)
           AS n_simhash_only
FROM j
"""


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: connected components over the exact near-dup pair
    graph — every doc labeled with the smallest doc_id reachable through
    jaccard >= 0.8 pairs (itself when unique). Iterative label
    propagation on Spark; DuckDB's recursive CTE is the oracle."""
    docs = load_table(spark, "documents", sf_dir)
    pairs = D.neardup_ngram_jaccard(docs, "text", "doc_id", n=3, threshold=0.8)
    return D.connected_components(
        docs.select("doc_id"), pairs, id_col="doc_id"
    )


NEARDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE
pairs AS (SELECT id_a, id_b FROM ({NEARDUP_JACCARD_SQL}) t),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
    SELECT doc_id AS node, doc_id AS r FROM documents
    UNION
    SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
)
SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
"""


def q_dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-effect audit: the cluster-size histogram of the near-dup
    component graph — how many singletons (untouched docs), how many
    2-clusters, how big the largest template family is. The one-page
    number a pipeline publishes with every dedup pass ("dedup removed
    n_docs - n_clusters documents"). Costs one extra tiny aggregation on
    top of the clustering (cluster ids, then sizes — both map-side
    combining); the histogram itself is at most |distinct sizes| rows."""
    docs = load_table(spark, "documents", sf_dir)
    pairs = D.neardup_ngram_jaccard(docs, "text", "doc_id", n=3, threshold=0.8)
    labels = D.connected_components(
        docs.select("doc_id"), pairs, id_col="doc_id"
    )
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    ).select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters"))
        .cast("bigint")
        .alias("n_docs"),
    )


DEDUP_CLUSTER_HIST_SQL = f"""
WITH RECURSIVE
pairs AS (SELECT id_a, id_b FROM ({NEARDUP_JACCARD_SQL}) t),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
    SELECT doc_id AS node, doc_id AS r FROM documents
    UNION
    SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
),
lab AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
"""


def q_neardup_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GRAPH-SHAPE audit (round 7): the per-document degree
    histogram of the exact-jaccard pair graph — degree 0 (untouched
    docs), degree 1 (pair-shaped duplication, the realistic common case),
    high degrees (clique-shaped template families). This is the
    measurement that separates "10% of docs have one near-twin" from
    "every doc sits in a 10-member clique": identical dup RATES with
    wildly different pair counts (k-cliques cost O(k^2) pair work), so
    it's the first thing to publish when a scale probe flags a
    pair-family operator — the degree histogram says whether pair volume
    is the corpus's fault or the operator's. Cost on top of the pair set:
    one groupBy on doc_id + one left join back to documents + a tiny
    histogram aggregation — all map-side combining, no new corpus scan
    (the pair generator dominates)."""
    docs = load_table(spark, "documents", sf_dir)
    pairs = D.neardup_ngram_jaccard(docs, "text", "doc_id", n=3, threshold=0.8)
    ends = pairs.select(F.col("id_a").alias("doc_id")).unionAll(
        pairs.select(F.col("id_b").alias("doc_id"))
    )
    deg = ends.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_deg"))
    return (
        docs.select("doc_id")
        .join(deg, "doc_id", "left")
        .select(
            F.coalesce(F.col("_deg"), F.lit(0)).cast("bigint").alias("degree")
        )
        .groupBy("degree")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


NEARDUP_DEGREE_HIST_SQL = f"""
WITH pairs AS (SELECT id_a, id_b FROM ({NEARDUP_JACCARD_SQL}) t),
ends AS (
    SELECT id_a AS doc_id FROM pairs
    UNION ALL
    SELECT id_b AS doc_id FROM pairs
),
deg AS (SELECT doc_id, COUNT(*) AS d FROM ends GROUP BY doc_id)
SELECT CAST(coalesce(deg.d, 0) AS BIGINT) AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents docs LEFT JOIN deg ON docs.doc_id = deg.doc_id
GROUP BY 1
"""


def q_neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GRAPH CLUSTERING-COEFFICIENT audit: exact edge / wedge /
    triangle counts and the global clustering coefficient 3·tri/wedges of
    the jaccard pair graph. Together with the degree histogram this
    separates clique-shaped duplication (template families: coefficient
    → 1) from chain/star-shaped duplication (scraper trails: → 0) — the
    graph-shape number that predicts pair-stage cost at 100 TB, since a
    k-clique costs O(k²) pairs. Triangle counting is the ordered-edge
    join-intersect (edges carry id_a < id_b, so each triangle is counted
    exactly once as a<b<c); wedges are Σ C(deg,2) from the degree table.
    Work ∝ Σ deg² over the PAIR SET — corpus text is never touched."""
    docs = load_table(spark, "documents", sf_dir)
    pairs = D.neardup_ngram_jaccard(docs, "text", "doc_id", n=3, threshold=0.8)
    from checkatron_spark.session import scratch_persist

    e = scratch_persist(
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    )
    wedges_node = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("_deg"))
        .agg(
            F.sum(
                (F.col("_deg") * (F.col("_deg") - 1) / F.lit(2)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("n_wedges")
        )
    )
    x = e.select(F.col("a").alias("t_a"), F.col("b").alias("t_b"))
    y = e.select(F.col("a").alias("t_b"), F.col("b").alias("t_c"))
    z = e.select(F.col("a").alias("t_a"), F.col("b").alias("t_c"))
    tri = (
        x.join(y, "t_b")
        .join(z, ["t_a", "t_c"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    n_edges = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    out = (
        n_edges.crossJoin(F.broadcast(wedges_node))
        .crossJoin(F.broadcast(tri))
    )
    return out.select(
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(F.col("n_wedges") > 0,
               (F.lit(3) * F.col("n_triangles")).cast("double")
               / F.col("n_wedges").cast("double"))
        .otherwise(F.lit(0.0))
        .alias("clustering_coeff"),
    )


NEARDUP_TRIANGLES_SQL = f"""
WITH e AS (SELECT id_a AS a, id_b AS b FROM ({NEARDUP_JACCARD_SQL}) t),
deg AS (
    SELECT v, COUNT(*) AS d FROM (
        SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
    ) GROUP BY v
),
w AS (SELECT CAST(SUM(CAST(d * (d - 1) / 2 AS BIGINT)) AS BIGINT)
          AS n_wedges FROM deg),
tri AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM e x JOIN e y ON x.b = y.a JOIN e z ON z.a = x.a AND z.b = y.b
),
ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
SELECT ne.n_edges, w.n_wedges, tri.n_triangles,
       CASE WHEN w.n_wedges > 0
            THEN CAST(3 * tri.n_triangles AS DOUBLE)
                 / CAST(w.n_wedges AS DOUBLE)
            ELSE 0.0 END AS clustering_coeff
FROM ne CROSS JOIN w CROSS JOIN tri
"""


def q_source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-mix entropy — the corpus-composition number a
    mixing plan reads ("is src7 monolingual or balanced?"). Float
    discipline: a grouped SUM of -p·ln(p) terms is shuffle-order-dependent
    (doubles don't associate), so the terms are folded over a
    LANG-SORTED ARRAY — a sequential left fold with a pinned order in
    both engines (Spark `aggregate` with 0.0 init vs DuckDB `list_reduce`;
    0.0+t1 is bit-exact t1) — then rounded once. Entropy of a
    single-language source is computed as 0.0 - 0.0 (never -0.0). Counts
    per (source, lang) are one map-side-combined pass; the fold runs on
    |langs|-sized arrays, one per source.

    NULL-lang rows form their own group and sort FIRST on both sides:
    Spark's struct sort_array puts a NULL leading field first, and the
    oracle pins the matching `ORDER BY lang NULLS FIRST` explicitly
    (DuckDB's bare ORDER BY defaults to NULLS LAST — the documented
    defaults gotcha; without the pin a NULL lang would silently diverge
    the fold order and break the bit-exact match, ADVICE r8)."""
    docs = load_table(spark, "documents", sf_dir)
    c = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    agg = c.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
        F.sort_array(F.collect_list(F.struct("lang", "c"))).alias("_cs"),
    )

    def term(x):
        p = x["c"].cast("double") / F.col("n_docs").cast("double")
        return p * F.log(p)

    ent = F.aggregate("_cs", F.lit(0.0), lambda acc, x: acc + term(x))
    return agg.select(
        "source",
        "n_docs",
        "n_langs",
        F.round(F.lit(0.0) - ent, 6).alias("lang_entropy"),
    )


SOURCE_LANG_ENTROPY_SQL = """
WITH c AS (
    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
    FROM documents GROUP BY 1, 2
),
g AS (
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           list(c ORDER BY lang NULLS FIRST) AS cs
    FROM c GROUP BY source
)
SELECT source, n_docs, n_langs,
       round(0.0 - list_reduce(
           list_prepend(0.0, list_transform(cs, x ->
               (CAST(x AS DOUBLE) / CAST(n_docs AS DOUBLE))
               * ln(CAST(x AS DOUBLE) / CAST(n_docs AS DOUBLE)))),
           (a, b) -> a + b), 6) AS lang_entropy
FROM g
"""


def q_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication report: which pairs of sources share
    near-duplicate documents, and how often — the corpus-composition audit
    that catches one feed re-hosting another's content (the CC-vs-Wikipedia
    overlap question). Pair generation is the prefix-filtered jaccard join;
    attaching sources is two id-keyed joins against a two-column projection
    of the corpus (never the text payload); the ordered-pair fold
    (least/greatest) halves the key space so A-B and B-A accumulate
    together. Output is |sources|² rows at most."""
    docs = load_table(spark, "documents", sf_dir)
    pairs = D.neardup_ngram_jaccard(docs, "text", "doc_id", n=3, threshold=0.8)
    # both source lookups are ALIASED projections referenced through the
    # alias: the first join previously resolved `pairs.id_a == src.doc_id`
    # only via the preserved exprId of a different lineage — a brittle
    # self-join pattern ambiguous-self-join detection could break
    src = docs.select("doc_id", "source")
    a = src.withColumnRenamed("source", "_sa").alias("a")
    b = src.withColumnRenamed("source", "_sb").alias("b")
    joined = (
        pairs.join(a, F.col("id_a") == F.col("a.doc_id"))
        .drop("doc_id")
        .join(b, F.col("id_b") == F.col("b.doc_id"))
    )
    return (
        joined.select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


CROSS_SOURCE_OVERLAP_SQL = f"""
WITH pairs AS (SELECT id_a, id_b FROM ({NEARDUP_JACCARD_SQL}) t),
src AS (SELECT doc_id, source FROM documents)
SELECT least(a.source, b.source) AS source_a,
       greatest(a.source, b.source) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs p JOIN src a ON p.id_a = a.doc_id
             JOIN src b ON p.id_b = b.doc_id
GROUP BY 1, 2
"""


def q_dedup_corpus_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup removal (operators/dedup.py dedup_corpus): pair
    graph -> connected components -> keep the min-id member per cluster ->
    surviving corpus rows with all columns. The deliverable a training
    pipeline consumes — everything upstream of the final semi-join moves
    shingle/label tuples only, never the text payload."""
    return D.dedup_corpus(
        load_table(spark, "documents", sf_dir), "text", "doc_id",
        n=3, threshold=0.8,
    )


DEDUP_CORPUS_E2E_SQL = f"""
WITH RECURSIVE
pairs AS (SELECT id_a, id_b FROM ({NEARDUP_JACCARD_SQL}) t),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
    SELECT doc_id AS node, doc_id AS r FROM documents
    UNION
    SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
),
lab AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node)
SELECT d.* FROM documents d
JOIN lab ON d.doc_id = lab.node
WHERE lab.node = lab.cluster_id
"""


# takedown request set shared by the two right-to-be-forgotten queries:
# two source-level requests (a whole feed retracts) plus an explicit
# per-document list (individual takedown notices)
_TAKEDOWN_PRED_SQL = (
    "(source IN ('src7', 'src13') OR doc_id % 101 = 3)"
)


def _takedown_pred():
    return F.col("source").isin("src7", "src13") | (
        F.col("doc_id") % 101 == 3
    )


def q_takedown_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation audit: a takedown request set
    (two whole sources + an explicit doc list) is removed from the
    documents table and PROPAGATED to the embeddings table through the
    vec_id = doc_id linkage — the multi-table cascade every training-data
    pipeline must run on legal notice, with the per-table audit row
    (rows_before / rows_removed / rows_after) it must file afterwards.

    Plan: the documents pass is a zero-join codegen aggregate (the
    predicate rides the scan); the embeddings pass joins the removed-id
    projection (id + flag only, never text). The build side is NOT
    force-broadcast (ADVICE r8): this request set includes two whole
    sources — a fixed fraction of the corpus, not churn-sized — so a
    forced broadcast could exceed executor memory at real scale. AQE
    broadcasts it when its runtime size allows and falls back to a
    shuffle join otherwise; either way nothing funnels."""
    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    td = _takedown_pred()

    doc_audit = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_before"),
        F.sum(F.when(td, 1).otherwise(0)).cast("bigint").alias(
            "rows_removed"
        ),
    ).select(F.lit("documents").alias("table_name"), "*")

    removed_ids = docs.filter(td).select(
        F.col("doc_id").alias("vec_id"), F.lit(1).alias("_hit")
    )
    emb_audit = (
        emb.select("vec_id")
        .join(removed_ids, "vec_id", "left")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("rows_before"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("bigint")
            .alias("rows_removed"),
        )
        .select(F.lit("embeddings").alias("table_name"), "*")
    )
    return doc_audit.unionByName(emb_audit).select(
        "table_name",
        "rows_before",
        "rows_removed",
        (F.col("rows_before") - F.col("rows_removed"))
        .cast("bigint")
        .alias("rows_after"),
    )


TAKEDOWN_PROPAGATION_SQL = f"""
WITH removed AS (
    SELECT doc_id FROM documents WHERE {_TAKEDOWN_PRED_SQL}
)
SELECT 'documents' AS table_name,
       CAST(COUNT(*) AS BIGINT) AS rows_before,
       CAST(SUM(CASE WHEN {_TAKEDOWN_PRED_SQL} THEN 1 ELSE 0 END) AS BIGINT)
           AS rows_removed,
       CAST(COUNT(*) - SUM(CASE WHEN {_TAKEDOWN_PRED_SQL} THEN 1 ELSE 0 END)
            AS BIGINT) AS rows_after
FROM documents
UNION ALL
SELECT 'embeddings' AS table_name,
       CAST(COUNT(*) AS BIGINT) AS rows_before,
       CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS rows_removed,
       CAST(COUNT(*) - SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS rows_after
FROM embeddings e LEFT JOIN removed r ON e.vec_id = r.doc_id
"""


def q_dedup_reelect_after_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative re-election after takedown: when a takedown removes
    the KEPT representative of a near-dup cluster, the next-smallest
    surviving member must be promoted — WITHOUT re-running the pair job
    (the expensive near-dup graph does not change because a member was
    deleted; re-electing from the existing cluster labels is the
    operational move at 100 TB). Cluster labels come from the full-corpus
    component graph (taken-down docs still act as bridges — two survivors
    transitively linked through a removed copy stay one cluster, so the
    keep-list stays at most one per template family); the keep rule is
    min surviving doc_id per cluster; clusters with every member removed
    emit nothing. Output: the surviving corpus rows that remain (or
    become) representatives."""
    docs = load_table(spark, "documents", sf_dir)
    pairs = D.neardup_ngram_jaccard(docs, "text", "doc_id", n=3, threshold=0.8)
    labels = D.connected_components(
        docs.select("doc_id"), pairs, id_col="doc_id"
    )
    survivors = docs.filter(~_takedown_pred())
    keep = D.reelect_representatives(labels, survivors.select("doc_id"))
    return survivors.join(keep, "doc_id", "left_semi")


DEDUP_REELECT_SQL = f"""
WITH RECURSIVE
pairs AS (SELECT id_a, id_b FROM ({NEARDUP_JACCARD_SQL}) t),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
    SELECT doc_id AS node, doc_id AS r FROM documents
    UNION
    SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
),
lab AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
surv AS (SELECT * FROM documents WHERE NOT {_TAKEDOWN_PRED_SQL}),
keep AS (
    SELECT lab.cluster_id, MIN(lab.node) AS doc_id
    FROM lab JOIN surv ON lab.node = surv.doc_id
    GROUP BY lab.cluster_id
)
SELECT s.* FROM surv s JOIN keep k ON s.doc_id = k.doc_id
"""


def q_dedup_corpus_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged near-dup removal (operators/dedup.py dedup_corpus_staged,
    round 6): canonical-key (source, fp) collapse FIRST (round 11,
    VERDICT r10 #8 — the CCNet/RefinedWeb stage 0), then the
    exact-duplicate collapse by content hash, then the pair-graph
    pipeline over representatives only — the staging that removes the
    quadratic exact-dup-clique term from the pair stage (the blowup the
    sf1 probe measured). Output is provably identical to
    dedup_corpus_e2e, so all THREE stages grade against the SAME
    recursive-CTE oracle — a cross-implementation equality check, not
    just row counts."""
    return D.dedup_corpus_staged(
        load_table(spark, "documents", sf_dir), "text", "doc_id",
        n=3, threshold=0.8, canonical_cols=("source",),
    )


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-key exact dedup (operators/dedup.py dedup_canonical,
    round 11): keep one doc per (source, content-fp) identity — the
    standard FIRST stage of web-corpus dedup (recrawl collapse), ahead
    of exact and near-dup text stages. One (key, fp, id) shuffle +
    semi join; text never shuffles."""
    return D.dedup_canonical(
        load_table(spark, "documents", sf_dir), "text", "doc_id"
    )


DEDUP_CANONICAL_SQL = """
WITH keep AS (
    SELECT MIN(doc_id) AS doc_id
    FROM (
        SELECT doc_id, source, md5(coalesce(text, '')) AS fp FROM documents
    )
    GROUP BY source, fp
)
SELECT d.* FROM documents d JOIN keep USING (doc_id)
"""


def q_substring_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing exact-substring near-dup (operators/dedup.py
    substring_dup_pairs): docs sharing a verbatim character run of
    >= k + w - 1 = 49 chars are guaranteed a shared fingerprint; each
    shared fingerprint is a witnessed shared 40-char substring. The
    long-verbatim-overlap signal word-level jaccard dilutes away."""
    return D.substring_dup_pairs(
        load_table(spark, "documents", sf_dir), "text", "doc_id", k=40, w=10
    )


SUBSTRING_DUP_SQL = """
WITH t AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
pos AS (
    SELECT doc_id, text, unnest(range(1, length(text) - 40 + 2)) AS pos
    FROM t WHERE length(text) >= 40
),
grams AS (
    SELECT doc_id, pos,
           ('0x' || substring(md5(substring(text, pos, 40)), 1, 15))::BIGINT AS h
    FROM pos
),
win AS (
    SELECT doc_id, pos,
           MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS fp,
           COUNT(*) OVER (PARTITION BY doc_id) AS ng
    FROM grams
),
fps AS (
    SELECT DISTINCT doc_id, fp FROM win
    WHERE pos <= greatest(ng - 10 + 1, 1)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_fps
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


def q_dedup_corpus_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-list dedup driven by the winnowing pair generator: documents
    sharing long verbatim runs collapse to one representative (the
    pairs= seam of operators/dedup.py dedup_corpus — same clustering and
    semi-join, different similarity signal)."""
    docs = load_table(spark, "documents", sf_dir)
    pairs = D.substring_dup_pairs(docs, "text", "doc_id", k=40, w=10)
    return D.dedup_corpus(docs, "text", "doc_id", pairs=pairs)


DEDUP_CORPUS_SUBSTRING_SQL = f"""
WITH RECURSIVE
pairs AS (SELECT id_a, id_b FROM ({SUBSTRING_DUP_SQL}) t),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
    SELECT doc_id AS node, doc_id AS r FROM documents
    UNION
    SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
),
lab AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node)
SELECT d.* FROM documents d
JOIN lab ON d.doc_id = lab.node
WHERE lab.node = lab.cluster_id
"""


def q_split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe 80/10/10 split (operators/dedup.py split_by_cluster):
    the hash draw is keyed on the near-dup CLUSTER id, so twins always
    land in the same split — the eval-contamination guard naive per-doc
    splitting lacks."""
    return D.split_by_cluster(
        load_table(spark, "documents", sf_dir), "text", "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
    ).select("doc_id", "cluster_id", "split")


_CLUSTER_U = (
    "CAST(('0x' || substring(md5('split-cluster-v1' || ':' || "
    "CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE) / 4294967296.0"
)

SPLIT_BY_CLUSTER_SQL = f"""
WITH RECURSIVE
pairs AS (SELECT id_a, id_b FROM ({NEARDUP_JACCARD_SQL}) t),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
    SELECT doc_id AS node, doc_id AS r FROM documents
    UNION
    SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
),
lab AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node)
SELECT doc_id, cluster_id,
       CASE WHEN {_CLUSTER_U} < 0.8 THEN 'train'
            WHEN {_CLUSTER_U} < 0.9 THEN 'val'
            ELSE 'test' END AS split
FROM lab
"""


def q_neardup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup pair set at t=0.7, served by the SCALE path
    (operators/dedup.py neardup_minhash_banded — round 9, VERDICT r8 #1):
    hand-rolled signatures in the same Arrow pass as the shingles,
    AND-amplified (band, r-slice) equi self-join (16 hashes, 8 bands of
    2), exact-Jaccard verification of every candidate. The MLlib
    ``MinHashLSH`` twin (dedup.py neardup_minhash_lsh) computes the SAME
    pair set but pays the Vector machinery + model fit on every call —
    22.1 s vs 2.2 s at sf1 in the r8 probe — so it is an API-parity
    surface pinned row-identical in pytest (tests/test_lsh.py), not a
    declared query.

    This query runs a SECOND operating point — 32 hashes / 16 AND-bands
    of 2 vs q_neardup_minhash_banded's 16/8 — so the two declared queries
    pin the banded path across signature budgets instead of grading one
    byte-identical job twice (review r9). Recall at t=0.7 is
    1-(1-0.49)^16 = 0.99998 per borderline pair with a fixed seed, and
    candidates are verified with EXACT Jaccard, so the graded pair set is
    deterministic and equals the exact prefix-filtered Jaccard oracle at
    the graded scales (verified sf0.01 + sf0.1)."""
    return D.neardup_minhash_banded(
        load_table(spark, "documents", sf_dir), "text", "doc_id",
        threshold=0.7, num_hashes=32, band_r=2,
    ).select("id_a", "id_b")


def q_neardup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup. The md5-prefix hash family is engine-
    portable, so the banded candidate join + exact-popcount verify is graded
    against a full SQL twin that recomputes every fingerprint in DuckDB."""
    return D.neardup_simhash(
        load_table(spark, "documents", sf_dir), "text", "doc_id",
        max_hamming=3,
    )


# exact twin of q_neardup_simhash: same 60-bit md5-prefix SimHash per doc
# (tokens -> per-bit +/-1 votes -> sign bits), then all-pairs popcount —
# DuckDB's n^2 over 500 fixture docs is fine; Spark's banded join is the
# scale path being graded
SIMHASH_ORACLE_SQL = r"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_distinct(string_split_regex(trim(text), '[ \t\n\r\f]+'))) AS w
    FROM documents
),
th AS (
    SELECT doc_id, ('0x' || substring(md5(w), 1, 15))::BIGINT AS h FROM toks
),
bits AS (
    SELECT doc_id, j,
           SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
    FROM th, generate_series(0, 59) AS r(j)
    GROUP BY doc_id, j
),
fp AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j)
                         ELSE 0 END) AS BIGINT) AS f
    FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.f, b.f)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.f, b.f)) <= 3
"""

# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return S.ann_bruteforce_topk(emb, queries, k=3)


def q_ann_label_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search (operators/similarity.py ann_blocked_topk):
    top-3 cosine neighbors per query AMONG CANDIDATES SHARING THE QUERY'S
    LABEL — attribute-constrained retrieval on a label-equality hash join
    instead of the broadcast probe-all, so per-query work is |block|, not
    |corpus|."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return S.ann_blocked_topk(emb, queries, block_col="label", k=3)


_DOT = (
    "list_reduce(list_transform(range(1, len({a}) + 1), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (x, y) -> x + y)"
)


def _cos_sql(a: str, b: str) -> str:
    dot = _DOT.format(a=a, b=b)
    na = "sqrt(" + _DOT.format(a=a, b=a) + ")"
    nb = "sqrt(" + _DOT.format(a=b, b=b) + ")"
    return f"{dot} / ({na} * {nb})"


# ADVICE r9: the Spark cosine operators DROP zero-norm/NULL embeddings
# (cosine undefined; similarity.py filters l2_norm > 0). The oracle CTEs
# must encode the same contract so a future degenerate fixture row
# diverges on NEITHER engine instead of breaking the bit-exact sweep
# confusingly (DuckDB would otherwise emit the row with NULL/inf cosine).
# Element-level NULLs must ALSO drop (round 10 self-review): Spark's
# l2_norm is a sequential fold, so one NULL element poisons the whole
# norm (NULL > 0 -> row dropped); DuckDB's list_sum SKIPS NULL elements
# and would keep the row — and even let it seed a k-means centroid.
# The len(filter) clause encodes Spark's stricter semantics.
_EMB_OK = (
    "embedding IS NOT NULL"
    " AND len(list_filter(embedding, v -> v IS NULL)) = 0"
    " AND sqrt(list_sum(list_transform("
    "embedding, v -> v::DOUBLE * v::DOUBLE))) > 0"
)


ANN_BRUTEFORCE_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id % 50 = 0 AND {_EMB_OK}),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
      WHERE {_EMB_OK}),
scored AS (
    SELECT query_id, neighbor_id, {_cos_sql('qv', 'cv')} AS cos
    FROM q JOIN c ON query_id <> neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       round(cos, 6) AS cosine_sim
FROM ranked WHERE rank <= 3
"""


ANN_LABEL_FILTERED_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, label, embedding AS qv FROM embeddings
           WHERE vec_id % 50 = 0 AND {_EMB_OK}),
c AS (SELECT vec_id AS neighbor_id, label, embedding AS cv FROM embeddings
      WHERE {_EMB_OK}),
scored AS (
    SELECT query_id, neighbor_id, {_cos_sql('qv', 'cv')} AS cos
    FROM q JOIN c ON q.label = c.label AND query_id <> neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       round(cos, 6) AS cosine_sim
FROM ranked WHERE rank <= 3
"""


def embedding_audit(emb: DataFrame, *, dim: int = 64) -> DataFrame:
    """Embedding-table contract audit in ONE aggregate scan — the vector
    twin of the expectations suite (whose scalar kinds can't see inside
    arrays): null vectors, NULL components, wrong dimensionality, zero
    vectors, non-finite components, out-of-range magnitudes, and exact
    quantized-norm extremes/total (1e3-grid squared norm — a shifted
    distribution shows up as a moved sum without any float
    nondeterminism). A degenerate embedding batch (an encoder emitting
    zeros, NaNs, or exploded magnitudes) is caught here BEFORE ANN
    indexing, clustering, or dedup consume it.

    Overflow budget: the |v| <= 10 range gate bounds each quantized
    component at 1e4, each squared norm at 64e8, and the corpus sum stays
    inside int64 up to ~10^9 max-norm vectors — the audit's arithmetic
    cannot itself overflow on the data it admits (out-of-range components
    are COUNTED, never squared)."""
    v = F.col("embedding")
    qnorm = F.expr(
        "aggregate(transform(embedding, v -> "
        "CAST(floor(CAST(v AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)), "
        "0L, (acc, q) -> acc + q * q)"
    )
    # NULL components are checked FIRST and get their own counter: a NULL
    # inside the array turns exists()/aggregate() three-valued (Spark) but
    # NOT DuckDB's list_filter len — gating everything downstream on
    # has_null is what keeps the two engines (and the ok population)
    # deterministic, and an encoder emitting NULL components is exactly
    # the degeneracy this audit exists to flag
    has_null = F.expr("exists(embedding, v -> v IS NULL)")
    nonfinite = F.expr(
        "exists(embedding, v -> isnan(v) "
        "OR abs(CAST(v AS DOUBLE)) = CAST('Infinity' AS DOUBLE))"
    )
    out_of_range = F.expr(
        "exists(embedding, v -> NOT isnan(v) "
        "AND abs(CAST(v AS DOUBLE)) > 10.0)"
    )
    whole = v.isNotNull() & ~has_null
    finite = whole & ~nonfinite
    ok = finite & (F.size(v) == dim) & ~out_of_range
    return emb.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.count_if(v.isNull()).cast("bigint").alias("n_null_vec"),
        F.count_if(v.isNotNull() & has_null)
        .cast("bigint")
        .alias("n_null_component"),
        F.count_if(whole & (F.size(v) != dim))
        .cast("bigint")
        .alias("n_wrong_dim"),
        F.count_if(whole & nonfinite)
        .cast("bigint")
        .alias("n_nonfinite"),
        F.count_if(finite & out_of_range)
        .cast("bigint")
        .alias("n_out_of_range"),
        F.count_if(ok & (qnorm == 0)).cast("bigint").alias("n_zero_vec"),
        F.min(F.when(ok, qnorm)).cast("bigint").alias("min_qnorm"),
        F.max(F.when(ok, qnorm)).cast("bigint").alias("max_qnorm"),
        F.sum(F.when(ok, qnorm)).cast("bigint").alias("sum_qnorm"),
    )


def q_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_audit(load_table(spark, "embeddings", sf_dir), dim=64)


_EMB_QNORM = (
    "CAST(list_sum(list_transform(embedding, v -> "
    "CAST(floor(CAST(v AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) "
    "* CAST(floor(CAST(v AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))) "
    "AS BIGINT)"
)
_EMB_NONFINITE = (
    "len(list_filter(embedding, v -> isnan(CAST(v AS DOUBLE)) "
    "OR isinf(CAST(v AS DOUBLE)))) > 0"
)
_EMB_HAS_NULL = "len(list_filter(embedding, v -> v IS NULL)) > 0"
_EMB_OOR = (
    "len(list_filter(embedding, v -> NOT isnan(CAST(v AS DOUBLE)) "
    "AND abs(CAST(v AS DOUBLE)) > 10.0)) > 0"
)

EMBEDDING_AUDIT_SQL = f"""
WITH base AS (
    SELECT embedding,
           {_EMB_QNORM} AS qn,
           {_EMB_NONFINITE} AS bad,
           {_EMB_HAS_NULL} AS hasnull,
           {_EMB_OOR} AS oor,
           embedding IS NOT NULL AND NOT {_EMB_HAS_NULL} AS whole,
           embedding IS NOT NULL AND NOT {_EMB_HAS_NULL}
               AND NOT {_EMB_NONFINITE} AS finite,
           embedding IS NOT NULL AND NOT {_EMB_HAS_NULL}
               AND NOT {_EMB_NONFINITE}
               AND len(embedding) = 64
               AND NOT {_EMB_OOR} AS ok
    FROM embeddings
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(COUNT(*) FILTER (WHERE embedding IS NULL) AS BIGINT)
           AS n_null_vec,
       CAST(COUNT(*) FILTER (WHERE embedding IS NOT NULL AND hasnull)
            AS BIGINT) AS n_null_component,
       CAST(COUNT(*) FILTER (WHERE whole AND len(embedding) <> 64)
            AS BIGINT) AS n_wrong_dim,
       CAST(COUNT(*) FILTER (WHERE whole AND bad) AS BIGINT)
           AS n_nonfinite,
       CAST(COUNT(*) FILTER (WHERE finite AND oor) AS BIGINT)
           AS n_out_of_range,
       CAST(COUNT(*) FILTER (WHERE ok AND qn = 0) AS BIGINT) AS n_zero_vec,
       CAST(MIN(qn) FILTER (WHERE ok) AS BIGINT) AS min_qnorm,
       CAST(MAX(qn) FILTER (WHERE ok) AS BIGINT) AS max_qnorm,
       CAST(SUM(qn) FILTER (WHERE ok) AS BIGINT) AS sum_qnorm
FROM base
"""


def q_kmeans_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-arithmetic Lloyd k-means (operators/kmeans.py) over the
    embeddings table: 8 clusters, 3 rounds, 1e4 quantization grid — the
    reproducible domain-discovery assignment a corpus pipeline caches as a
    split / dedup-blocking key."""
    from checkatron_spark.operators.kmeans import kmeans_assign

    return kmeans_assign(
        load_table(spark, "embeddings", sf_dir), k=8, iters=3, scale=10000
    )


def _kmeans_sql(
    k: int = 8, iters: int = 3, scale: int = 10000, src: str = "embeddings"
) -> str:
    """Unrolled Lloyd CTE chain mirroring operators/kmeans.py bit-for-bit:
    BIGINT grid distances, min(dist*k+cid) argmin encoding, one IEEE double
    division + floor(x+0.5) per re-quantized centroid component. ``src``
    lets callers cluster a FILTERED relation (selection.semdedup_sql
    excludes degenerate embeddings before clustering — NULL seed vectors
    make the Lloyd argmin engine-divergent); the default is the
    kmeans_domains contract, byte-identical to before the parameter."""
    dist = (
        "CAST(list_sum(list_transform(range(1, len(x) + 1), "
        "i -> (x[i] - m[i]) * (x[i] - m[i]))) AS BIGINT)"
    )
    parts = [
        f"""xq AS (
  SELECT vec_id,
         list_transform(embedding, v ->
             CAST(floor(CAST(v AS DOUBLE) * {scale}.0 + 0.5) AS BIGINT)) AS x
  FROM {src}
),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
         x AS m
  FROM (SELECT vec_id, x FROM xq ORDER BY vec_id LIMIT {k})
)"""
    ]
    for i in range(iters):
        parts.append(
            f"""a{i} AS (
  SELECT xq.vec_id, xq.x, min({dist} * {k} + cid) AS key
  FROM xq CROSS JOIN c{i}
  GROUP BY xq.vec_id, xq.x
)"""
        )
        if i < iters - 1:
            parts.append(
                f"""f{i} AS (
  SELECT CAST(a.key % {k} AS INTEGER) AS cid, p.j,
         CAST(floor(CAST(SUM(a.x[p.j]) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS m
  FROM a{i} a CROSS JOIN (SELECT unnest(range(1, len(
       (SELECT x FROM xq ORDER BY vec_id LIMIT 1)) + 1)) AS j) p
  GROUP BY 1, 2
),
c{i + 1} AS (
  SELECT c.cid, COALESCE(n.m, c.m) AS m
  FROM c{i} c LEFT JOIN
       (SELECT cid, list(m ORDER BY j) AS m FROM f{i} GROUP BY cid) n
       USING (cid)
)"""
            )
    ctes = ",\n".join(parts)
    return f"""WITH {ctes}
SELECT vec_id, CAST(key % {k} AS INTEGER) AS cluster_id,
       CAST(key // {k} AS BIGINT) AS dist
FROM a{iters - 1}
"""


def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination (operators/similarity.py
    decontaminate_semantic): ~5% of embeddings (vec_id % 20) play the eval
    set; corpus vectors with cosine >= 0.3 to ANY eval vector are reported
    as paraphrase-leakage suspects. Eval vectors broadcast — the corpus is
    scanned once, never shuffled."""
    emb = load_table(spark, "embeddings", sf_dir)
    bench = emb.filter(F.col("vec_id") % 20 == 0)
    corpus = emb.filter(F.col("vec_id") % 20 != 0)
    return S.decontaminate_semantic(corpus, bench, threshold=0.3)


DECONTAMINATE_SEMANTIC_SQL = f"""
WITH b AS (SELECT embedding AS bv FROM embeddings WHERE vec_id % 20 = 0),
c AS (SELECT vec_id, embedding AS cv FROM embeddings
      WHERE vec_id % 20 <> 0 AND {_EMB_OK}),
s AS (SELECT vec_id, {_cos_sql('cv', 'bv')} AS sim FROM c, b)
SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_bench_hits,
       round(MAX(sim), 6) AS max_bench_sim
FROM s WHERE sim >= 0.3 GROUP BY vec_id
"""


def q_neardup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via the DISTRIBUTED per-block self-join: blocking
    on the ``label`` column (a cluster id — the stand-in for an LSH bucket /
    coarse-quantizer cell) keeps the join equi-keyed on block, so pair work
    is Σ block² instead of n² and nothing is collected to the driver — the
    plan that survives 100 TB. The unblocked all-pairs kernel remains
    available for modest candidate sets (block_col=None)."""
    return S.neardup_embedding_cosine(
        load_table(spark, "embeddings", sf_dir), threshold=0.45,
        block_col="label",
    )


NEARDUP_EMBEDDING_SQL = f"""
WITH v AS (SELECT vec_id, embedding, label FROM embeddings WHERE {_EMB_OK})
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_cos_sql('a.embedding', 'b.embedding')}, 6) AS cosine_sim
FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 0.45
"""


def q_neardup_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid (SemDeDup-style) near-dup report: cheap text-shingle
    candidates first — the exact prefix-filtered Jaccard join at a LOW
    recall threshold — then every candidate pair re-scored with embedding
    cosine, emitting both signals plus the semantic confirmation flag. The
    two-stage shape is the modern semantic-dedup pipeline: the lexical
    stage bounds candidate count (work ∝ shared content, never all-pairs
    over the corpus), the embedding stage only ever scores those
    candidates. Emitted as a REPORT (caller filters on the flag): on these
    fixtures text duplicates are not embedding duplicates, and a pipeline
    must see both scores to tune its thresholds.

    Plan: candidate join as neardup_ngram_jaccard; embeddings join back on
    each side's id (two hash joins); cosine is the sequential-fold dot
    product shared with the ANN operators — bit-identical to the oracle's
    list_reduce."""
    from checkatron_spark.operators.similarity import cosine

    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    cand = D.neardup_ngram_jaccard(docs, "text", "doc_id", n=3, threshold=0.3)
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    eb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    cos = cosine(F.col("_va"), F.col("_vb"))
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            F.round(cos, 6).alias("cosine_sim"),
            (cos >= 0.9).alias("semantic_confirmed"),
        )
    )


def neardup_hybrid_sql() -> str:
    return f"""
WITH pairs AS ({neardup_jaccard_sql(0.3)})
SELECT p.id_a, p.id_b, p.jaccard,
       round({_cos_sql('ea.embedding', 'eb.embedding')}, 6) AS cosine_sim,
       ({_cos_sql('ea.embedding', 'eb.embedding')}) >= 0.9
         AS semantic_confirmed
FROM pairs p
JOIN embeddings ea ON ea.vec_id = p.id_a
JOIN embeddings eb ON eb.vec_id = p.id_b
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN at a SECOND operating point, served by the scale path
    (round 9, VERDICT r8 #1): IVF with the triangle-inequality exact
    refinement at a coarser grid (8 cells, 3 probed) than q_ann_ivf's
    16/6 — the two queries together pin that exactness holds across
    quantizer resolutions, not at one tuned setting. The MLlib
    ``BucketedRandomProjectionLSH`` twin (similarity.py ann_lsh_topk)
    returns the same top-k on the fixtures but its
    ``approxSimilarityJoin`` candidate set is OR-amplified (quadratic
    under background similarity — 49.8 s vs 5.6 s at sf1, 10.7x at 10x in
    the r8 probe), so it is an API-parity surface pinned row-identical in
    pytest (tests/test_lsh.py), not a declared query. Result EQUALS brute
    force by construction -> graded against the exact oracle."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    model = _ivf_quantizer(spark, emb, sf_dir, 8)
    return S.ivf_topk(
        emb, queries, k=3, n_cells=8, n_probe=3, exact=True, model=model
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell ANN with the triangle-inequality exactness refinement
    (similarity.ivf_topk exact=True): 6-of-16 cells probed first, then any
    cell whose angular bound could still beat the kth-best is probed too —
    the result EQUALS brute force by construction at every scale, so it is
    graded against the exact brute-force oracle without recall tuning;
    cheaper approximate-probe recall floors are pinned in
    tests/test_ivf.py."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    model = _ivf_quantizer(spark, emb, sf_dir, 16)
    return S.ivf_topk(
        emb, queries, k=3, n_cells=16, n_probe=6, exact=True, model=model
    )


def _ivf_quantizer(spark: SparkSession, emb: DataFrame, sf_dir: str,
                   n_cells: int):
    """The MLlib quantizer, fitted once per (Spark app, corpus, n_cells):
    repeat searches skip even the disk load; the fixed seed means a refit
    would produce the identical model, so results are unchanged."""
    return model_cache.remember(
        spark, ("ivf-quantizer", sf_dir, n_cells),
        lambda: S.fit_ivf_quantizer(
            emb, n_cells=n_cells, seed=42, max_iter=5,
            cache_key=_emb_cache_key(sf_dir),
        ),
    )


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN (operators/pq.py): 64-dim embeddings quantize to
    4 subspace codes (16 centroids each — 4 bytes per vector, 64x smaller
    than raw float32), queries rank neighbors by exact-integer ADC
    distance. Every code and distance reproduces bit-for-bit in the
    unrolled-CTE oracle, so the driver grades the full index+search
    computation; recall vs exact brute force is pinned separately in
    tests/test_pq.py (approximation is PQ's documented trade, not
    nondeterminism). Round 13 (VERDICT r12 #1): codebooks train on the
    md5-ordered 256-row bounded sample (the FAISS discipline — fit cost
    is corpus-independent; the oracle replays the identical sample) and
    persist to disk keyed by corpus identity, so repeat searches skip the
    Lloyd job chain entirely."""
    from checkatron_spark.operators.pq import pq_adc_topk

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return pq_adc_topk(
        emb, queries, m=4, k=16, iters=2, scale=10000, topk=3,
        fit_sample=256, cache_key=_emb_cache_key(sf_dir),
    )


def pq_adc_sql(
    *,
    dims: int = 64,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    scale: int = 10000,
    topk: int = 3,
    rerank_shortlist: int | None = None,
    fit_sample: int | None = None,
) -> str:
    """Unrolled per-subspace Lloyd + encode + ADC rank, mirroring
    operators/pq.py bit-for-bit (same grid, same lowest-id seeding, same
    min(dist*k+cid) argmin, same floor(+0.5) re-quantization, same
    (s, code) join + BIGINT sum). One CTE chain per subspace — compile-time
    m/k/iters, the _kmeans_sql contract. With ``rerank_shortlist`` the
    ADC ranking becomes the shortlist and the final top-k re-ranks it by
    the EXACT grid squared distance (pq_adc_rerank_topk's twin). With
    ``fit_sample`` the Lloyd chains train on the same md5-ordered bounded
    sample as _fit_sample_grid (encode still covers the full corpus)."""
    if dims % m:
        raise ValueError("pq_adc_sql: dims must divide by m")
    sub = dims // m
    parts = [
        f"""xq AS (
  SELECT vec_id,
         list_transform(embedding, v ->
             CAST(floor(CAST(v AS DOUBLE) * {scale}.0 + 0.5) AS BIGINT)) AS x
  FROM embeddings WHERE {_EMB_OK}
)"""
    ]
    fit_src = "xq"
    if fit_sample is not None:
        fit_src = "fitset"
        parts.append(
            f"""fitset AS (
  SELECT vec_id, x FROM xq
  ORDER BY md5(CAST(vec_id AS VARCHAR) || 'pqfit'), vec_id
  LIMIT {fit_sample}
)"""
        )
    parts.append(
        f"seed AS (SELECT vec_id, x FROM {fit_src} "
        f"ORDER BY vec_id LIMIT {k})"
    )
    dist = (
        "CAST(list_sum(list_transform(range(1, {sub} + 1), "
        "i -> (t.sx[i] - mm[i]) * (t.sx[i] - mm[i]))) AS BIGINT)"
    ).format(sub=sub)
    for s in range(m):
        lo = s * sub + 1
        sl = (
            f"list_transform(range({lo}, {lo + sub}), i -> x[i])"
        )
        parts.append(f"""sx_{s} AS (SELECT vec_id, {sl} AS sx FROM xq),
fsx_{s} AS (SELECT vec_id, {sl} AS sx FROM {fit_src}),
c_{s}_0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
         {sl} AS mm
  FROM seed
)""")
        for it in range(iters - 1):
            parts.append(f"""a_{s}_{it} AS (
  SELECT t.vec_id, t.sx, min({dist} * {k} + cid) AS key
  FROM fsx_{s} t CROSS JOIN c_{s}_{it} GROUP BY t.vec_id, t.sx
),
f_{s}_{it} AS (
  SELECT CAST(key % {k} AS INTEGER) AS cid, p.j,
         CAST(floor(CAST(SUM(sx[p.j]) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS mv
  FROM a_{s}_{it} CROSS JOIN
       (SELECT unnest(range(1, {sub} + 1)) AS j) p
  GROUP BY 1, 2
),
c_{s}_{it + 1} AS (
  SELECT c.cid, COALESCE(n.mm, c.mm) AS mm
  FROM c_{s}_{it} c LEFT JOIN
       (SELECT cid, list(mv ORDER BY j) AS mm FROM f_{s}_{it} GROUP BY cid) n
       USING (cid)
)""")
        parts.append(f"""codes_{s} AS (
  SELECT t.vec_id, CAST({s} AS INTEGER) AS s,
         CAST(min({dist} * {k} + cid) % {k} AS INTEGER) AS code
  FROM sx_{s} t CROSS JOIN c_{s}_{iters - 1} GROUP BY t.vec_id
)""")
    codes_union = " UNION ALL ".join(
        f"SELECT * FROM codes_{s}" for s in range(m)
    )
    cents_union = " UNION ALL ".join(
        f"SELECT CAST({s} AS INTEGER) AS s, cid, mm FROM c_{s}_{iters - 1}"
        for s in range(m)
    )
    parts.append(f"""codes AS ({codes_union}),
cents AS ({cents_union}),
q AS (SELECT vec_id AS query_id, x FROM xq WHERE vec_id % 50 = 0),
qd AS (
  SELECT query_id, s, cid AS code,
         CAST(list_sum(list_transform(range(1, {sub} + 1),
             i -> (x[s * {sub} + i] - mm[i]) * (x[s * {sub} + i] - mm[i])))
             AS BIGINT) AS d
  FROM q CROSS JOIN cents
),
scored AS (
  SELECT qd.query_id, codes.vec_id AS neighbor_id,
         CAST(SUM(qd.d) AS BIGINT) AS adc_dist
  FROM codes JOIN qd ON codes.s = qd.s AND codes.code = qd.code
  WHERE qd.query_id <> codes.vec_id
  GROUP BY 1, 2
)""")
    if rerank_shortlist is None:
        ctes = ",\n".join(parts)
        return f"""WITH {ctes}
SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank, adc_dist
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rnk
  FROM scored
)
WHERE rnk <= {topk}
"""
    parts.append(f"""short AS (
  SELECT query_id, neighbor_id
  FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rnk
    FROM scored
  ) WHERE rnk <= {rerank_shortlist}
),
exact AS (
  SELECT s.query_id, s.neighbor_id,
         CAST(list_sum(list_transform(range(1, {dims} + 1),
             i -> (qv.x[i] - nv.x[i]) * (qv.x[i] - nv.x[i])))
             AS BIGINT) AS exact_dist
  FROM short s
  JOIN xq nv ON nv.vec_id = s.neighbor_id
  JOIN q qv ON qv.query_id = s.query_id
)""")
    ctes = ",\n".join(parts)
    return f"""WITH {ctes}
SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank, exact_dist
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY exact_dist, neighbor_id) AS rnk
  FROM exact
)
WHERE rnk <= {topk}
"""


def q_ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ deployment (operators/pq.py pq_adc_rerank_topk): ADC
    shortlists 10 candidates per query from the compressed index, exact
    grid distance re-ranks them to a top-3 — the FAISS refine pattern.
    Re-rank cost is |Q|*10 exact folds regardless of corpus size."""
    from checkatron_spark.operators.pq import pq_adc_rerank_topk

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return pq_adc_rerank_topk(
        emb, queries, m=4, k=16, iters=2, scale=10000, shortlist=10,
        topk=3, fit_sample=256, cache_key=_emb_cache_key(sf_dir),
    )


def q_ann_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit Hamming ANN (operators/similarity.py ann_hamming_topk):
    64-dim embeddings binarize to two 32-bit sign words; neighbors rank
    by xor+bit_count in pure whole-stage codegen — the memory-floor
    first-pass scan (64x smaller than raw float32)."""
    from checkatron_spark.operators.similarity import ann_hamming_topk

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return ann_hamming_topk(emb, queries, k=3)


def _sign_codes_sql() -> str:
    """DuckDB twin of sign_hash_codes: MSB-first acc*2+bit fold into
    32-bit words (BIGINT-safe on both engines — values < 2^32)."""
    return (
        "list_transform(range(0, CAST(ceil(len(embedding) / 32.0) AS "
        "INTEGER)), w -> list_reduce(list_transform(range(w * 32 + 1, "
        "least(w * 32 + 32, len(embedding)) + 1), i -> CASE WHEN "
        "embedding[i] > 0 THEN 1::BIGINT ELSE 0::BIGINT END), "
        "(a, b) -> a * 2 + b))"
    )


def ann_hamming_sql(topk: int = 3) -> str:
    return f"""
WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE {_EMB_OK}),
c AS (SELECT vec_id, {_sign_codes_sql()} AS codes FROM v),
q AS (SELECT vec_id AS query_id, codes AS qc FROM c WHERE vec_id % 50 = 0),
s AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, len(qc) + 1),
             i -> bit_count(xor(qc[i], c.codes[i])))) AS INTEGER) AS hamming
  FROM q CROSS JOIN c
  WHERE q.query_id <> c.vec_id
)
SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank, hamming
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rnk
  FROM s
)
WHERE rnk <= {topk}
"""


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (operators/pq.py ivfpq_topk): 8 coarse cells x residual PQ
    (4 subspaces, 16 codes), 2 cells probed per query — the composed
    FAISS architecture with both scale levers (candidate set bounded by
    probed-cell population, per-candidate cost m table lookups). Exact
    integer end to end, graded against the unrolled coarse+residual CTE
    oracle."""
    from checkatron_spark.operators.pq import ivfpq_topk

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return ivfpq_topk(
        emb, queries, n_cells=8, n_probe=2, m=4, k=16, iters=2,
        scale=10000, topk=3, fit_sample=256,
        cache_key=_emb_cache_key(sf_dir),
    )


def _ivf_coarse_parts(
    *,
    dims: int,
    n_cells: int,
    iters: int,
    scale: int,
    fit_sample: int | None,
) -> tuple[list[str], str]:
    """The coarse-quantizer CTE chain shared by ivfpq_sql and
    ivf_grid_sql (round 14): grid quantization, optional md5-bounded
    fitset, the m=1 Lloyd unroll, and full-corpus cell assignment —
    pq._fit_coarse_cached + _assign_residual_grid's twin, emitted
    byte-identically to the pre-refactor ivfpq_sql text. Returns
    (parts, final_centroid_cte_name)."""
    dist_full = (
        "CAST(list_sum(list_transform(range(1, {d} + 1), "
        "i -> (t.sx[i] - mm[i]) * (t.sx[i] - mm[i]))) AS BIGINT)"
    ).format(d=dims)
    parts = [
        f"""xq AS (
  SELECT vec_id,
         list_transform(embedding, v ->
             CAST(floor(CAST(v AS DOUBLE) * {scale}.0 + 0.5) AS BIGINT)) AS x
  FROM embeddings WHERE {_EMB_OK}
)"""
    ]
    fit_src = "xq"
    if fit_sample is not None:
        fit_src = "fitset"
        parts.append(
            f"""fitset AS (
  SELECT vec_id, x FROM xq
  ORDER BY md5(CAST(vec_id AS VARCHAR) || 'pqfit'), vec_id
  LIMIT {fit_sample}
)"""
        )
    parts.append(f"""csx AS (SELECT vec_id, x AS sx FROM xq),
cfsx AS (SELECT vec_id, x AS sx FROM {fit_src}),
cc_0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
         x AS mm
  FROM (SELECT vec_id, x FROM {fit_src} ORDER BY vec_id LIMIT {n_cells})
)""")
    for it in range(iters - 1):
        parts.append(f"""ca_{it} AS (
  SELECT t.vec_id, t.sx, min({dist_full} * {n_cells} + cid) AS key
  FROM cfsx t CROSS JOIN cc_{it} GROUP BY t.vec_id, t.sx
),
cf_{it} AS (
  SELECT CAST(key % {n_cells} AS INTEGER) AS cid, p.j,
         CAST(floor(CAST(SUM(sx[p.j]) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS mv
  FROM ca_{it} CROSS JOIN
       (SELECT unnest(range(1, {dims} + 1)) AS j) p
  GROUP BY 1, 2
),
cc_{it + 1} AS (
  SELECT c.cid, COALESCE(n.mm, c.mm) AS mm
  FROM cc_{it} c LEFT JOIN
       (SELECT cid, list(mv ORDER BY j) AS mm FROM cf_{it} GROUP BY cid) n
       USING (cid)
)""")
    cfin = f"cc_{iters - 1}"
    parts.append(f"""cells AS (
  SELECT t.vec_id,
         CAST(min({dist_full} * {n_cells} + cid) % {n_cells} AS INTEGER)
             AS cell
  FROM csx t CROSS JOIN {cfin} GROUP BY t.vec_id
)""")
    return parts, cfin


def ivfpq_sql(
    *,
    dims: int = 64,
    n_cells: int = 8,
    n_probe: int = 2,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    scale: int = 10000,
    topk: int = 3,
    fit_sample: int | None = None,
) -> str:
    """Unrolled IVF-PQ oracle: full-vector coarse Lloyd chain + cell
    assignment + residual computation + per-subspace residual Lloyd
    chains + encode + probed-cell ADC — operators/pq.py ivfpq_topk's
    twin, rule for rule (lowest-id seeding on each fit's own input
    frame, min(dist*k+cid) argmins, (cd, cell) probe order). With
    ``fit_sample`` BOTH Lloyd stages train on the md5-ordered bounded
    sample (the residual fit on the sample rows' residuals), while cell
    assignment and encode still cover the full corpus — _fit_sample_grid's
    twin."""
    if dims % m:
        raise ValueError("ivfpq_sql: dims must divide by m")
    sub = dims // m
    dist_sub = (
        "CAST(list_sum(list_transform(range(1, {d} + 1), "
        "i -> (t.sx[i] - mm[i]) * (t.sx[i] - mm[i]))) AS BIGINT)"
    ).format(d=sub)
    parts, cfin = _ivf_coarse_parts(
        dims=dims, n_cells=n_cells, iters=iters, scale=scale,
        fit_sample=fit_sample,
    )
    parts.append(f"""res AS (
  SELECT c.vec_id, c.cell,
         list_transform(range(1, {dims} + 1), i -> xq.x[i] - cm.mm[i]) AS x
  FROM cells c JOIN xq USING (vec_id) JOIN {cfin} cm ON cm.cid = c.cell
),
rfit AS (
  SELECT r.vec_id, r.x FROM res r{"" if fit_sample is None else
  " JOIN fitset f USING (vec_id)"}
),
rseed AS (SELECT vec_id, x FROM rfit ORDER BY vec_id LIMIT {k})""")
    for s in range(m):
        lo = s * sub + 1
        sl = f"list_transform(range({lo}, {lo + sub}), i -> x[i])"
        parts.append(f"""rsx_{s} AS (SELECT vec_id, {sl} AS sx FROM res),
frsx_{s} AS (SELECT vec_id, {sl} AS sx FROM rfit),
rc_{s}_0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
         {sl} AS mm
  FROM rseed
)""")
        for it in range(iters - 1):
            parts.append(f"""ra_{s}_{it} AS (
  SELECT t.vec_id, t.sx, min({dist_sub} * {k} + cid) AS key
  FROM frsx_{s} t CROSS JOIN rc_{s}_{it} GROUP BY t.vec_id, t.sx
),
rf_{s}_{it} AS (
  SELECT CAST(key % {k} AS INTEGER) AS cid, p.j,
         CAST(floor(CAST(SUM(sx[p.j]) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS mv
  FROM ra_{s}_{it} CROSS JOIN
       (SELECT unnest(range(1, {sub} + 1)) AS j) p
  GROUP BY 1, 2
),
rc_{s}_{it + 1} AS (
  SELECT c.cid, COALESCE(n.mm, c.mm) AS mm
  FROM rc_{s}_{it} c LEFT JOIN
       (SELECT cid, list(mv ORDER BY j) AS mm FROM rf_{s}_{it} GROUP BY cid)
       n USING (cid)
)""")
        parts.append(f"""rcodes_{s} AS (
  SELECT t.vec_id, CAST({s} AS INTEGER) AS s,
         CAST(min({dist_sub} * {k} + cid) % {k} AS INTEGER) AS code
  FROM rsx_{s} t CROSS JOIN rc_{s}_{iters - 1} GROUP BY t.vec_id
)""")
    codes_union = " UNION ALL ".join(
        f"SELECT * FROM rcodes_{s}" for s in range(m)
    )
    cents_union = " UNION ALL ".join(
        f"SELECT CAST({s} AS INTEGER) AS s, cid, mm FROM rc_{s}_{iters - 1}"
        for s in range(m)
    )
    parts.append(f"""codes AS ({codes_union}),
cents AS ({cents_union}),
q AS (SELECT vec_id AS query_id, x FROM xq WHERE vec_id % 50 = 0),
qcd AS (
  SELECT q.query_id, c.cid AS cell, c.mm, q.x,
         CAST(list_sum(list_transform(range(1, {dims} + 1),
             i -> (q.x[i] - c.mm[i]) * (q.x[i] - c.mm[i]))) AS BIGINT) AS cd
  FROM q CROSS JOIN {cfin} c
),
probed AS (
  SELECT query_id, cell,
         list_transform(range(1, {dims} + 1), i -> x[i] - mm[i]) AS qr
  FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cd, cell) AS pr
    FROM qcd
  ) WHERE pr <= {n_probe}
),
qd AS (
  SELECT query_id, cell, s, cid AS code,
         CAST(list_sum(list_transform(range(1, {sub} + 1),
             i -> (qr[s * {sub} + i] - mm[i]) * (qr[s * {sub} + i] - mm[i])))
             AS BIGINT) AS d
  FROM probed CROSS JOIN cents
),
vcell AS (SELECT vec_id, cell FROM res),
scored AS (
  SELECT qd.query_id, codes.vec_id AS neighbor_id,
         CAST(SUM(qd.d) AS BIGINT) AS adc_dist
  FROM codes JOIN vcell USING (vec_id)
  JOIN qd ON vcell.cell = qd.cell AND codes.s = qd.s
         AND codes.code = qd.code
  WHERE qd.query_id <> codes.vec_id
  GROUP BY 1, 2
)""")
    ctes = ",\n".join(parts)
    return f"""WITH {ctes}
SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank, adc_dist
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rnk
  FROM scored
)
WHERE rnk <= {topk}
"""


def q_ann_ivf_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate grid-IVF ANN (operators/pq.py ivf_grid_topk): the
    deterministic coarse quantizer (8 cells, md5-bounded 256-row fit,
    disk-cached — the slot SHARED with ann_ivfpq's coarse stage), 2
    cells probed, candidates ranked by exact BIGINT full-vector grid
    distance. The oracle-replayable counterpart of the exact-refined
    q_ann_ivf: neighbors in unprobed cells are missed by design, and
    ann_recall_audit measures that trade (VERDICT r13 #2)."""
    from checkatron_spark.operators.pq import ivf_grid_topk

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return ivf_grid_topk(
        emb, queries, n_cells=8, n_probe=2, iters=2, scale=10000,
        topk=3, fit_sample=256, cache_key=_emb_cache_key(sf_dir),
    )


def ivf_grid_sql(
    *,
    dims: int = 64,
    n_cells: int = 8,
    n_probe: int = 2,
    iters: int = 2,
    scale: int = 10000,
    topk: int = 3,
    fit_sample: int | None = None,
) -> str:
    """Unrolled grid-IVF oracle: the shared coarse chain
    (_ivf_coarse_parts — byte-identical to ivfpq_sql's) + probed-cell
    selection by exact centroid distance + exact full-vector scoring
    within probed cells — operators/pq.py ivf_grid_topk's twin, rule
    for rule (probe ties (cd, cell), ranking ties (dist, neighbor))."""
    parts, cfin = _ivf_coarse_parts(
        dims=dims, n_cells=n_cells, iters=iters, scale=scale,
        fit_sample=fit_sample,
    )
    parts.append(f"""q AS (SELECT vec_id AS query_id, x FROM xq WHERE vec_id % 50 = 0),
qcd AS (
  SELECT q.query_id, c.cid AS cell, q.x,
         CAST(list_sum(list_transform(range(1, {dims} + 1),
             i -> (q.x[i] - c.mm[i]) * (q.x[i] - c.mm[i]))) AS BIGINT) AS cd
  FROM q CROSS JOIN {cfin} c
),
probed AS (
  SELECT query_id, cell, x AS qx FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cd, cell) AS pr
    FROM qcd
  ) WHERE pr <= {n_probe}
),
scored AS (
  SELECT p.query_id, cl.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, {dims} + 1),
             i -> (p.qx[i] - nx.x[i]) * (p.qx[i] - nx.x[i])))
             AS BIGINT) AS ivf_dist
  FROM probed p JOIN cells cl ON cl.cell = p.cell
  JOIN xq nx ON nx.vec_id = cl.vec_id
  WHERE p.query_id <> cl.vec_id
)""")
    ctes = ",\n".join(parts)
    return f"""WITH {ctes}
SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank, ivf_dist
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY ivf_dist, neighbor_id) AS rnk
  FROM scored
)
WHERE rnk <= {topk}
"""


# the closed-form changefeed for the incremental-IVF declared query
# (round 14, VERDICT r13 #5): ~1/17 of ids re-embed with a deterministic
# per-id drift, a disjoint ~1/23 slice tombstones away. The perturbation
# is plain double arithmetic rendered identically on both engines.
_IVF_INCR_PERTURB = (
    "transform(embedding, v -> CAST(v AS DOUBLE) "
    "+ 0.001D * CAST(vec_id % 7 - 3 AS DOUBLE))"
)
_IVF_INCR_PERTURB_DUCK = (
    "list_transform(embedding, v -> CAST(v AS DOUBLE) "
    "+ 0.001 * CAST(vec_id % 7 - 3 AS DOUBLE))"
)


def q_ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF maintenance (operators/pq.py
    ivf_grid_apply_changes — VERDICT r13 #5): the fitted coarse
    quantizer and the base index load from their caches (zero Lloyd /
    assignment jobs on a warm corpus version), a deterministic
    changefeed batch admits against them — upserts re-assign to
    EXISTING cells by the same argmin kernel (work ∝ batch), deletes
    tombstone via a broadcast anti-join — and the search runs over the
    maintained index. Centroids deliberately do not move on admission
    (incremental == rebuild-with-same-centroids, pinned in
    tests/test_pq.py, with ivf_occupancy_drift deciding when a refit is
    due); the oracle replays fit + base assignment + admission + search
    end to end."""
    from checkatron_spark.operators.pq import ivf_grid_incremental_topk

    emb = load_table(spark, "embeddings", sf_dir)
    ok = F.expr(
        "sqrt(aggregate(embedding, 0.0D, (acc, v) -> "
        "acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    ) > F.lit(0.0)
    ups = emb.filter((F.col("vec_id") % 17 == 0) & ok).select(
        F.lit("upsert").alias("op"),
        "vec_id",
        F.expr(_IVF_INCR_PERTURB).alias("embedding"),
    )
    dels = emb.filter(
        (F.col("vec_id") % 23 == 0) & (F.col("vec_id") % 17 != 0)
    ).select(F.lit("delete").alias("op"), "vec_id", "embedding")
    changes = ups.unionByName(dels)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return ivf_grid_incremental_topk(
        emb, changes, queries, n_cells=8, n_probe=2, iters=2,
        scale=10000, topk=3, fit_sample=256,
        cache_key=_emb_cache_key(sf_dir),
    )


def ivf_grid_incremental_sql(
    *,
    dims: int = 64,
    n_cells: int = 8,
    n_probe: int = 2,
    iters: int = 2,
    scale: int = 10000,
    topk: int = 3,
    fit_sample: int | None = None,
) -> str:
    """Unrolled incremental-IVF oracle: the shared coarse chain + base
    cell assignment (_ivf_coarse_parts, identical to ivf_grid_sql's),
    the closed-form changefeed, argmin admission of upserts against the
    FITTED centroids, tombstone anti-join, then the probed search over
    the maintained index — pq.ivf_grid_incremental_topk's twin."""
    parts, cfin = _ivf_coarse_parts(
        dims=dims, n_cells=n_cells, iters=iters, scale=scale,
        fit_sample=fit_sample,
    )
    dist_t = (
        "CAST(list_sum(list_transform(range(1, {d} + 1), "
        "i -> (t.sx[i] - mm[i]) * (t.sx[i] - mm[i]))) AS BIGINT)"
    ).format(d=dims)
    parts.append(f"""ups AS (
  SELECT vec_id, {_IVF_INCR_PERTURB_DUCK} AS pe
  FROM embeddings WHERE vec_id % 17 = 0 AND {_EMB_OK}
),
upsq AS (
  SELECT vec_id,
         list_transform(pe, v ->
             CAST(floor(CAST(v AS DOUBLE) * {scale}.0 + 0.5) AS BIGINT))
             AS x
  FROM ups
),
touched AS (
  SELECT vec_id FROM ups
  UNION ALL
  SELECT vec_id FROM embeddings
  WHERE vec_id % 23 = 0 AND vec_id % 17 <> 0
),
upcells AS (
  SELECT t.vec_id,
         CAST(min({dist_t} * {n_cells} + cid) % {n_cells} AS INTEGER)
             AS cell
  FROM (SELECT vec_id, x AS sx FROM upsq) t
  CROSS JOIN {cfin} GROUP BY t.vec_id
),
idx AS (
  SELECT c.vec_id, c.cell, xq.x
  FROM cells c JOIN xq USING (vec_id)
  WHERE NOT EXISTS (SELECT 1 FROM touched tt WHERE tt.vec_id = c.vec_id)
  UNION ALL
  SELECT u.vec_id, uc.cell, u.x
  FROM upsq u JOIN upcells uc USING (vec_id)
),
q AS (SELECT vec_id AS query_id, x FROM xq WHERE vec_id % 50 = 0),
qcd AS (
  SELECT q.query_id, c.cid AS cell, q.x,
         CAST(list_sum(list_transform(range(1, {dims} + 1),
             i -> (q.x[i] - c.mm[i]) * (q.x[i] - c.mm[i]))) AS BIGINT) AS cd
  FROM q CROSS JOIN {cfin} c
),
probed AS (
  SELECT query_id, cell, x AS qx FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cd, cell) AS pr
    FROM qcd
  ) WHERE pr <= {n_probe}
),
scored AS (
  SELECT p.query_id, ix.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, {dims} + 1),
             i -> (p.qx[i] - ix.x[i]) * (p.qx[i] - ix.x[i])))
             AS BIGINT) AS ivf_dist
  FROM probed p JOIN idx ix ON ix.cell = p.cell
  WHERE p.query_id <> ix.vec_id
)""")
    ctes = ",\n".join(parts)
    return f"""WITH {ctes}
SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank, ivf_dist
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY ivf_dist, neighbor_id) AS rnk
  FROM scored
)
WHERE rnk <= {topk}
"""


def q_ann_lsh_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic banded sign-bit LSH ANN (similarity.py
    ann_lsh_banded_topk): coordinate-hyperplane SRP bits in 5-bit bands
    (13 bands over the 64-dim fixtures — band_bits=5 is fixture-tuned
    for a usefully-approximate ~0.6-0.85 recall, the semdedup
    threshold=0.3 precedent), candidates = any whole-band agreement,
    ranked by exact BIGINT grid distance. Every band value and distance
    replays in the oracle — the gradable counterpart of the
    MLlib-seeded ann_lsh surface (VERDICT r13 #2)."""
    from checkatron_spark.operators.similarity import ann_lsh_banded_topk

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return ann_lsh_banded_topk(emb, queries, band_bits=5, k=3, scale=10000)


def ann_lsh_banded_sql(
    *, band_bits: int = 5, topk: int = 3, scale: int = 10000
) -> str:
    """DuckDB twin of ann_lsh_banded_topk: MSB-first acc*2+bit band fold
    (the _sign_codes_sql rule at ``band_bits`` width, ragged tail band
    via least()), band-equality candidate join, exact grid distances.
    Band index convention differs (1-based here, 0-based posexplode on
    the Spark side) — it never leaves the join, so parity holds."""
    bands = (
        f"list_transform(range(0, CAST(ceil(len(embedding) / {band_bits}.0) "
        f"AS INTEGER)), w -> list_reduce(list_transform(range(w * {band_bits}"
        f" + 1, least(w * {band_bits} + {band_bits}, len(embedding)) + 1), "
        "i -> CASE WHEN embedding[i] > 0 THEN 1::BIGINT ELSE 0::BIGINT END), "
        "(a, b) -> a * 2 + b))"
    )
    return f"""
WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE {_EMB_OK}),
xq AS (
  SELECT vec_id,
         list_transform(embedding, e ->
             CAST(floor(CAST(e AS DOUBLE) * {scale}.0 + 0.5) AS BIGINT)) AS x
  FROM v
),
b AS (SELECT vec_id, {bands} AS bands FROM v),
cb AS (
  SELECT vec_id, u.i AS bi, bands[u.i] AS bv
  FROM b, UNNEST(range(1, len(bands) + 1)) AS u(i)
),
qb AS (SELECT vec_id AS query_id, bi, bv FROM cb WHERE vec_id % 50 = 0),
cand AS (
  SELECT DISTINCT qb.query_id, cb.vec_id AS neighbor_id
  FROM qb JOIN cb ON qb.bi = cb.bi AND qb.bv = cb.bv
  WHERE qb.query_id <> cb.vec_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         CAST(list_sum(list_transform(range(1, len(qx.x) + 1),
             i -> (qx.x[i] - nx.x[i]) * (qx.x[i] - nx.x[i])))
             AS BIGINT) AS lsh_dist
  FROM cand c
  JOIN xq qx ON qx.vec_id = c.query_id
  JOIN xq nx ON nx.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank, lsh_dist
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY lsh_dist, neighbor_id) AS rnk
  FROM scored
)
WHERE rnk <= {topk}
"""


def q_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit of every compressed-index ANN path against the
    exact brute-force ground truth at matched k=3 — the method-audit twin
    of neardup_method_audit: the measurement a real user needs to pick
    n_probe/m/k before trusting a compressed index corpus-wide. hits/total
    are exact integers (pair-set intersections of deterministic
    rankings), so the whole audit replays bit-for-bit in the composed
    DuckDB oracle; recall_at_k is one IEEE division of two exact
    integers, rounded at 1e-6. All six methods reuse the disk-cached
    sampled-fit codebooks/quantizers where they have one, so the audit
    costs one brute-force scan plus six SEARCHES, not six index builds.
    Returns one row per method: (method, hits, total, recall_at_k).

    Scale note (probe-battery exemption): the audit composes
    already-probed searches; its only non-probed term is the brute-force
    GROUND TRUTH, whose |Q| x corpus pair growth is the documented
    blocked-twin exception (ann_bruteforce_topk) — at 100 TB the truth
    set comes from an offline exact pass over a fixed query panel, and
    the audit's own join/aggregate work is ∝ the methods' top-k outputs,
    corpus-independent."""
    from checkatron_spark.operators.pq import (
        _quantized,
        ivf_grid_index,
        ivf_grid_topk,
        ivfpq_topk,
        pq_adc_topk,
        rerank_exact,
    )
    from checkatron_spark.operators.similarity import (
        ann_hamming_topk,
        ann_lsh_banded_topk,
    )
    from checkatron_spark.session import scratch_persist

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    key = _emb_cache_key(sf_dir)
    # the BIGINT-grid corpus frame _quantized(emb) appears verbatim under
    # three branches (flat-PQ encode, the grid-IVF assignment kernel,
    # rerank's exact side) — the CacheManager matches persisted plans by
    # canonicalized equality, so ONE persist here turns three corpus
    # quantization passes into one compute + two cache reads. Raw `emb`
    # is deliberately NOT persisted: a second corpus-sized cache to save
    # parquet re-scans that cost less than the cache.
    scratch_persist(_quantized(emb, "vec_id", "embedding", 10000))
    bf = (
        S.ann_bruteforce_topk(emb, queries, k=3)
        .select("query_id", "neighbor_id")
        .transform(scratch_persist)  # consumed twice: hits join + total
    )
    # ann_pq_adc and ann_pq_rerank share ONE flat-PQ pipeline — the ADC
    # ranking at topk=shortlist(10) is computed once and persisted; its
    # rank<=3 prefix IS the ADC method's top-3 (identical deterministic
    # total order (adc_dist, neighbor_id) — a topk filter is a prefix of
    # the same row_number), and the full 10 rows are exactly the rerank
    # stage's shortlist. Equality with the unshared operators is pinned
    # in tests/test_pq.py.
    adc10 = pq_adc_topk(
        emb, queries, m=4, k=16, iters=2, scale=10000, topk=10,
        fit_sample=256, cache_key=key,
    ).select("query_id", "neighbor_id", "rank").transform(scratch_persist)
    # the grid-IVF corpus index (assignment under the cached coarse
    # quantizer) is built and persisted ONCE and feeds both ann_ivf
    # (scoring join) and ann_ivfpq (residuals = x − centroid[cell], the
    # identical exact arithmetic — pinned in tests/test_pq.py)
    index, coarse = ivf_grid_index(
        emb, n_cells=8, iters=2, scale=10000, fit_sample=256,
        cache_key=key,
    )
    index = scratch_persist(index)
    # ann_ivf and ann_lsh — the approximate methods a user reaches for
    # first — join the audit via their deterministic twins (grid-IVF
    # shares ann_ivfpq's cached coarse quantizer; banded LSH at the
    # declared band_bits=5 point), covering all six compressed/bucketed
    # paths
    methods = {
        "ann_hamming": ann_hamming_topk(emb, queries, k=3),
        "ann_ivf": ivf_grid_topk(
            emb, queries, n_cells=8, n_probe=2, iters=2, scale=10000,
            topk=3, fit_sample=256, cache_key=key,
            index=index, coarse=coarse,
        ),
        "ann_ivfpq": ivfpq_topk(
            emb, queries, n_cells=8, n_probe=2, m=4, k=16, iters=2,
            scale=10000, topk=3, fit_sample=256, cache_key=key,
            index=index, coarse=coarse,
        ),
        "ann_lsh": ann_lsh_banded_topk(
            emb, queries, band_bits=5, k=3, scale=10000,
        ),
        "ann_pq_adc": adc10.filter(F.col("rank") <= 3),
        "ann_pq_rerank": rerank_exact(
            adc10.select("query_id", "neighbor_id"), emb, queries,
            scale=10000, topk=3,
        ),
    }
    labeled = None
    for name in sorted(methods):
        part = methods[name].select(
            F.lit(name).alias("method"), "query_id", "neighbor_id"
        )
        labeled = part if labeled is None else labeled.unionAll(part)
    hits = (
        labeled.join(F.broadcast(bf), ["query_id", "neighbor_id"])
        .groupBy("method")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    names = spark.createDataFrame(
        [(n,) for n in sorted(methods)], "method string"
    )
    tot = bf.agg(F.count(F.lit(1)).alias("total"))
    h = F.coalesce(F.col("hits"), F.lit(0)).cast("bigint")
    return (
        names.join(hits, "method", "left")
        .crossJoin(tot)  # 1-row scalar — broadcast-NL by construction
        .select(
            "method",
            h.alias("hits"),
            F.col("total").cast("bigint").alias("total"),
            F.round(
                h.cast("double") / F.col("total").cast("double"), 6
            ).alias("recall_at_k"),
        )
        .orderBy("method")
    )


def ann_recall_audit_sql() -> str:
    """Composed oracle: each method's full unrolled oracle (the SAME
    generator outputs the driver grades individually) becomes a CTE, the
    pair-set intersection with the brute-force CTE is counted per method,
    and recall is the rounded exact-integer division — so the audit's
    ground truth and its subjects are the already-proven twins."""
    methods = {
        "ann_hamming": ann_hamming_sql(topk=3),
        "ann_ivf": ivf_grid_sql(fit_sample=256),
        "ann_ivfpq": ivfpq_sql(fit_sample=256),
        "ann_lsh": ann_lsh_banded_sql(band_bits=5),
        "ann_pq_adc": pq_adc_sql(fit_sample=256),
        "ann_pq_rerank": pq_adc_sql(rerank_shortlist=10, fit_sample=256),
    }
    names = sorted(methods)
    mcte = ",\n".join(
        f"m_{i} AS (SELECT '{n}' AS method, query_id, neighbor_id "
        f"FROM (\n{methods[n]}\n) t)"
        for i, n in enumerate(names)
    )
    union = " UNION ALL ".join(
        f"SELECT * FROM m_{i}" for i in range(len(names))
    )
    vals = ", ".join(f"('{n}')" for n in names)
    return f"""
WITH bf AS (
  SELECT query_id, neighbor_id FROM (\n{ANN_BRUTEFORCE_SQL}\n) t
),
{mcte},
lab AS ({union}),
tot AS (SELECT COUNT(*) AS total FROM bf),
hits AS (
  SELECT method, COUNT(*) AS hits
  FROM lab JOIN bf USING (query_id, neighbor_id)
  GROUP BY method
)
SELECT m.method,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       CAST(t.total AS BIGINT) AS total,
       round(CAST(COALESCE(h.hits, 0) AS DOUBLE)
             / CAST(t.total AS DOUBLE), 6) AS recall_at_k
FROM (VALUES {vals}) AS m(method)
LEFT JOIN hits h ON h.method = m.method
CROSS JOIN tot t
ORDER BY m.method
"""


def _emb_cache_key(sf_dir: str) -> str | None:
    """Disk-cache key for the IVF quantizer (VERDICT r11 #5): the
    embeddings parquet's identity — realpath + mtime + size — so a changed
    corpus invalidates the cache while a fresh JVM on the same fixtures
    loads the identical fitted centroids instead of re-running count +
    sample + Lloyd (the 8.7 s vs 2.7 s bench cold-start)."""
    import os

    p = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(p)
    except OSError:
        return None  # exotic layout: skip the disk cache, in-proc memo only
    return f"{os.path.realpath(p)}|{st.st_mtime_ns}|{st.st_size}"

# ---------------------------------------------------------------------------
# events: windowed aggregation, JSON extraction, sessionization
# ---------------------------------------------------------------------------

def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(
            F.to_date(F.col("ts")).alias("day"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # micros-integer sum: floor(v*1e6+0.5) is pure IEEE ops (bit-
            # identical across engines); BIGINT sum is exact and order-free
            (
                F.sum(
                    F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5))
                    .cast("bigint")
                ).cast("double")
                / F.lit(1000000.0)
            ).alias("sum_value"),
        )
    )


EVENTS_WINDOWED_SQL = (
    "SELECT CAST(ts AS DATE) AS day, event_type, "
    "COUNT(*) AS n_events, "
    "CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) "
    "/ 1000000.0 AS sum_value "
    "FROM events GROUP BY 1, 2"
)


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.select(
            F.get_json_object(F.col("props"), "$.k").cast("int").alias("k")
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


EVENTS_JSON_SQL = (
    "SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, "
    "COUNT(*) AS n FROM events GROUP BY 1"
)


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values — a
    sequential recurrence (s = 0.875*s + 0.125*v in event order, seeded with
    the first value) that no closed-form window expression computes, so it
    rides the grouped-map ``applyInPandas`` path: one shuffle on user_id,
    then an Arrow-batched per-group fold in Python.

    At 100 TB the group key (user) bounds memory — each group is one user's
    history; a per-user cap or time-slice pre-filter guards pathological
    users. All arithmetic is plain IEEE-double fold in both engines
    (coefficients 0.875/0.125 are exact binary fractions; same order, same
    ops → bit-identical to the DuckDB ``list_reduce`` oracle)."""
    import pandas as pd

    ev = load_table(spark, "events", sf_dir)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        v = pdf["value"].to_numpy()
        s = v[0]
        for x in v[1:]:
            s = 0.875 * s + 0.125 * x
        return pd.DataFrame(
            {"user_id": [pdf["user_id"].iloc[0]], "ewma": [s], "n": [len(v)]}
        )

    return (
        ev.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandas(fold, "user_id bigint, ewma double, n bigint")
    )


EVENTS_EWMA_SQL = """
SELECT user_id,
       list_reduce(list(value ORDER BY ts, event_id),
                   (acc, v) -> 0.875 * acc + 0.125 * v) AS ewma,
       COUNT(*) AS n
FROM events GROUP BY user_id
"""


def q_events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival profile: the gap (whole seconds) between
    each event and the same user's previous event, aggregated by the type of
    the later event. One window shuffle on user_id, one agg shuffle on
    event_type — both keys are low-skew here; at 100 TB the window partition
    is the natural hot spot and user_id cardinality (millions) keeps each
    partition small. Gap = trunc-to-second epoch difference, so Spark's
    ``cast(ts AS long)`` and DuckDB's ``date_diff('second', ...)`` agree
    bit-for-bit; sums stay integer until the final rounded average."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_epoch = F.col("ts").cast("timestamp").cast("long")
    gap = ts_epoch - F.lag(ts_epoch).over(w)
    return (
        ev.withColumn("_gap_s", gap)
        .filter(F.col("_gap_s").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("_gap_s").alias("total_gap_s"),
            F.max("_gap_s").alias("max_gap_s"),
            F.round(F.avg("_gap_s"), 6).alias("avg_gap_s"),
        )
    )


EVENTS_INTERARRIVAL_SQL = """
WITH lagged AS (
    SELECT event_type,
           date_diff('second',
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                     ts) AS gap_s
    FROM events
)
SELECT event_type, COUNT(*) AS n_gaps, CAST(SUM(gap_s) AS BIGINT) AS total_gap_s,
       MAX(gap_s) AS max_gap_s, ROUND(AVG(gap_s), 6) AS avg_gap_s
FROM lagged WHERE gap_s IS NOT NULL GROUP BY event_type
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: a new session starts after a >30 min gap per user.
    Timestamp-interval arithmetic only (exact microseconds, FP-free).
    Output: per-user session count + event count."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = (
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") > F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTES")),
            F.lit(1),
        ).otherwise(F.lit(0))
    )
    return (
        ev.withColumn("_new", new_sess)
        .groupBy("user_id")
        .agg(
            F.sum("_new").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


EVENTS_SESSIONIZE_SQL = """
WITH lagged AS (
    SELECT user_id,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM lagged GROUP BY user_id
"""


def q_events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SESSION analytics on top of the 30-min-gap sessionizer: each
    (user, session) row carries start/end, exact microsecond duration,
    event count, exact integer-micro value total, and a conversion flag
    (any purchase) — the session table every product-analytics warehouse
    materializes. One window shuffle on user_id assigns the running
    session index (ROWS frame pinned — RANGE over tied keys would
    mis-group); the rest is a map-side-combined groupBy. Duration stays a
    bigint microsecond diff, value rides integer micros: FP-free."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = F.when(
        F.lag("ts").over(w).isNull()
        | (F.col("ts") > F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTES")),
        F.lit(1),
    ).otherwise(F.lit(0))
    sess_id = F.sum("_new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    micros = F.floor(
        F.col("value") * F.lit(1000000.0) + F.lit(0.5)
    ).cast("bigint")
    return (
        ev.withColumn("_new", new_sess)
        .withColumn("session_id", sess_id.cast("bigint"))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            .cast("bigint")
            .alias("duration_us"),
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(micros).cast("double") / F.lit(1000000.0)).alias(
                "total_value"
            ),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("int")
            .alias("converted"),
        )
    )


EVENTS_SESSION_STATS_SQL = """
WITH lagged AS (
    SELECT user_id, ts, event_id, event_type, value,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT *,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
    FROM lagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS duration_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000.0 AS total_value,
       CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS INTEGER) AS converted
FROM sess GROUP BY user_id, session_id
"""


def q_sessions_overlap_promos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join (operators/rangejoin.py
    interval_overlap_join): user sessions against daily promo windows
    ([10:00, 14:00] each event day), closed-interval semantics, with the
    exact microsecond overlap per pair — the campaign-attribution shape.
    The raw theta join is a nested loop; the binned formulation explodes
    both interval sets over hour bins, equi-joins, and attributes each
    pair to the single later-start bin (no distinct)."""
    from checkatron_spark.operators.rangejoin import interval_overlap_join

    ev = load_table(spark, "events", sf_dir)
    sessions = q_events_session_stats(spark, sf_dir).select(
        "user_id", "session_id", "session_start", "session_end"
    )
    promos = (
        ev.select(F.to_date("ts").alias("promo_day"))
        .distinct()
        .select(
            "promo_day",
            (
                F.col("promo_day").cast("timestamp")
                + F.expr("INTERVAL 10 HOURS")
            ).alias("promo_start"),
            (
                F.col("promo_day").cast("timestamp")
                + F.expr("INTERVAL 14 HOURS")
            ).alias("promo_end"),
        )
    )
    joined = interval_overlap_join(
        sessions,
        promos,
        l_start="session_start",
        l_end="session_end",
        r_start="promo_start",
        r_end="promo_end",
    )
    return joined.select(
        "user_id",
        "session_id",
        "promo_day",
        (
            F.unix_micros(F.least("session_end", "promo_end"))
            - F.unix_micros(F.greatest("session_start", "promo_start"))
        )
        .cast("bigint")
        .alias("overlap_us"),
    )


SESSIONS_OVERLAP_PROMOS_SQL = f"""
WITH sessions AS (
    SELECT user_id, session_id, session_start, session_end
    FROM ({EVENTS_SESSION_STATS_SQL}) s
),
promos AS (
    SELECT promo_day,
           CAST(promo_day AS TIMESTAMP) + INTERVAL 10 HOUR AS promo_start,
           CAST(promo_day AS TIMESTAMP) + INTERVAL 14 HOUR AS promo_end
    FROM (SELECT DISTINCT CAST(ts AS DATE) AS promo_day FROM events)
)
SELECT s.user_id, s.session_id, p.promo_day,
       CAST(epoch_us(least(s.session_end, p.promo_end))
            - epoch_us(greatest(s.session_start, p.promo_start))
            AS BIGINT) AS overlap_us
FROM sessions s JOIN promos p
  ON s.session_start <= p.promo_end AND p.promo_start <= s.session_end
"""


def q_events_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap filling: hourly event counts per
    event_type, densified so silent hours appear as zero rows. The hour
    spine is ``sequence`` + ``explode`` over each type's [min, max] hour
    range — generated distributed, never collected — then a left join
    fills observed counts. At 100 TB the spine is trivially small next to
    the fact table and broadcast-joins against the aggregated counts."""
    ev = load_table(spark, "events", sf_dir)
    counts = (
        ev.groupBy(
            F.col("event_type"),
            F.date_trunc("hour", F.col("ts")).alias("hour"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    spine = (
        counts.groupBy("event_type")
        .agg(F.min("hour").alias("_lo"), F.max("hour").alias("_hi"))
        .select(
            "event_type",
            F.explode(
                F.sequence("_lo", "_hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    return spine.join(counts, ["event_type", "hour"], "left").select(
        "event_type",
        "hour",
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
    )


EVENTS_RESAMPLE_SQL = """
WITH counts AS (
    SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
),
spine AS (
    SELECT event_type,
           unnest(generate_series(min(hour), max(hour), INTERVAL 1 HOUR)) AS hour
    FROM counts GROUP BY event_type
)
SELECT s.event_type, s.hour, COALESCE(c.n_events, 0) AS n_events
FROM spine s LEFT JOIN counts c
  ON s.event_type = c.event_type AND s.hour = c.hour
"""


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids: element-wise mean via posexplode +
    exact integer-nano sums (order-independent, engine-portable), one
    output row per (label, dimension). The posexplode shape is the
    scalable array aggregation — the shuffle key is (label, pos), so wide
    vectors parallelize across dimensions instead of serializing per
    group."""
    emb = load_table(spark, "embeddings", sf_dir)
    return (
        emb.select(
            "label", F.posexplode("embedding").alias("pos", "val")
        )
        .groupBy("label", "pos")
        .agg(
            (
                F.sum(
                    F.floor(
                        F.col("val").cast("double") * F.lit(1e9) + F.lit(0.5)
                    ).cast("bigint")
                ).cast("double")
                / F.lit(1e9)
                / F.count(F.lit(1))
            ).alias("_mean")
        )
        .select(
            "label",
            F.col("pos").cast("int").alias("pos"),
            F.round("_mean", 6).alias("centroid_val"),
        )
    )


LABEL_CENTROIDS_SQL = """
SELECT label, CAST(pos - 1 AS INTEGER) AS pos,
       round(CAST(SUM(CAST(floor(CAST(val AS DOUBLE) * 1e9 + 0.5) AS BIGINT))
                  AS DOUBLE) / 1e9 / COUNT(*), 6) AS centroid_val
FROM (
    SELECT label, unnest(embedding) AS val,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
)
GROUP BY label, pos
"""


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift by label — the vector-space twin of drift_orders:
    between two embedding snapshots (re-encoded corpus, new encoder
    checkpoint), report the per-label L1 centroid shift in EXACT
    arithmetic. Components quantize to a 1e-3 grid (bigint); the per-dim
    centroid difference qs_a/n_a − qs_b/n_b rides the common denominator
    n_a·n_b, so the L1 numerator Σ_d |qs_a[d]·n_b − qs_b[d]·n_a| is an
    exact bigint and the single double division happens once per label.
    A drifted encoder (here: +0.01 on every component of vec_id % 17 == 0
    vectors, with vec_id % 29 == 5 rows absent from the before snapshot)
    shows up as a nonzero shift; identical snapshots give exactly 0.

    Overflow budget: |q| ≤ 1e4 (audit range gate), so each cross term is
    ≤ n²·1e4 and the 64-dim sum stays inside int64 up to ~10⁶ vectors per
    label — 100 TB-safe with any realistic label fan-out. Plan: two
    posexplode→groupBy passes (shuffle by (label, dim), 64 rows per
    vector) + bounded label-keyed joins; no windows, no collects."""
    emb = load_table(spark, "embeddings", sf_dir)

    def qdims(df: DataFrame, shift) -> DataFrame:
        qarr = F.transform(
            F.col("embedding"),
            lambda x: F.floor(
                (x.cast("double") + shift) * F.lit(1000.0) + F.lit(0.5)
            ).cast("bigint"),
        )
        return df.select("label", F.posexplode(qarr).alias("d", "qv"))

    before = emb.filter(F.col("vec_id") % 29 != 5)
    after = emb
    a_shift = F.when(F.col("vec_id") % 17 == 0, F.lit(0.01)).otherwise(
        F.lit(0.0)
    )
    sb = qdims(before, F.lit(0.0)).groupBy("label", "d").agg(
        F.sum("qv").alias("_qs_b")
    )
    sa = qdims(after, a_shift).groupBy("label", "d").agg(
        F.sum("qv").alias("_qs_a")
    )
    nb = before.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_before")
    )
    na = after.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_after")
    )
    num = F.sum(
        F.abs(
            F.col("_qs_a") * F.col("n_before")
            - F.col("_qs_b") * F.col("n_after")
        )
    ).cast("bigint")
    return (
        sb.join(sa, ["label", "d"])
        .join(nb, "label")
        .join(na, "label")
        .groupBy("label", "n_before", "n_after")
        .agg(num.alias("shift_l1_num"))
        .select(
            "label",
            "n_before",
            "n_after",
            "shift_l1_num",
            (
                F.col("shift_l1_num").cast("double")
                / (
                    F.col("n_before").cast("double")
                    * F.col("n_after").cast("double")
                    * F.lit(1000.0)
                )
            ).alias("shift_l1"),
        )
    )


def _emb_qdims_sql(src: str, shift: str) -> str:
    return (
        f"SELECT label, "
        f"unnest(range(1, len(embedding) + 1)) AS d, "
        f"unnest(list_transform(embedding, v -> "
        f"CAST(floor((CAST(v AS DOUBLE) + {shift}) * 1000.0 + 0.5) "
        f"AS BIGINT))) AS qv FROM {src}"
    )


EMBEDDING_DRIFT_SQL = f"""
WITH b AS (SELECT * FROM embeddings WHERE vec_id % 29 <> 5),
a AS (SELECT *,
             CASE WHEN vec_id % 17 = 0 THEN 0.01 ELSE 0.0 END AS _shift
      FROM embeddings),
bd AS ({_emb_qdims_sql('b', '0.0')}),
ad AS ({_emb_qdims_sql('a', '_shift')}),
sb AS (SELECT label, d, CAST(SUM(qv) AS BIGINT) AS qs_b FROM bd GROUP BY 1, 2),
sa AS (SELECT label, d, CAST(SUM(qv) AS BIGINT) AS qs_a FROM ad GROUP BY 1, 2),
nb AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_before FROM b GROUP BY 1),
na AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_after FROM a GROUP BY 1)
SELECT sb.label, nb.n_before, na.n_after,
       CAST(SUM(ABS(sa.qs_a * nb.n_before - sb.qs_b * na.n_after))
            AS BIGINT) AS shift_l1_num,
       CAST(SUM(ABS(sa.qs_a * nb.n_before - sb.qs_b * na.n_after))
            AS DOUBLE)
       / (CAST(nb.n_before AS DOUBLE) * CAST(na.n_after AS DOUBLE) * 1000.0)
           AS shift_l1
FROM sb JOIN sa ON sb.label = sa.label AND sb.d = sa.d
JOIN nb ON sb.label = nb.label
JOIN na ON sb.label = na.label
GROUP BY sb.label, nb.n_before, na.n_after
"""


def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embeddings (the storage/serving
    compression step of an embedding pipeline): per-vector scale =
    127/max|x|, elements mapped with the portable floor(x*s + 0.5) rounding
    and clamped to [-127, 127]. Entirely higher-order JVM expressions
    (transform/aggregate) — no UDF, embarrassingly parallel, so it runs at
    scan speed at any scale. Output pins (scale, q_sum, q_min, q_max) per
    vector, which fixes every quantized element against the oracle up to
    the clamp."""
    emb = load_table(spark, "embeddings", sf_dir)
    dx = lambda x: x.cast("double")  # noqa: E731
    maxabs = F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(dx(x))))
    scale = F.lit(127.0) / F.nullif(maxabs, F.lit(0.0))
    q = F.transform(
        F.col("embedding"),
        lambda x: F.greatest(
            F.lit(-127).cast("bigint"),
            F.least(
                F.lit(127).cast("bigint"),
                F.floor(dx(x) * scale + F.lit(0.5)).cast("bigint"),
            ),
        ),
    )
    return emb.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        F.aggregate(q, F.lit(0).cast("bigint"), lambda a, x: a + x).alias("q_sum"),
        F.array_min(q).alias("q_min"),
        F.array_max(q).alias("q_max"),
    )


QUANTIZE_SQL = """
SELECT vec_id, round(127.0 / mx, 6) AS scale,
       CAST(list_aggregate(q, 'sum') AS BIGINT) AS q_sum,
       list_min(q) AS q_min, list_max(q) AS q_max
FROM (
    SELECT vec_id,
           list_transform(embedding,
               x -> greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT),
                    CAST(floor(CAST(x AS DOUBLE) * (127.0 / mx) + 0.5)
                         AS BIGINT)))) AS q,
           mx
    FROM (
        SELECT vec_id, embedding,
               nullif(list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))), 0.0) AS mx
        FROM embeddings
    )
)
"""


def q_events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in session windows: per-user sessions merged under a 30-minute
    gap, via F.session_window (Spark's native session aggregation — state
    merges adjacent windows instead of keeping per-event rows).

    Boundary semantics: Spark merges an event into a session iff
    ts < session_end (= last_ts + gap), i.e. a gap of EXACTLY 30 minutes
    starts a new session — the oracle's island computation uses `>=` to
    match."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


EVENTS_SESSION_WINDOW_SQL = """
WITH flagged AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
islands AS (
    SELECT user_id, ts,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sess_id
    FROM flagged
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM islands GROUP BY user_id, sess_id
"""


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: attribute every event to the 2-hour maintenance windows
    that contain it. Windows are synthesized deterministically (one per
    event_id % 97 == 0, [ts, ts + 2h)); the binned equi-join formulation
    keeps the plan a hash join, never a nested loop."""
    from checkatron_spark.operators.rangejoin import range_join_binned

    ev = load_table(spark, "events", sf_dir)
    windows = ev.filter(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("window_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("w_end"),
    )
    points = ev.select("event_id", "ts")
    return range_join_binned(
        points, windows, point_ts="ts", start_ts="w_start", end_ts="w_end",
        bin_seconds=3600,
    ).select("event_id", "window_id")


EVENTS_RANGE_JOIN_SQL = """
WITH windows AS (
    SELECT event_id AS window_id, ts AS w_start, ts + INTERVAL 2 HOUR AS w_end
    FROM events WHERE event_id % 97 = 0
)
SELECT e.event_id, w.window_id
FROM events e JOIN windows w ON e.ts >= w.w_start AND e.ts < w.w_end
"""


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event picks up the value of the latest
    click by the same user at or before the purchase timestamp. Right side
    deduped to one row per (user, ts) — max event_id wins — so the match
    is deterministic (and DuckDB's native ASOF JOIN agrees)."""
    from checkatron_spark.operators.asof import asof_join

    ev = load_table(spark, "events", sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "ts", "value")
    )
    return asof_join(
        purchases, clicks, on="ts", by=["user_id"], value_cols=["value"]
    ).select("event_id", "user_id", "asof_value")


EVENTS_ASOF_SQL = """
WITH purchases AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
clicks AS (
    SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click'
    ) WHERE rn = 1
)
SELECT p.event_id, p.user_id, c.value AS asof_value
FROM purchases p
ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


PIT_BOUNDS = ("2024-01-11 00:00:00", "2024-01-21 00:00:00")


def q_events_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension join (operators/scd.py::pit_join): a 3-version
    per-user SCD2 history (deterministic tier = (user_id + version) % 3,
    boundaries at Jan 11/21) is attached to each event at event time, then
    rolled up per tier. The oracle computes the same tier analytically from
    ts — the Spark side runs the real interval-predicate join against the
    history table, so the driver checks the PIT machinery, not the shortcut."""
    from checkatron_spark.operators.scd import pit_join

    ev = load_table(spark, "events", sf_dir)
    # fresh scan for the history lineage: deriving it from ``ev`` would make
    # the PIT join an ambiguous self-join on user_id
    users = load_table(spark, "events", sf_dir).select("user_id").distinct()
    lo, hi = PIT_BOUNDS
    t = lambda s: F.lit(s).cast("timestamp")  # noqa: E731
    null_t = F.lit(None).cast("timestamp")
    versions = F.array(
        F.struct(F.lit(0).alias("v"), t("2024-01-01 00:00:00").alias("valid_from"), t(lo).alias("valid_to")),
        F.struct(F.lit(1).alias("v"), t(lo).alias("valid_from"), t(hi).alias("valid_to")),
        F.struct(F.lit(2).alias("v"), t(hi).alias("valid_from"), null_t.alias("valid_to")),
    )
    history = (
        users.select("user_id", F.explode(versions).alias("r"))
        .select(
            "user_id",
            F.pmod(F.col("user_id") + F.col("r.v"), F.lit(3)).alias("tier"),
            F.col("r.valid_from"),
            F.col("r.valid_to"),
        )
    )
    joined = pit_join(ev, history, ["user_id"], ts_col="ts")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("bigint")
    return (
        joined.select(F.col("dim_tier").alias("tier"), cents.alias("_c"))
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("_c").cast("double") / F.lit(100.0)).alias("sum_value"),
        )
    )


def events_pit_join_sql() -> str:
    lo, hi = PIT_BOUNDS
    return (
        "SELECT CAST((user_id + CASE "
        f"WHEN ts < TIMESTAMP '{lo}' THEN 0 "
        f"WHEN ts < TIMESTAMP '{hi}' THEN 1 ELSE 2 END) % 3 AS BIGINT) AS tier, "
        "COUNT(*) AS n_events, "
        "CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 "
        "AS sum_value FROM events GROUP BY 1"
    )


def q_sketch_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL, built into
    Spark): per-day user sketches plus a union-merged grand total — the
    materialization pattern that makes DISTINCT maintainable at 100 TB: store
    a sketch per partition/day, answer any date-range distinct by unioning
    sketches (bytes per day, no rescan), exactly the role maintain_sum_view
    plays for additive metrics. Sketch binaries are engine-specific, so the
    driver records a rows-only check; the accuracy contract (estimate ==
    exact at fixture cardinality, ~1.5% rsd beyond) is pinned in
    tests/test_approx.py."""
    ev = load_table(spark, "events", sf_dir)
    daily = (
        ev.select(F.to_date("ts").alias("day"), "user_id")
        .groupBy("day")
        .agg(
            F.hll_sketch_agg("user_id").alias("_sk"),
            F.count_distinct("user_id").alias("exact_users"),
        )
    )
    total = daily.agg(
        F.lit(None).cast("date").alias("day"),
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("est_users"),
        F.lit(None).cast("bigint").alias("exact_users"),
    )
    per_day = daily.select(
        "day",
        F.hll_sketch_estimate("_sk").alias("est_users"),
        "exact_users",
    )
    return per_day.unionByName(total)


# at the fixtures' cardinality the DataSketches HLL is still in exact
# (coupon-list) mode, so the sketch estimates are graded against the exact
# distinct counts; estimate accuracy beyond set mode is pinned in
# tests/test_approx.py
SKETCH_USERS_SQL = """
SELECT CAST(ts AS DATE) AS day,
       COUNT(DISTINCT user_id) AS est_users,
       COUNT(DISTINCT user_id) AS exact_users
FROM events GROUP BY 1
UNION ALL
SELECT CAST(NULL AS DATE) AS day,
       COUNT(DISTINCT user_id) AS est_users,
       CAST(NULL AS BIGINT) AS exact_users
FROM events
"""


def q_assign_doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense global doc-id assignment (the corpus-ingestion ordinal): the
    exact equal of ``ROW_NUMBER() OVER (ORDER BY doc_id)`` computed via
    sampled range buckets + bounded per-bucket windows instead of the
    single-partition sort Catalyst plans for a partition-less window — the
    shape that cannot run at 100 TB (operators/ids.py)."""
    from checkatron_spark.operators.ids import assign_dense_ids

    docs = load_table(spark, "documents", sf_dir)
    return assign_dense_ids(docs, "doc_id", buckets=32).select(
        "doc_id", "dense_id"
    )


ASSIGN_DOC_IDS_SQL = """
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS dense_id
FROM documents
"""


def q_doc_length_ordinals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ordinals under a NON-unique, NULL-bearing order column
    (raw text length; ties broken by doc_id) — exercises the two hard
    paths of assign_dense_ids: ties always share a range bucket, and NULL
    order values route to a leading bucket matching ASC NULLS FIRST."""
    from checkatron_spark.operators.ids import assign_dense_ids

    docs = load_table(spark, "documents", sf_dir).withColumn(
        "text_len", F.length("text")
    )
    return assign_dense_ids(
        docs, "text_len", ("doc_id",), buckets=32, id_name="length_rank"
    ).select("doc_id", "text_len", "length_rank")


DOC_LENGTH_ORDINALS_SQL = """
SELECT doc_id,
       CAST(length(text) AS INTEGER) AS text_len,
       CAST(ROW_NUMBER() OVER
            (ORDER BY length(text) ASC NULLS FIRST,
                      doc_id ASC NULLS FIRST) AS BIGINT)
           AS length_rank
FROM documents
"""


QUERIES = {
    "text_stats": q_text_stats,
    "lang_id_hist": q_lang_id_hist,
    "langid_confusion": q_langid_confusion,
    "normalize_corpus": q_normalize_corpus,
    "doc_fingerprints": q_fingerprints,
    "doc_rolling_fingerprints": q_rolling_fingerprints,
    "token_freq": q_token_freq,
    "doc_length_percentiles": q_doc_length_percentiles,
    "tfidf_top_terms": q_tfidf_top_terms,
    "curation_filter": q_curation_filter,
    "pii_scrub_profile": q_pii_scrub,
    "dedup_exact": q_dedup_exact,
    # resolves to the codegen twin (VERDICT r6 item 2); the UDTF form
    # q_split_sentences stays as the Spark-4 API demo, pinned equal
    "split_sentences_udtf": q_split_sentences_expr,
    "corpus_pipeline": q_corpus_pipeline,
    "curation_funnel": q_curation_funnel,
    "curation_drop_reasons": q_curation_drop_reasons,
    "dedup_keyed": q_dedup_keyed,
    "neardup_ngram_jaccard": q_neardup_jaccard,
    "dedup_incremental_status": q_dedup_incremental,
    "neardup_incremental_batch": q_neardup_incremental,
    "fuzzy_part_names": q_fuzzy_part_names,
    "decontaminate_corpus": q_decontaminate,
    "decontaminate_multi": q_decontaminate_multi,
    "decontaminate_bloom": q_decontaminate_bloom,
    "neardup_clusters": q_neardup_clusters,
    "neardup_method_audit": q_neardup_method_audit,
    "dedup_cluster_histogram": q_dedup_cluster_histogram,
    "neardup_degree_histogram": q_neardup_degree_histogram,
    "cross_source_overlap": q_cross_source_overlap,
    "dedup_corpus_e2e": q_dedup_corpus_e2e,
    "takedown_propagation": q_takedown_propagation,
    "dedup_reelect_after_takedown": q_dedup_reelect_after_takedown,
    "neardup_triangles": q_neardup_triangles,
    "source_lang_entropy": q_source_lang_entropy,
    "dedup_corpus_staged": q_dedup_corpus_staged,
    "dedup_canonical": q_dedup_canonical,
    "substring_dup_pairs": q_substring_dup_pairs,
    "decontaminate_semantic": q_decontaminate_semantic,
    "quality_linear_score": q_quality_linear,
    "unicode_profile": q_unicode_profile,
    "quality_percentile_gate": q_quality_percentile_gate,
    "dedup_corpus_substring": q_dedup_corpus_substring,
    "neardup_minhash_banded": q_neardup_minhash_banded,
    "split_by_cluster": q_split_by_cluster,
    "neardup_minhash_lsh": q_neardup_minhash,
    "neardup_simhash": q_neardup_simhash,
    "neardup_hybrid_semantic": q_neardup_hybrid,
    "ann_bruteforce_topk": q_ann_bruteforce,
    "ann_label_filtered_topk": q_ann_label_filtered,
    "kmeans_domains": q_kmeans_domains,
    "embedding_audit": q_embedding_audit,
    "embedding_drift": q_embedding_drift,
    "neardup_embedding_cosine": q_neardup_embedding,
    "ann_lsh_topk": q_ann_lsh,
    "ann_ivf_topk": q_ann_ivf,
    "ann_pq_adc_topk": q_ann_pq,
    "ann_pq_rerank_topk": q_ann_pq_rerank,
    "ann_ivfpq_topk": q_ann_ivfpq,
    "ann_hamming_topk": q_ann_hamming,
    "ann_ivf_grid_topk": q_ann_ivf_grid,
    "ann_lsh_banded_topk": q_ann_lsh_banded,
    "ann_ivf_incremental": q_ann_ivf_incremental,
    "ann_recall_audit": q_ann_recall_audit,
    "events_windowed": q_events_windowed,
    "events_json_extract": q_events_json,
    "events_sessionize": q_events_sessionize,
    "events_session_stats": q_events_session_stats,
    "sessions_overlap_promos": q_sessions_overlap_promos,
    "events_interarrival": q_events_interarrival,
    "events_ewma": q_events_ewma,
    "events_pit_join": q_events_pit_join,
    "sketch_users_daily": q_sketch_users_daily,
    "events_session_window": q_events_session_window,
    "events_resample_gapfill": q_events_resample,
    "label_centroids": q_label_centroids,
    "quantize_embeddings_int8": q_quantize_embeddings,
    "events_asof_join": q_events_asof,
    "events_range_join": q_events_range_join,
    "assign_doc_ids": q_assign_doc_ids,
    "doc_length_ordinals": q_doc_length_ordinals,
}


def oracles() -> dict[str, str]:
    return {
        "text_stats": TEXT_STATS_SQL,
        "lang_id_hist": lang_id_hist_sql(),
        "langid_confusion": langid_confusion_sql(),
        "normalize_corpus": NORMALIZE_CORPUS_SQL,
        "doc_fingerprints": FINGERPRINTS_SQL,
        "doc_rolling_fingerprints": ROLLING_FINGERPRINTS_SQL,
        "token_freq": TOKEN_FREQ_SQL,
        "doc_length_percentiles": DOC_LENGTH_PERCENTILES_SQL,
        "tfidf_top_terms": TFIDF_TOP_TERMS_SQL,
        "curation_filter": curation_filter_sql(),
        "pii_scrub_profile": pii_scrub_sql(),
        "dedup_exact": DEDUP_EXACT_SQL,
        "split_sentences_udtf": SPLIT_SENTENCES_SQL,
        "corpus_pipeline": corpus_pipeline_sql(),
        "curation_funnel": curation_funnel_sql(),
        "curation_drop_reasons": curation_drop_reasons_sql(),
        "dedup_keyed": DEDUP_KEYED_SQL,
        "neardup_ngram_jaccard": NEARDUP_JACCARD_SQL,
        "dedup_incremental_status": DEDUP_INCREMENTAL_SQL,
        "neardup_incremental_batch": NEARDUP_INCREMENTAL_SQL,
        "fuzzy_part_names": FUZZY_PART_SQL,
        "decontaminate_corpus": DECONTAMINATE_SQL,
        "decontaminate_multi": DECONTAMINATE_MULTI_SQL,
        "decontaminate_bloom": DECONTAMINATE_BLOOM_SQL,
        "neardup_clusters": NEARDUP_CLUSTERS_SQL,
        "neardup_method_audit": _method_audit_sql(),
        "dedup_cluster_histogram": DEDUP_CLUSTER_HIST_SQL,
        "neardup_degree_histogram": NEARDUP_DEGREE_HIST_SQL,
        "cross_source_overlap": CROSS_SOURCE_OVERLAP_SQL,
        "dedup_corpus_e2e": DEDUP_CORPUS_E2E_SQL,
        "takedown_propagation": TAKEDOWN_PROPAGATION_SQL,
        "dedup_reelect_after_takedown": DEDUP_REELECT_SQL,
        "neardup_triangles": NEARDUP_TRIANGLES_SQL,
        "source_lang_entropy": SOURCE_LANG_ENTROPY_SQL,
        # same oracle by design: the staged variant's output is provably
        # identical (exact-equal docs share shingle sets, so collapsing
        # them quotients the same components; min-of-group-mins == global
        # min) — the match IS the cross-implementation equality grade
        "dedup_corpus_staged": DEDUP_CORPUS_E2E_SQL,
        "dedup_canonical": DEDUP_CANONICAL_SQL,
        "substring_dup_pairs": SUBSTRING_DUP_SQL,
        "decontaminate_semantic": DECONTAMINATE_SEMANTIC_SQL,
        "quality_linear_score": QUALITY_LINEAR_SQL,
        "unicode_profile": unicode_profile_sql(),
        "quality_percentile_gate": quality_percentile_gate_sql(),
        "dedup_corpus_substring": DEDUP_CORPUS_SUBSTRING_SQL,
        "split_by_cluster": SPLIT_BY_CLUSTER_SQL,
        # probabilistic operators are tuned to measured recall 1.0 on the
        # fixtures and graded against their exact twins' SQL — a future red
        # here triages as LSH recall on a changed fixture, not engine parity
        # (banded: a pair at similarity s>0.7 escapes all 8 one-hash bands
        # with probability (1-s)^8, ~7e-5 at the threshold)
        "neardup_minhash_banded": MINHASH_BANDED_SQL,
        "neardup_minhash_lsh": MINHASH_ORACLE_SQL,
        "neardup_simhash": SIMHASH_ORACLE_SQL,
        "neardup_hybrid_semantic": neardup_hybrid_sql(),
        "ann_lsh_topk": ANN_BRUTEFORCE_SQL,
        "ann_ivf_topk": ANN_BRUTEFORCE_SQL,
        "ann_pq_adc_topk": pq_adc_sql(fit_sample=256),
        "ann_pq_rerank_topk": pq_adc_sql(rerank_shortlist=10,
                                         fit_sample=256),
        "ann_ivfpq_topk": ivfpq_sql(fit_sample=256),
        "ann_ivf_grid_topk": ivf_grid_sql(fit_sample=256),
        "ann_lsh_banded_topk": ann_lsh_banded_sql(band_bits=5),
        "ann_ivf_incremental": ivf_grid_incremental_sql(fit_sample=256),
        "ann_recall_audit": ann_recall_audit_sql(),
        "ann_hamming_topk": ann_hamming_sql(),
        "sketch_users_daily": SKETCH_USERS_SQL,
        "ann_bruteforce_topk": ANN_BRUTEFORCE_SQL,
        "ann_label_filtered_topk": ANN_LABEL_FILTERED_SQL,
        "kmeans_domains": _kmeans_sql(),
        "embedding_audit": EMBEDDING_AUDIT_SQL,
        "embedding_drift": EMBEDDING_DRIFT_SQL,
        "neardup_embedding_cosine": NEARDUP_EMBEDDING_SQL,
        "events_windowed": EVENTS_WINDOWED_SQL,
        "events_json_extract": EVENTS_JSON_SQL,
        "events_sessionize": EVENTS_SESSIONIZE_SQL,
        "events_session_stats": EVENTS_SESSION_STATS_SQL,
        "sessions_overlap_promos": SESSIONS_OVERLAP_PROMOS_SQL,
        "events_interarrival": EVENTS_INTERARRIVAL_SQL,
        "events_ewma": EVENTS_EWMA_SQL,
        "events_pit_join": events_pit_join_sql(),
        "events_session_window": EVENTS_SESSION_WINDOW_SQL,
        "events_resample_gapfill": EVENTS_RESAMPLE_SQL,
        "label_centroids": LABEL_CENTROIDS_SQL,
        "quantize_embeddings_int8": QUANTIZE_SQL,
        "events_asof_join": EVENTS_ASOF_SQL,
        "events_range_join": EVENTS_RANGE_JOIN_SQL,
        "assign_doc_ids": ASSIGN_DOC_IDS_SQL,
        "doc_length_ordinals": DOC_LENGTH_ORDINALS_SQL,
    }
