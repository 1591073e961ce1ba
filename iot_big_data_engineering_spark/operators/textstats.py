"""Text-analysis operators over the `documents` table (training-data
pipeline extension — BASELINE.json north star).

All implemented with built-in JVM expressions (split/transform/aggregate
lambdas — whole-stage codegen, no Python in the hot path), each with a
DuckDB oracle twin built from the SQL fragments in functions/text.py.

Scale notes: every query is embarrassingly parallel per document (narrow
transformations) followed by a low-cardinality aggregate — the ideal 100 TB
shape. Token lists are never shuffled; only compact per-doc scalars are.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..caching import track
from ..functions import hashing
from ..functions import text as X
from ..functions.rounding import fround
from ..registry import register
from ..sources.tables import load_table
from .dedup import (
    _NEAR_DUP_COMP_SQL,
    _docs_par,
    connected_components,
    near_dup_edges,
)

_R = 6


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# T1 — corpus token statistics per (lang, source)
# ---------------------------------------------------------------------------
@register(
    "t1_token_stats",
    oracle=f"""
WITH d AS (
  SELECT lang, source, n_chars,
         {X.sql_token_count("text")} AS token_count
  FROM documents
)
SELECT lang, source,
       count(*) AS doc_count,
       CAST(sum(token_count) AS BIGINT) AS total_tokens,
       round(avg(CAST(token_count AS DOUBLE)), {_R}) AS avg_tokens,
       max(token_count) AS max_tokens,
       min(token_count) AS min_tokens,
       round(avg(CAST(n_chars AS DOUBLE)), {_R}) AS avg_chars
FROM d
GROUP BY lang, source
""",
    doc="T1: token counting + corpus stats per (lang, source)",
)
def t1_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).withColumn("token_count", X.token_count("text"))
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("doc_count"),
        F.sum("token_count").alias("total_tokens"),
        fround(F.avg(F.col("token_count").cast("double")), _R).alias("avg_tokens"),
        F.max("token_count").alias("max_tokens"),
        F.min("token_count").alias("min_tokens"),
        fround(F.avg(F.col("n_chars").cast("double")), _R).alias("avg_chars"),
    )


# ---------------------------------------------------------------------------
# T2 — per-document quality scoring
# ---------------------------------------------------------------------------
@register(
    "t2_doc_quality",
    oracle=f"""
SELECT doc_id,
       {X.sql_token_count("text")} AS token_count,
       {X.sql_stopword_count("text")} AS stopword_count,
       round({X.sql_avg_token_length("text")}, {_R}) AS avg_token_len,
       round({X.sql_quality_score("text")}, {_R}) AS quality_score
FROM documents
""",
    doc="T2: length/stopword/word-length composite quality score per doc",
)
def t2_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        X.token_count("text").alias("token_count"),
        X.stopword_count("text").alias("stopword_count"),
        fround(X.avg_token_length("text"), _R).alias("avg_token_len"),
        fround(X.quality_score("text"), _R).alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# T3 — language-ID heuristic (stopword-ratio n-gram proxy) vs labels
# ---------------------------------------------------------------------------
@register(
    "t3_langid_confusion",
    oracle=f"""
WITH scored AS (
  SELECT lang,
         CASE WHEN CAST({X.sql_stopword_count("text")} AS DOUBLE)
                   / {X.sql_token_count("text")} >= 0.05
              THEN 'en_like' ELSE 'unknown' END AS predicted_lang
  FROM documents
)
SELECT lang, predicted_lang, count(*) AS doc_count
FROM scored
GROUP BY lang, predicted_lang
""",
    doc="T3: heuristic language-ID prediction × labeled-lang confusion counts",
)
def t3_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    ratio = X.stopword_count("text").cast("double") / X.token_count("text")
    return (
        d.select(
            "lang",
            F.when(ratio >= 0.05, "en_like").otherwise("unknown").alias(
                "predicted_lang"
            ),
        )
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("doc_count"))
    )


# ---------------------------------------------------------------------------
# T4 — document fingerprint (rolling polynomial hash). The oracle wraps
# the shared sql_fingerprint helper in a NULL-text CASE: Spark's
# sequence(1, length(NULL)) NULL-propagates the whole char fold, while
# DuckDB's range(1, NULL) is the EMPTY list and folds to the seed 0 —
# the CASE pins both engines to NULL. Scoped
# HERE, not in the helper: dp17 applies sql_fingerprint to tokens that
# are never NULL, and its registered oracle text stays byte-identical.
# ---------------------------------------------------------------------------
@register(
    "t4_fingerprints",
    oracle=f"""
SELECT doc_id,
       CASE WHEN text IS NULL THEN NULL
            ELSE {X.sql_fingerprint("text")} END AS fingerprint
FROM documents
""",
    doc="T4: rolling-hash fingerprint per document",
)
def t4_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", X.fingerprint("text").alias("fingerprint"))


# ---------------------------------------------------------------------------
# T5 — top terms per language by document frequency: the classic
# explode → groupBy(lang, token) → per-lang top-k text-corpus sweep. The
# heavy shuffle carries (lang, token) pairs; the window top-k runs on the
# already-aggregated (small) term table, not the exploded tokens.
# ---------------------------------------------------------------------------
@register(
    "t5_top_terms",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({X.sql_tokens("text")}) AS token FROM documents
),
term AS (
  SELECT lang, token,
         count(DISTINCT doc_id) AS doc_freq,
         count(*) AS term_freq
  FROM tok WHERE token <> '' GROUP BY lang, token
),
ranked AS (
  SELECT lang, token, doc_freq, term_freq,
         row_number() OVER (PARTITION BY lang
                            ORDER BY doc_freq DESC, term_freq DESC, token) AS rn
  FROM term
)
SELECT lang, token, doc_freq, term_freq, CAST(rn AS INTEGER) AS rn
FROM ranked WHERE rn <= 20
""",
    doc="T5: top-20 terms per language by document frequency",
)
def t5_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id", "lang", F.explode(X.tokens("text")).alias("token")
    ).filter(F.col("token") != "")
    term = tok.groupBy("lang", "token").agg(
        F.countDistinct("doc_id").alias("doc_freq"),
        F.count("*").alias("term_freq"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("doc_freq").desc(), F.col("term_freq").desc(), F.col("token")
    )
    return (
        term.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("lang", "token", "doc_freq", "term_freq", "rn")
    )


# ---------------------------------------------------------------------------
# T6 — TF-IDF top terms per document. Two aggregation passes over the
# exploded token table (term frequency per doc; document frequency per
# term) joined back — the standard distributed tf-idf shape: both passes
# are partial+final hash aggregates on (doc, token) / (token) keys, and
# the df table (≤ vocabulary size) broadcasts.
# Cross-engine note: idf uses ln(N/df) computed as log(x) of an exact
# integer ratio in DOUBLE on both engines; scores round to 6 dp before
# ranking, and rank ties break on the token string, so an ULP divergence
# in libm's log cannot change the compared output.
# ---------------------------------------------------------------------------
@register(
    "t6_tfidf_top_terms",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({X.sql_tokens("text")}) AS token
  FROM documents WHERE doc_id < 200
),
tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM tok WHERE token <> '' GROUP BY doc_id, token
),
df AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token
),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
scored AS (
  SELECT tf.doc_id, tf.token,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
),
ranked AS (
  SELECT doc_id, token, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, token) AS rn
  FROM scored
)
SELECT doc_id, token, tfidf, CAST(rn AS INTEGER) AS rn
FROM ranked WHERE rn <= 5
""",
    doc="T6: tf-idf top-5 terms per document (two-pass agg; df join unhinted)",
)
def t6_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    tok = d.select("doc_id", F.explode(X.tokens("text")).alias("token")).filter(
        F.col("token") != ""
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        # df is one row per distinct token — vocabulary grows with the
        # corpus, so no broadcast hint (both sides already hash on token);
        # n is a 1-row scalar and keeps its hint
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            fround(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "token", "tfidf", "rn")
    )


# ---------------------------------------------------------------------------
# T7 — documents profiling: per-column null/distinct/min/max stats in ONE
# pass (all aggregates in a single partial+final hash agg; the transpose
# to one-row-per-column happens on the 1-row aggregate via stack()). At
# 100 TB the exact countDistincts would switch to approx_count_distinct —
# but a profile is precisely where exact cardinalities are worth one pass.
# ---------------------------------------------------------------------------
_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


@register(
    "t7_documents_profile",
    oracle="""
WITH s AS (
  SELECT count(*) AS n_rows,
"""
    + ",\n".join(
        f"""    count(CASE WHEN {c} IS NULL THEN 1 END) AS {c}_nulls,
    count(DISTINCT {c}) AS {c}_distinct,
    CAST(min({c}) AS VARCHAR) AS {c}_min,
    CAST(max({c}) AS VARCHAR) AS {c}_max"""
        for c in _PROFILE_COLS
    )
    + """
  FROM documents
)
"""
    + "\nUNION ALL\n".join(
        f"SELECT '{c}' AS column, n_rows, {c}_nulls AS n_nulls, "
        f"{c}_distinct AS n_distinct, {c}_min AS min_value, "
        f"{c}_max AS max_value FROM s"
        for c in _PROFILE_COLS
    ),
    doc="T7: one-pass per-column profile (nulls, distincts, min/max)",
)
def t7_documents_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}_nulls"),
            F.countDistinct(c).alias(f"{c}_distinct"),
            F.min(c).cast("string").alias(f"{c}_min"),
            F.max(c).cast("string").alias(f"{c}_max"),
        ]
    one = d.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}_nulls, {c}_distinct, {c}_min, {c}_max"
        for c in _PROFILE_COLS
    )
    return one.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(column, n_nulls, n_distinct, min_value, max_value)",
        "n_rows",
    ).select("column", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value")


def _fertility_ratio():
    """Per-document subword-per-word ratio with the ANSI divide-by-zero
    guard (Spark 4 raises DIVIDE_BY_ZERO by default): a document whose
    whitespace-token count is 0 contributes NULL — avg() skips NULLs
    identically in Spark and DuckDB, and an all-zero group yields NULL
    fertility on both sides. The oracle carries the identical CASE."""
    return F.when(
        F.col("ws_count") > 0,
        F.col("bpe_count").cast("double") / F.col("ws_count"),
    )


# ---------------------------------------------------------------------------
# T8 — BPE-ish subword token stats per (lang, source): the second counter
# of the token-counting pair (whitespace words in t1, bounded subword
# units here), plus the subword-per-word fertility ratio — the number a
# training-data pipeline budgets context length with.
# ---------------------------------------------------------------------------
@register(
    "t8_bpe_token_stats",
    oracle=f"""
WITH d AS (
  SELECT lang, source,
         {X.sql_bpe_token_count("text")} AS bpe_count,
         {X.sql_token_count("text")} AS ws_count
  FROM documents
)
SELECT lang, source,
       count(*) AS doc_count,
       CAST(sum(bpe_count) AS BIGINT) AS total_bpe_tokens,
       round(avg(CAST(bpe_count AS DOUBLE)), {_R}) AS avg_bpe_tokens,
       round(avg(CAST(ws_count AS DOUBLE)), {_R}) AS avg_ws_tokens,
       round(avg(CASE WHEN ws_count > 0
                      THEN CAST(bpe_count AS DOUBLE) / ws_count END),
             {_R}) AS fertility
FROM d
GROUP BY lang, source
""",
    doc="T8: BPE-ish subword counting + fertility vs whitespace words",
)
def t8_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fertility uses _fertility_ratio() (module level below) — the ANSI
    # divide-by-zero guard is factored out so tests can drive the
    # ws_count == 0 branch directly (unreachable through the current
    # text helpers, where token_count('') is 1 by construction).
    d = _docs(spark, sf_dir).select(
        "lang",
        "source",
        X.bpe_token_count("text").alias("bpe_count"),
        X.token_count("text").alias("ws_count"),
    )
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("doc_count"),
        F.sum("bpe_count").cast("bigint").alias("total_bpe_tokens"),
        fround(F.avg(F.col("bpe_count").cast("double")), _R).alias("avg_bpe_tokens"),
        fround(F.avg(F.col("ws_count").cast("double")), _R).alias("avg_ws_tokens"),
        fround(F.avg(_fertility_ratio()), _R).alias("fertility"),
    )


# ---------------------------------------------------------------------------
# DP1 — the composed training-data cleaning pass: quality scoring (t2) +
# language-ID (t3) + length gate + exact dedup keep-first (d2), end to end
# in ONE declarative plan. This is the canonical LLM-corpus pipeline
# shape; expressing it as a single DataFrame query (instead of chained
# materialized stages) lets Catalyst fuse the scoring projections into
# the scan and run one shuffle total (the md5 dedup window). At 100 TB
# the md5 partition key is uniformly distributed, so the dedup shuffle is
# skew-free by construction.
# ---------------------------------------------------------------------------
_DP1_MIN_TOKENS = 10
_DP1_MIN_QUALITY = 0.5
# the oracle twin of gate_and_dedup over a `scored` CTE (doc_id, text,
# token_count, q, ...): a CTE list that ends in ranked(rn, dup_count);
# the survivors are its rn = 1 rows
_DP1_GATE_SQL = f"""gated AS (
  SELECT * FROM scored
  WHERE token_count >= {_DP1_MIN_TOKENS} AND q >= {_DP1_MIN_QUALITY}
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn,
         CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS dup_count
  FROM gated
)"""


def gate_and_dedup(scored: DataFrame) -> DataFrame:
    """dp1's cleaning gate and exact dedup over a scored (doc_id, text,
    token_count, q, ...) frame: keeps docs with token_count >=
    _DP1_MIN_TOKENS and q >= _DP1_MIN_QUALITY, then the lowest doc_id
    per md5(text), with dup_count = the gated docs sharing that text."""
    from pyspark.sql import Window

    gated = scored.filter(
        (F.col("token_count") >= _DP1_MIN_TOKENS)
        & (F.col("q") >= _DP1_MIN_QUALITY)
    ).withColumn("text_md5", F.md5("text"))
    w = Window.partitionBy("text_md5")
    ranked = gated.withColumn(
        "rn", F.row_number().over(w.orderBy("doc_id"))
    ).withColumn("dup_count", F.count("*").over(w))
    return ranked.filter(F.col("rn") == 1)


@register(
    "dp1_corpus_clean",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang, text,
         {X.sql_token_count("text")} AS token_count,
         {X.sql_quality_score("text")} AS q,
         CASE WHEN CAST({X.sql_stopword_count("text")} AS DOUBLE)
                   / {X.sql_token_count("text")} >= 0.05
              THEN 'en_like' ELSE 'unknown' END AS predicted_lang
  FROM documents
),
{_DP1_GATE_SQL}
SELECT doc_id, lang, predicted_lang, token_count,
       round(q, {_R}) AS quality_score, dup_count
FROM ranked WHERE rn = 1
""",
    doc="DP1: quality + lang-ID + length gate + exact dedup, one plan",
)
def dp1_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ratio = X.stopword_count("text").cast("double") / X.token_count("text")
    scored = d.select(
        "doc_id",
        "lang",
        "text",
        X.token_count("text").alias("token_count"),
        X.quality_score("text").alias("q"),
        F.when(ratio >= 0.05, "en_like").otherwise("unknown").alias(
            "predicted_lang"
        ),
    )
    return gate_and_dedup(scored).select(
        "doc_id",
        "lang",
        "predicted_lang",
        "token_count",
        fround(F.col("q"), _R).alias("quality_score"),
        "dup_count",
    )


# ---------------------------------------------------------------------------
# T9 — PII-pattern scan: per-language counts of email / URL / phone /
# long-numeric-id matches — the redaction-triage report every
# training-data pipeline runs before release. Patterns restrict to
# constructs with identical semantics in Java regex (Spark) and RE2
# (DuckDB): character classes, bounded quantifiers, alternation, ASCII
# word boundaries (the BPE_PATTERN precedent, functions/text.py).
# Counting is regexp_count per doc (codegen, embarrassingly parallel);
# the shuffle carries one scalar row per doc. A corpus with zero matches
# is a meaningful (and hash-checked) result: the report proves absence.
# ---------------------------------------------------------------------------
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_URL = r"https?://[^\s]+"
_PII_PHONE = r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"
_PII_LONG_ID = r"\b[0-9]{9,}\b"


@register(
    "t9_pii_scan",
    oracle=f"""
WITH per_doc AS (
  SELECT lang,
         len(regexp_extract_all(text, '{_PII_EMAIL}')) AS emails,
         len(regexp_extract_all(text, '{_PII_URL}')) AS urls,
         len(regexp_extract_all(text, '{_PII_PHONE}')) AS phones,
         len(regexp_extract_all(text, '{_PII_LONG_ID}')) AS long_ids
  FROM documents
)
SELECT lang,
       count(*) AS doc_count,
       CAST(sum(CASE WHEN emails + urls + phones + long_ids > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
       CAST(sum(emails) AS BIGINT) AS total_emails,
       CAST(sum(urls) AS BIGINT) AS total_urls,
       CAST(sum(phones) AS BIGINT) AS total_phones,
       CAST(sum(long_ids) AS BIGINT) AS total_long_ids
FROM per_doc
GROUP BY lang
ORDER BY lang
""",
    doc="T9: PII-pattern scan (email/url/phone/long-id) per language",
)
def t9_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    def cnt(pat: str) -> F.Column:
        return F.regexp_count(F.col("text"), F.lit(pat))

    per_doc = d.select(
        "lang",
        cnt(_PII_EMAIL).alias("emails"),
        cnt(_PII_URL).alias("urls"),
        cnt(_PII_PHONE).alias("phones"),
        cnt(_PII_LONG_ID).alias("long_ids"),
    )
    any_pii = (
        F.col("emails") + F.col("urls") + F.col("phones") + F.col("long_ids")
        > 0
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("doc_count"),
            F.sum(F.when(any_pii, 1).otherwise(0)).alias("docs_with_pii"),
            F.sum("emails").alias("total_emails"),
            F.sum("urls").alias("total_urls"),
            F.sum("phones").alias("total_phones"),
            F.sum("long_ids").alias("total_long_ids"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# DP2 — dedup-aware corpus cleaning: dp1's gates composed with NEAR-dup
# removal. Stage order (documented semantics): (1) near-dup clustering
# over the FULL corpus via the d8 prefix join + connected components
# (d7_full's path) keeps only cluster canonicals (min doc_id) and
# unclustered docs; (2) dp1's quality/length gates; (3) exact-hash dedup
# keep-first. Clustering runs BEFORE the gates so a cluster's canonical
# is stable under gate-threshold changes (the alternative — canonical
# among gate survivors — re-elects canonicals whenever thresholds move).
# Scale: stage 1 is d8+CC (near-linear, bucketed); stages 2-3 are one
# scan + one md5 window — nothing quadratic anywhere.
# ---------------------------------------------------------------------------
# dp2's cleaning chain in oracle SQL (dp7 packs its survivors): a WITH
# head whose CTE list ends in ranked(rn, dup_count, was_clustered)
_DP2_CLEAN_SQL = f"""WITH RECURSIVE {_NEAR_DUP_COMP_SQL},
survivors AS (
  SELECT d.*, c.doc_id IS NOT NULL AS was_clustered
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
  WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
),
scored AS (
  SELECT doc_id, lang, text, was_clustered,
         {X.sql_token_count("text")} AS token_count,
         {X.sql_quality_score("text")} AS q
  FROM survivors
),
{_DP1_GATE_SQL}"""


@register(
    "dp2_corpus_clean_neardup",
    oracle=f"""
{_DP2_CLEAN_SQL}
SELECT doc_id, lang, token_count,
       round(q, {_R}) AS quality_score, dup_count, was_clustered
FROM ranked WHERE rn = 1
""",
    doc="DP2: near-dup canonical filter + quality gates + exact dedup",
)
def dp2_corpus_clean_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    edges = near_dup_edges(_docs_par(spark, sf_dir))
    comp = connected_components(edges).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    survivors = (
        d.join(comp, "doc_id", "left")
        .withColumn("was_clustered", F.col("cluster_id").isNotNull())
        .filter(
            F.col("cluster_id").isNull()
            | (F.col("cluster_id") == F.col("doc_id"))
        )
    )
    scored = survivors.select(
        "doc_id",
        "lang",
        "text",
        "was_clustered",
        X.token_count("text").alias("token_count"),
        X.quality_score("text").alias("q"),
    )
    return gate_and_dedup(scored).select(
        "doc_id",
        "lang",
        "token_count",
        fround(F.col("q"), _R).alias("quality_score"),
        "dup_count",
        "was_clustered",
    )


# ---------------------------------------------------------------------------
# T10 — intra-document repetition profile (Gopher/C4-style filters).
# Large-scale corpus cleaning flags documents whose content is internally
# repetitive (boilerplate, templated spam, degenerate generations): the
# published heuristics are the duplicate-word fraction, the fraction of
# the text covered by the single most frequent n-gram, and the fraction
# covered by any repeated n-gram. Reference parity: the reference has no
# repetition operator — this extends its quality-scoring surface
# (src/spark/batch/SensorDataAnalytics.scala:71-83 computes per-group
# quality aggregates; same shape, text domain).
#
# Scale shape: one scan; bigram occurrences are exploded and reduced on
# (doc_id, gram) — partial aggregation combines map-side, so the shuffle
# carries one row per DISTINCT bigram per document, not one per token.
# The per-doc scalar table then equi-joins back on doc_id (co-partitioned
# by the agg's own shuffle; no broadcast hint — both sides scale with the
# corpus). This is the one textstats query that shuffles gram rows; every
# threshold is compared on cross-engine-rounded values so the boolean
# flag is deterministic.
# ---------------------------------------------------------------------------
_T10_DUP_WORD = 0.65
_T10_TOP_BIGRAM = 0.12
_T10_DUP_BIGRAM = 0.2


_T10_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, {X.sql_tokens("text")} AS toks FROM documents
),
big AS (
  SELECT doc_id, unnest({X.sql_ngrams_from_tokens("toks", 2)}) AS gram FROM t
),
perg AS (
  SELECT doc_id, gram, count(*) AS c FROM big GROUP BY doc_id, gram
),
perd AS (
  SELECT doc_id,
         sum(c) AS total_bigrams,
         max(c) AS top_bigram,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_occ
  FROM perg GROUP BY doc_id
),
m AS (
  SELECT t.doc_id, t.lang,
         CAST(len(toks) AS INTEGER) AS n_words,
         round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), {_R})
           AS dup_word_frac,
         round(CAST(top_bigram AS DOUBLE) / total_bigrams, {_R})
           AS top_bigram_frac,
         round(CAST(dup_occ AS DOUBLE) / total_bigrams, {_R})
           AS dup_bigram_frac
  FROM t JOIN perd ON t.doc_id = perd.doc_id
)
SELECT m.*,
       (dup_word_frac > {_T10_DUP_WORD}
        OR top_bigram_frac > {_T10_TOP_BIGRAM}
        OR dup_bigram_frac > {_T10_DUP_BIGRAM}) AS repetitive
FROM m
"""


def repetition_profile(docs: DataFrame) -> DataFrame:
    """Per-document repetition metrics over a (doc_id, lang, text) frame.

    Single scan, no join: the per-doc scalars (lang, n_words, n_distinct)
    are functionally dependent on doc_id, so they ride along as grouping
    keys through both aggregation levels instead of being re-derived from
    a second scan and equi-joined back — the combiner still reduces on
    (doc_id, gram), the keys just carry three small extra values.
    Documents with fewer than two tokens have no bigrams and drop out
    (matching the oracle's inner join)."""
    base = docs.withColumn("toks", X.tokens("text")).select(
        "doc_id",
        "lang",
        F.size("toks").alias("n_words"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        "toks",
    )
    grams = base.select(
        "doc_id",
        "lang",
        "n_words",
        "n_distinct",
        F.explode(X.ngrams_from_tokens(F.col("toks"), 2)).alias("gram"),
    )
    keys = ["doc_id", "lang", "n_words", "n_distinct"]
    per_gram = grams.groupBy(*keys, "gram").agg(F.count("*").alias("c"))
    per_doc = per_gram.groupBy(*keys).agg(
        F.sum("c").alias("total_bigrams"),
        F.max("c").alias("top_bigram"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))).alias(
            "dup_occ"
        ),
    )
    out = per_doc.select(
        "doc_id",
        "lang",
        "n_words",
        fround(
            F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_words"),
            _R,
        ).alias("dup_word_frac"),
        fround(
            F.col("top_bigram").cast("double") / F.col("total_bigrams"), _R
        ).alias("top_bigram_frac"),
        fround(
            F.col("dup_occ").cast("double") / F.col("total_bigrams"), _R
        ).alias("dup_bigram_frac"),
    )
    return out.withColumn(
        "repetitive",
        (F.col("dup_word_frac") > _T10_DUP_WORD)
        | (F.col("top_bigram_frac") > _T10_TOP_BIGRAM)
        | (F.col("dup_bigram_frac") > _T10_DUP_BIGRAM),
    )


@register(
    "t10_repetition_profile",
    oracle=_T10_ORACLE,
    doc="T10: Gopher/C4-style intra-document repetition metrics + flag",
)
def t10_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_profile(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# T11 — inverted index build (per-language term → postings). The indexing
# step behind retrieval-augmented pipelines and corpus search: document
# frequency, total occurrences, and a CAPPED champion posting list per
# term. Reference parity: none (extends the text surface per the
# LLM-pipeline mandate).
#
# Scale shape: tokens explode to (lang, term, doc_id) and reduce twice on
# the same key family — per-(term, doc) term frequency first (map-side
# combine collapses repeats within a doc before the wire), then the
# per-term stats. The posting list is NOT collect_list-then-truncate: a
# hot term ("the") would materialize the whole corpus's doc ids in one
# aggregation buffer. Instead row_number over (lang, term) ORDER BY
# doc_id — an external sort, spillable at any term frequency — keeps only
# the first K postings per term BEFORE any list is built (the standard
# champion-list construction), and the stats aggregate runs separately
# with full combining. Both branches shuffle on the same (lang, term)
# key, so the final equi-join is co-partitioned.
# ---------------------------------------------------------------------------
_T11_K = 20


@register(
    "t11_inverted_index",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, {X.sql_tokens("text")} AS toks FROM documents
),
tok AS (
  SELECT doc_id, lang, unnest(toks) AS term FROM t
),
per_doc AS (
  SELECT lang, term, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY lang, term, doc_id
),
stats AS (
  SELECT lang, term,
         CAST(count(*) AS BIGINT) AS doc_freq,
         CAST(sum(tf) AS BIGINT) AS total_occurrences
  FROM per_doc GROUP BY lang, term
),
ranked AS (
  SELECT lang, term, doc_id,
         row_number() OVER (PARTITION BY lang, term ORDER BY doc_id) AS rn
  FROM per_doc
),
champions AS (
  SELECT lang, term,
         string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
           AS top_doc_ids
  FROM ranked WHERE rn <= {_T11_K} GROUP BY lang, term
)
SELECT s.lang, s.term, s.doc_freq, s.total_occurrences, c.top_doc_ids
FROM stats s JOIN champions c ON s.lang = c.lang AND s.term = c.term
""",
    doc="T11: inverted-index build — df, ctf, capped champion postings",
)
def t11_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).withColumn("toks", X.tokens("text"))
    tok = d.select(
        "doc_id", "lang", F.explode(F.col("toks")).alias("term")
    )
    per_doc = tok.groupBy("lang", "term", "doc_id").agg(
        F.count("*").alias("tf")
    )
    stats = per_doc.groupBy("lang", "term").agg(
        F.count("*").alias("doc_freq"),
        F.sum("tf").alias("total_occurrences"),
    )
    w = Window.partitionBy("lang", "term").orderBy("doc_id")
    champions = (
        per_doc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _T11_K)
        .groupBy("lang", "term")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("top_doc_ids")
        )
    )
    return stats.join(champions, ["lang", "term"])


# ---------------------------------------------------------------------------
# DP3 — training-mix construction (balanced source downsampling). Corpus
# assembly rebalances heterogeneous sources to a target mix; here every
# source downsamples to 60% of the smallest source's count (pure integer
# arithmetic: (min·3) div 5 — the 60% keeps the gate exercised even on a
# perfectly balanced corpus, where a min-count target degenerates to
# keep-everything). Unlike mm7's FIXED per-stratum rates, the rates here
# are DATA-DEPENDENT (target/count per source), which pins the two-pass
# scale shape: a tiny per-source count aggregate, broadcast back over the
# corpus (source is a bounded enum — sanctioned broadcast), then a
# map-side integer hash gate `h32(doc_id) mod n_s < t` — membership is
# exact integer arithmetic, no float rate comparison, identical in both
# engines, and the sample is reproducible row-locally (a re-run,
# backfill, or shard-local executor makes the same keep/drop call with
# no coordination). h32 is the shared overflow-exact chunked Knuth
# multiply (functions/hashing.py): the r5–r7 form multiplied doc_id*K
# naively, which wraps/throws/promotes divergently across engines for
# doc_id ≥ ~3.5e9 — exactly the billions-of-docs scale a training-mix
# sampler targets (VERDICT r7 demand #3).
# ---------------------------------------------------------------------------
_DP3_HASH_SQL = hashing.knuth_hash32_sql("d.doc_id")


@register(
    "dp3_training_mix",
    oracle=f"""
WITH d AS (
  SELECT doc_id, source, {X.sql_token_count("text")} AS token_count
  FROM documents
),
counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS source_docs FROM d GROUP BY source
),
targets AS (
  SELECT source, source_docs,
         greatest(1, (min(source_docs) OVER () * 3) // 5) AS target_docs
  FROM counts
),
rated AS (
  SELECT d.doc_id, d.source, d.token_count, t.source_docs, t.target_docs,
         ({_DP3_HASH_SQL} % t.source_docs) < t.target_docs AS picked
  FROM d JOIN targets t ON d.source = t.source
)
SELECT source, source_docs, target_docs,
       CAST(sum(CASE WHEN picked THEN 1 ELSE 0 END) AS BIGINT) AS sampled_docs,
       CAST(sum(CASE WHEN picked THEN token_count ELSE 0 END) AS BIGINT)
         AS sampled_tokens,
       round(CAST(sum(CASE WHEN picked THEN 1 ELSE 0 END) AS DOUBLE)
             / source_docs, {_R}) AS achieved_rate
FROM rated
GROUP BY source, source_docs, target_docs
""",
    doc="DP3: balanced training-mix sampling with data-dependent rates",
)
def dp3_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).select(
        "doc_id", "source", X.token_count("text").alias("token_count")
    )
    counts = d.groupBy("source").agg(F.count("*").alias("source_docs"))
    targets = (
        counts.withColumn(
            "min_docs",
            F.min("source_docs").over(Window.partitionBy(F.lit(1))),
        )
        .withColumn(
            "target_docs",
            F.greatest(
                F.lit(1).cast("long"), F.expr("(min_docs * 3) div 5")
            ),
        )
        .drop("min_docs")
    )
    rated = d.join(F.broadcast(targets), "source").withColumn(
        "picked",
        F.pmod(hashing.knuth_hash32(F.col("doc_id")), F.col("source_docs"))
        < F.col("target_docs"),
    )
    return rated.groupBy("source", "source_docs", "target_docs").agg(
        F.sum(F.when(F.col("picked"), 1).otherwise(0)).alias("sampled_docs"),
        F.sum(F.when(F.col("picked"), F.col("token_count")).otherwise(0))
        .cast("bigint")
        .alias("sampled_tokens"),
        fround(
            F.sum(F.when(F.col("picked"), 1).otherwise(0)).cast("double")
            / F.col("source_docs"),
            _R,
        ).alias("achieved_rate"),
    )


# ---------------------------------------------------------------------------
# DP4 — cleaning audit report. Production corpus cleaning ships a removal
# ledger next to the cleaned output: per (lang, reason) counts of what
# each gate dropped, for pipeline observability and gate tuning. The
# gates and their order mirror dp1 exactly (length → quality → exact-hash
# keep-first dedup), so kept-counts here reconcile with dp1's output by
# construction. Scale shape: one scan, one window shuffle keyed on
# (gate-passing, md5(text)) — dedup rank only sorts within duplicate
# groups — then a tiny (lang, reason) aggregate.
# ---------------------------------------------------------------------------
@register(
    "dp4_cleaning_audit",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang, text,
         {X.sql_token_count("text")} AS token_count,
         {X.sql_quality_score("text")} AS q
  FROM documents
),
flagged AS (
  SELECT *,
         (token_count >= {_DP1_MIN_TOKENS} AND q >= {_DP1_MIN_QUALITY})
           AS passed
  FROM scored
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY passed, md5(text)
                            ORDER BY doc_id) AS rn
  FROM flagged
),
reasons AS (
  SELECT lang, token_count,
         CASE WHEN token_count < {_DP1_MIN_TOKENS} THEN 'short'
              WHEN q < {_DP1_MIN_QUALITY} THEN 'low_quality'
              WHEN rn > 1 THEN 'duplicate'
              ELSE 'kept' END AS reason
  FROM ranked
)
SELECT lang, reason,
       CAST(count(*) AS BIGINT) AS doc_count,
       CAST(sum(token_count) AS BIGINT) AS tokens_total
FROM reasons
GROUP BY lang, reason
""",
    doc="DP4: per-(lang, reason) removal ledger for the dp1 cleaning gates",
)
def dp4_cleaning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    scored = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        "text",
        X.token_count("text").alias("token_count"),
        X.quality_score("text").alias("q"),
    )
    flagged = scored.withColumn(
        "passed",
        (F.col("token_count") >= _DP1_MIN_TOKENS)
        & (F.col("q") >= _DP1_MIN_QUALITY),
    )
    w = Window.partitionBy("passed", F.md5("text")).orderBy("doc_id")
    ranked = flagged.withColumn("rn", F.row_number().over(w))
    reasons = ranked.select(
        "lang",
        "token_count",
        F.when(F.col("token_count") < _DP1_MIN_TOKENS, "short")
        .when(F.col("q") < _DP1_MIN_QUALITY, "low_quality")
        .when(F.col("rn") > 1, "duplicate")
        .otherwise("kept")
        .alias("reason"),
    )
    return reasons.groupBy("lang", "reason").agg(
        F.count("*").alias("doc_count"),
        F.sum("token_count").cast("bigint").alias("tokens_total"),
    )


# ---------------------------------------------------------------------------
# T12 — corpus-frequency rarity score: the exact-arithmetic form of
# unigram-LM quality filtering (CCNet-style). A doc dominated by tokens
# that are rare IN THIS CORPUS is noise/gibberish with high probability;
# production pipelines score this with mean log-prob under a unigram LM.
# Logs are kept OUT of the hash-compared surface deliberately — libm
# log() is not bit-identical across engines and per-doc float sums are
# summation-order-dependent — so the score is expressed in exact integer
# arithmetic with identical filtering power: per-doc mean corpus
# frequency (Σ tf / n, int64 sums) and the fraction of tokens whose
# relative frequency is below 1/10,000 (tf · 10000 < total — integers,
# scale-invariant: the same threshold MEANS the same thing at any corpus
# size, like j11b's mean-relative cutoff).
#
# Plan shape at 100 TB: explode → vocab-sized frequency agg (map-side
# combined) → join back on token (vocab grows ~Heaps' law — NO broadcast
# hint; AQE decides) → per-doc integer agg. Token lists never shuffle;
# only (doc_id, token) pairs and per-doc scalars do.
# ---------------------------------------------------------------------------
_RARE_PPM = 10_000  # "rare" ⟺ tf/total < 1/10000


@register(
    "t12_rarity_score",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({X.sql_tokens("text")}) AS token FROM documents
),
freq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY token
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tok)
SELECT doc_id,
       count(*) AS n_tokens,
       round(CAST(sum(tf) AS DOUBLE) / count(*), {_R}) AS avg_token_freq,
       round(CAST(count(CASE WHEN tf * {_RARE_PPM} < total THEN 1 END) AS DOUBLE)
             / count(*), {_R}) AS rare_ratio,
       CAST(count(CASE WHEN tf * {_RARE_PPM} < total THEN 1 END) AS DOUBLE)
         / count(*) > 0.2 AS low_quality
FROM tok JOIN freq USING (token), tot
GROUP BY doc_id, total
""",
    doc="T12: unigram-rarity quality score (exact-integer LM-filter analog)",
)
def t12_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = _docs(spark, sf_dir).select(
        "doc_id", F.explode(X.tokens("text")).alias("token")
    )
    # deliberately NOT persisted: the exploded (doc_id, token) table is
    # corpus_tokens-sized — caching it at 100 TB costs more than the
    # map-side re-tokenization the second branch pays (both branches are
    # narrow up to their own aggregates)
    freq = tok.groupBy("token").agg(F.count("*").alias("tf"))
    total = tok.agg(F.count("*").alias("total"))
    rare = F.col("tf") * _RARE_PPM < F.col("total")
    return (
        tok.join(freq, "token")
        .join(F.broadcast(total))  # 1-row scalar aggregate
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            fround(F.sum("tf").cast("double") / F.count("*"), _R).alias(
                "avg_token_freq"
            ),
            fround(
                F.count(F.when(rare, 1)).cast("double") / F.count("*"), _R
            ).alias("rare_ratio"),
            (
                F.count(F.when(rare, 1)).cast("double") / F.count("*") > 0.2
            ).alias("low_quality"),
        )
    )


# ---------------------------------------------------------------------------
# DP5 — sequence packing plan (concat-and-chunk): lay the corpus out as
# fixed-length training sequences. Per language, documents concatenate in
# doc_id order and split into 2048-token chunks; a document may straddle
# chunk boundaries (the standard pretraining packing — no padding, full
# sequences). The plan reports, per (lang, seq), the fragmentation facts
# a training run cares about: how many documents the sequence touches,
# how many documents START in it, whether its first tokens are a
# carry-over tail, and the exact fill.
#
# The running token offset is the two-phase distributed prefix sum
# (functions/prefix.py, shared with mm6) — NOT a per-language window,
# which would be |langs| single-task sorts at 100 TB; the oracle states
# the naive window form, which the two-phase form equals bit-for-bit.
# The doc → chunk expansion is bounded: each doc lands in
# ceil(tokens/B)+1 chunks at most, so the exploded row count is
# O(corpus_tokens / B + n_docs).
# ---------------------------------------------------------------------------
_DP5_SEQ_TOKENS = 2048


def _dp5_pack_sql(src: str) -> str:
    """The oracle twin of pack_sequences' placement and span explode over
    the (doc_id, lang, text) relation ``src``: a CTE list that ends in
    x(lang, doc_id, tok, start_tok, first_seq, seq_id), one row per
    (doc, sequence it touches); _DP5_PACK_AGG_SQL aggregates it."""
    return f"""d AS (
  SELECT doc_id, lang, {X.sql_bpe_token_count("text")} AS tok
  FROM {src}
  WHERE {X.sql_bpe_token_count("text")} > 0
),
placed AS (
  SELECT doc_id, lang, tok,
         CAST(sum(tok) OVER w - tok AS BIGINT) AS start_tok
  FROM d
  WINDOW w AS (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
),
spans AS (
  SELECT lang, doc_id, tok, start_tok,
         start_tok // {_DP5_SEQ_TOKENS} AS first_seq,
         (start_tok + tok - 1) // {_DP5_SEQ_TOKENS} AS last_seq
  FROM placed
),
x AS (
  SELECT lang, doc_id, tok, start_tok, first_seq,
         unnest(generate_series(first_seq, last_seq)) AS seq_id
  FROM spans
)"""


_DP5_PACK_AGG_SQL = f"""SELECT lang, seq_id,
       count(*) AS n_docs,
       count(CASE WHEN first_seq = seq_id THEN 1 END) AS n_starts,
       min(start_tok) < seq_id * {_DP5_SEQ_TOKENS} AS starts_with_carry,
       CAST(sum(least(start_tok + tok, (seq_id + 1) * {_DP5_SEQ_TOKENS})
                - greatest(start_tok, seq_id * {_DP5_SEQ_TOKENS})) AS BIGINT)
         AS filled_tokens
FROM x
GROUP BY lang, seq_id
"""


def pack_sequences(docs: DataFrame) -> DataFrame:
    """dp5's concat-and-chunk packing over a (doc_id, lang, text) frame:
    per lang, docs with BPE tokens concatenate in doc_id order into
    _DP5_SEQ_TOKENS-token sequences; one row per (lang, seq_id) with
    n_docs, n_starts, starts_with_carry and filled_tokens."""
    from ..functions.prefix import exclusive_prefix_sum

    B = _DP5_SEQ_TOKENS
    d = docs.select(
        "doc_id", "lang", X.bpe_token_count("text").alias("tok")
    ).filter(F.col("tok") > 0)  # a 0-token doc occupies no chunk span
    placed = exclusive_prefix_sum(
        d,
        group_col="lang",
        order_col="doc_id",
        value_col="tok",
        out_col="start_tok",
    )
    end_tok = F.col("start_tok") + F.col("tok")
    spans = placed.withColumn(
        "first_seq", F.floor(F.col("start_tok") / B)
    ).withColumn("last_seq", F.floor((end_tok - 1) / B))
    x = spans.withColumn(
        "seq_id", F.explode(F.sequence("first_seq", "last_seq"))
    )
    seq_lo = F.col("seq_id") * B
    seq_hi = (F.col("seq_id") + 1) * B
    return x.groupBy("lang", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("first_seq") == F.col("seq_id"), 1)).alias(
            "n_starts"
        ),
        (F.min("start_tok") < F.min(seq_lo)).alias("starts_with_carry"),
        F.sum(
            F.least(F.col("start_tok") + F.col("tok"), seq_hi)
            - F.greatest(F.col("start_tok"), seq_lo)
        )
        .cast("bigint")
        .alias("filled_tokens"),
    )


@register(
    "dp5_sequence_packing",
    oracle=f"""
WITH {_dp5_pack_sql("documents")}
{_DP5_PACK_AGG_SQL}""",
    doc="DP5: concat-and-chunk sequence packing plan with straddle accounting",
)
def dp5_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# T13 — vocabulary growth curve (Heaps'-law measurement): distinct-token
# count as a function of corpus position, the diagnostic that predicts
# vocabulary (and embedding-table / index) size before scaling a corpus
# 100×. Naively this is one DISTINCT per checkpoint (N passes); the
# one-pass form used here: each token's FIRST occurrence position
# (min doc_id — one map-side-combinable aggregate over exploded tokens),
# bucketed by log2 of that position (growth concentrates at the front —
# a closed vocabulary saturates within the first docs, and geometric
# checkpoints resolve exactly that region), then a ~log2(n_docs)-row
# running sum — cumulative vocabulary at checkpoint b ≡ tokens first
# seen at doc < 2^(b+1). Exact, one scan, O(vocab) shuffle.
# ---------------------------------------------------------------------------
@register(
    "t13_vocab_growth",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({X.sql_tokens("text")}) AS token FROM documents
),
first_seen AS (
  SELECT token, min(doc_id) AS first_doc FROM tok GROUP BY token
),
bucketed AS (
  SELECT CAST(floor(log2(first_doc + 1)) AS INTEGER) AS checkpoint,
         count(*) AS new_tokens
  FROM first_seen
  GROUP BY 1
)
SELECT checkpoint, new_tokens,
       CAST(sum(new_tokens) OVER (ORDER BY checkpoint
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_vocab
FROM bucketed
""",
    doc="T13: Heaps'-law vocabulary growth via first-occurrence bucketing",
)
def t13_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    first_seen = (
        d.select("doc_id", F.explode(X.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    bucketed = first_seen.groupBy(
        F.floor(F.log2(F.col("first_doc") + 1)).cast("int").alias("checkpoint")
    ).agg(F.count("*").alias("new_tokens"))
    # the running sum spans ~log2(n_docs) rows — a single-task window is
    # CORRECT here (the input is metadata-sized by construction)
    w = Window.orderBy("checkpoint").rowsBetween(Window.unboundedPreceding, 0)
    return bucketed.withColumn(
        "cumulative_vocab", F.sum("new_tokens").over(w).cast("bigint")
    )


# ---------------------------------------------------------------------------
# DP7 — build training shards END TO END: the full corpus-preparation
# pipeline as ONE declarative plan. dp2's cleaning chain (near-dup
# canonical filter via prefix-join edges + connected components, quality
# + length gates, exact dedup) selects the surviving documents; dp5's
# concat-and-chunk packing lays exactly those survivors out as fixed
# 2048-token sequences. This is the composition a training run actually
# executes — and because every stage is a DataFrame transform, Catalyst
# sees the WHOLE pipeline (one optimization boundary, no materialized
# handoffs except the CC iteration's checkpoints).
# ---------------------------------------------------------------------------
@register(
    "dp7_training_shards",
    oracle=f"""
{_DP2_CLEAN_SQL},
kept AS (SELECT doc_id, lang, text FROM ranked WHERE rn = 1),
{_dp5_pack_sql("kept")},
packed AS (
{_DP5_PACK_AGG_SQL})
SELECT lang, seq_id, n_docs, n_starts, filled_tokens FROM packed
""",
    doc="DP7: cleaned-corpus training shards — dp2 cleaning composed with dp5 packing",
)
def dp7_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    kept = dp2_corpus_clean_neardup(spark, sf_dir).select("doc_id")
    return pack_sequences(_docs(spark, sf_dir).join(kept, "doc_id")).drop(
        "starts_with_carry"
    )


# ---------------------------------------------------------------------------
# DP8 — OVERLAPPING DOCUMENT CHUNKING: dp5's complement. Packing (dp5)
# concatenates short docs into fixed training sequences; chunking splits
# LONG docs into overlapping context windows (the RAG / long-doc
# pre-training splitter: chunk C tokens, stride S < C, so consecutive
# chunks share C−S tokens of context). Pure projection + explode — no
# shuffle anywhere, output ~ n_tokens/S rows per doc, trivially
# map-parallel at any corpus size. Full-value oracle: both engines
# tokenize with the shared parity-proven splitter and hash each chunk's
# joined text, so a boundary slip (off-by-one slice, wrong stride,
# dropped tail chunk) changes an md5 and fails the gate.
# ---------------------------------------------------------------------------
_DP8_CHUNK = 256   # tokens per chunk
_DP8_STRIDE = 192  # chunk start distance → 64-token overlap


@register(
    "dp8_document_chunking",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {X.sql_tokens("text")} AS toks,
         CAST(len({X.sql_tokens("text")}) AS INTEGER) AS n
  FROM documents
),
e AS (
  SELECT doc_id, toks, CAST(g.s AS INTEGER) AS start
  FROM t, unnest(generate_series(0, n - 1, {_DP8_STRIDE})) AS g(s)
  WHERE n >= 1
)
SELECT doc_id,
       CAST(start // {_DP8_STRIDE} AS INTEGER) AS chunk_idx,
       CAST(len(list_slice(toks, start + 1, start + {_DP8_CHUNK})) AS INTEGER)
         AS chunk_tokens,
       md5(array_to_string(list_slice(toks, start + 1, start + {_DP8_CHUNK}), ' '))
         AS chunk_md5
FROM e
""",
    doc="DP8: overlapping context-window chunking (256-token chunks, 192 stride), per-chunk md5 oracle",
)
def dp8_document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = (
        d.select("doc_id", X.tokens("text").alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= 1)
    )
    ch = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(_DP8_STRIDE))
        ).alias("start"),
    )
    chunk = F.slice("toks", F.col("start") + 1, F.lit(_DP8_CHUNK))
    return ch.select(
        "doc_id",
        (F.col("start") / _DP8_STRIDE).cast("int").alias("chunk_idx"),
        F.size(chunk).alias("chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# DP9 — leakage-safe train/eval split: the decontamination step a
# training-data pipeline runs AFTER near-dup detection. A random per-doc
# split leaks: two near-duplicate documents can land on opposite sides,
# and the eval set then scores memorization. The unit of assignment must
# be the near-dup CLUSTER (near_dup_edges at _D8_TAU → connected
# components, dp2's stage-1 machinery), with the side chosen by a deterministic hash
# of the cluster id — here the Knuth multiplicative hash
# (cluster_id·2654435761 mod 2^32, shared exactly by both engines as
# plain BIGINT arithmetic; no engine-native hash is cross-checkable)
# against a 90% cut. The multiply is CHUNKED into 16-bit halves
# (_dp9_split_hash / _dp9_hash_sql) because the naive
# cluster_id * 2654435761 exceeds 2^63 for ids ≥ ~3.5e9 — Spark
# (non-ANSI) would wrap silently while DuckDB promotes to HUGEINT, so
# the two engines would assign DIFFERENT splits exactly at the
# billions-of-docs scale this is designed for. The chunked multiply
# lives in functions/hashing.py, shared with dp3/mm7/adv8 and
# unit-tested against a
# Python-bigint reference at planted 2^35/2^40/2^62-scale ids on both
# engines (tests/test_textstats.py).
#
# The certificate is NOT vacuous: split-by-cluster makes "no cluster
# straddles" true by construction, so the hashed boolean instead checks
# that every d8 EDGE connects same-side docs — i.e. that the component
# labels are transitively closed over the edge set. The DuckDB oracle
# recomputes edges + components + split independently (recursive CTE),
# so a Spark CC bug (dropped edge, non-converged label) flips the
# boolean or shifts the per-side doc/cluster counts and fails the gate.
#
# Scale: d8 + CC are the near-linear paths proven by d8/d7_full; the
# split itself is a map-side hash; the certificate join ships |edges|
# (src, dst) rows against the doc-keyed split table — at 100 TB both
# sides partition on doc_id and the join co-locates. Nothing quadratic.
# ---------------------------------------------------------------------------
_DP9_MULT = hashing.HASH32_MULT
_DP9_MOD = hashing.HASH32_MOD
_DP9_TRAIN_CUT = 3_865_470_566  # floor(0.9 * 2^32) → ~90% train

# the shared overflow-exact forms (functions/hashing.py) under dp9's
# historical names — the oracle string below and the unit test use them
_dp9_split_hash = hashing.knuth_hash32
_dp9_hash_sql = hashing.knuth_hash32_sql


@register(
    "dp9_leakage_safe_split",
    oracle=f"""
WITH RECURSIVE {_NEAR_DUP_COMP_SQL},
splits AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
         CASE WHEN {_dp9_hash_sql("COALESCE(c.cluster_id, d.doc_id)")}
                   < {_DP9_TRAIN_CUT}
              THEN 'train' ELSE 'eval' END AS split
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
),
viol AS (
  SELECT count(*) AS v FROM edges e
  JOIN splits a ON e.src = a.doc_id
  JOIN splits b ON e.dst = b.doc_id
  WHERE a.split <> b.split
)
SELECT split, count(*) AS n_docs,
       count(DISTINCT cluster_id) AS n_clusters,
       (SELECT v FROM viol) = 0 AS edges_respect_split
FROM splits GROUP BY split ORDER BY split
""",
    doc="DP9: near-dup-cluster-keyed train/eval split — no d8 edge crosses the split",
)
def dp9_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # materialized once by the builder; CC and the certificate join both
    # read it
    edges = near_dup_edges(_docs_par(spark, sf_dir))
    comp = connected_components(edges).select(
        F.col("node").alias("doc_id"), F.col("component")
    )
    splits = track(
        d.select("doc_id")
        .join(comp, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("component", F.col("doc_id")))
        .withColumn(
            "split",
            F.when(
                _dp9_split_hash(F.col("cluster_id")) < F.lit(_DP9_TRAIN_CUT),
                F.lit("train"),
            ).otherwise(F.lit("eval")),
        )
        .select("doc_id", "cluster_id", "split")
        .persist()  # read by the certificate join AND the final groupBy
    )
    viol = (
        edges.join(
            splits.select(
                F.col("doc_id").alias("src"), F.col("split").alias("split_a")
            ),
            "src",
        )
        .join(
            splits.select(
                F.col("doc_id").alias("dst"), F.col("split").alias("split_b")
            ),
            "dst",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .agg(F.count("*").alias("v"))
    )
    return (
        splits.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
        )
        .join(F.broadcast(viol))  # 1-row scalar aggregate
        .select(
            "split",
            "n_docs",
            "n_clusters",
            (F.col("v") == 0).alias("edges_respect_split"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# DP10 — BOILERPLATE SEGMENT REMOVAL: the cross-document repetition
# filter every web-corpus pipeline runs (C4 drops lines occurring >= 3
# times in the corpus; RefinedWeb/Gopher strip nav-bar / footer / cookie
# boilerplate the same way). The corpus here is flat token text, so the
# removable unit is the ALIGNED 4-TOKEN SEGMENT (the same fixed-boundary
# framing dp8 uses for chunks): a segment whose exact text appears in
# >= _DP10_DF distinct documents is boilerplate, and every occurrence is
# dropped from every document. Measured on current testdata this removes
# 11/6711 distinct segments at sf0.01 and 45/62321 at sf0.1 — selective,
# like real boilerplate, and non-vacuous at every gate SF.
#
# Parity: per-doc output carries an md5 of the RETAINED text assembled
# in segment order, so a wrong removal decision, a dropped segment, or a
# reassembly-order bug each flip a hash and fail the gate. Reassembly
# uses collect_list over one document's own segments — bounded by
# document length, never by corpus size.
#
# Scale: two shuffles — the distinct-doc-frequency groupBy on seg_md5
# (high-cardinality hash keys spread evenly; partial map-side agg) and
# the per-doc reassembly groupBy on doc_id. The boilerplate set itself
# (df >= threshold) is the point of the op: it is TINY relative to the
# corpus (repeated content, not unique content), so the membership join
# back onto the segment stream BROADCASTS — but the hint is GATED, not
# assumed (the dq2 preflight pattern, VERDICT r7 demand #4): the
# boilerplate set is counted first (cheap — the segment table is already
# persisted for the df pass) and a pathological corpus whose df-pass set
# exceeds _DP10_BCAST_MAX rows drops the hint at runtime, falling back
# to a shuffled hash join co-partitioned on seg_md5 — correct, just
# slower, instead of an OOM'd driver. The exploded segment table is
# persisted only because the df pass and the membership join both read
# it; at 100 TB the persist becomes a shuffle-reuse and the operator is
# still two passes total (+ the O(|boilerplate|) preflight count).
# ---------------------------------------------------------------------------
_DP10_SEG = 4  # tokens per aligned segment (dp8's framing, stride == len)
_DP10_DF = 5   # boilerplate when a segment appears in >= 5 distinct docs
_DP10_BCAST_MAX = 2_000_000  # ~40 B/row → ≲80 MB broadcast ceiling


@register(
    "dp10_boilerplate_removal",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {X.sql_tokens("text")} AS toks,
         CAST(len({X.sql_tokens("text")}) AS INTEGER) AS n
  FROM documents
),
e AS (
  SELECT doc_id,
         CAST(g.s // {_DP10_SEG} AS INTEGER) AS seg_idx,
         array_to_string(list_slice(toks, g.s + 1, g.s + {_DP10_SEG}), ' ')
           AS seg_text,
         CAST(len(list_slice(toks, g.s + 1, g.s + {_DP10_SEG})) AS INTEGER)
           AS seg_len
  FROM t, unnest(generate_series(0, n - 1, {_DP10_SEG})) AS g(s)
  WHERE n >= 1
),
df AS (
  SELECT md5(seg_text) AS seg_md5, count(DISTINCT doc_id) AS ddf
  FROM e GROUP BY md5(seg_text)
),
m AS (
  SELECT e.doc_id, e.seg_idx, e.seg_text, e.seg_len,
         (df.ddf >= {_DP10_DF}) AS removed
  FROM e JOIN df ON md5(e.seg_text) = df.seg_md5
)
SELECT doc_id,
       CAST(count(*) AS INTEGER) AS n_segments,
       CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS INTEGER) AS n_removed,
       CAST(coalesce(sum(CASE WHEN NOT removed THEN seg_len END), 0)
            AS INTEGER) AS retained_tokens,
       md5(coalesce(string_agg(seg_text, ' ' ORDER BY seg_idx)
                      FILTER (WHERE NOT removed), '')) AS retained_md5
FROM m
GROUP BY doc_id
""",
    doc=(
        "DP10: cross-document boilerplate removal — aligned 4-token "
        "segments occurring in >= 5 distinct docs are stripped; per-doc "
        "retained-text md5 oracle"
    ),
)
def dp10_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return boilerplate_removal(_docs(spark, sf_dir))


def boilerplate_removal(
    d: DataFrame,
    min_df: int = _DP10_DF,
    bcast_max: int = _DP10_BCAST_MAX,
) -> DataFrame:
    """dp10 core over any (doc_id, text) frame — separated so tests can
    drive synthetic corpora (short docs, all-boilerplate docs, the
    df-threshold boundary) and both membership-join strategies."""
    t = (
        d.select("doc_id", X.tokens("text").alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= 1)
    )
    seg = F.slice("toks", F.col("s") + 1, F.lit(_DP10_SEG))
    e = track(
        t.select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(0), F.col("n") - 1, F.lit(_DP10_SEG))
            ).alias("s"),
        )
        .select(
            "doc_id",
            (F.col("s") / _DP10_SEG).cast("int").alias("seg_idx"),
            F.array_join(seg, " ").alias("seg_text"),
            F.size(seg).alias("seg_len"),
        )
        .withColumn("seg_md5", F.md5("seg_text"))
        .persist()  # read twice: df pass + membership join
    )
    boiler = track(
        e.groupBy("seg_md5")
        .agg(F.countDistinct("doc_id").alias("ddf"))
        .filter(F.col("ddf") >= min_df)
        .select("seg_md5", F.lit(True).alias("removed"))
        .persist()  # TINY post-filter relation; without the persist the
        # preflight count and the membership join would each run the
        # corpus-scale distinct-segment aggregation (r8 code-review)
    )
    # dq2-style preflight: broadcast only when the df-pass set is small
    # enough (one aggregation over the persisted segment table, cached
    # so the join's build side reuses it rather than re-aggregating)
    n_boiler = boiler.count()
    right = F.broadcast(boiler) if n_boiler <= bcast_max else boiler
    m = e.join(right, "seg_md5", "left").withColumn(
        "removed", F.coalesce("removed", F.lit(False))
    )
    kept = F.array_sort(
        F.collect_list(  # collect_list skips NULLs -> removed segments
            F.when(~F.col("removed"), F.struct("seg_idx", "seg_text"))
        )
    )
    return m.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_segments"),
        F.sum(F.col("removed").cast("int")).cast("int").alias("n_removed"),
        F.coalesce(
            F.sum(F.when(~F.col("removed"), F.col("seg_len"))), F.lit(0)
        )
        .cast("int")
        .alias("retained_tokens"),
        F.md5(
            F.array_join(F.transform(kept, lambda x: x["seg_text"]), " ")
        ).alias("retained_md5"),
    )


# ---------------------------------------------------------------------------
# T14 — Zipf-law profile per language: fit ln(freq) ~ ln(rank) over each
# language's top-100 terms by closed-form least squares (regr_slope /
# regr_r2 — exact aggregate algebra, identical in both engines). Corpus
# linguists use the slope (~ -1 for natural language) and fit quality as
# a cheap "is this language's slice real text or extraction garbage"
# screen — boilerplate-heavy or templated corpora flatten the head of
# the curve and tank r^2, so the profile is a per-language quality gate
# that needs no reference model.
#
# Scale: one (lang, term) count shuffle with map-side partial
# aggregation, then a per-lang top-100 window (TakeOrdered-sized — the
# rank window partitions by lang and every partition is cut at 100
# before the regression, so the fit aggregates a BOUNDED frame per
# group no matter the corpus size). The regression itself is a
# single-pass numeric aggregate (sums of x, y, xy, x^2) — whole-stage
# codegen, no UDF, no collect.
#
# Ref parity anchor: the reference's analytics surface is grouped
# statistical aggregates over typed columns (count/avg/stddev per
# group, src/spark/batch/SensorDataAnalytics.scala:101-114); t14 is the
# same shape applied to the documents extension with a regression
# aggregate instead of avg/stddev.
# ---------------------------------------------------------------------------
_T14_TOP = 100  # terms per language entering the fit


@register(
    "t14_zipf_profile",
    oracle=f"""
WITH tok AS (
  SELECT lang, unnest({X.sql_tokens("text")}) AS term FROM documents
),
tf AS (SELECT lang, term, count(*) AS freq FROM tok GROUP BY 1, 2),
ranked AS (
  SELECT lang, freq,
         row_number() OVER (PARTITION BY lang
                            ORDER BY freq DESC, term) AS rnk
  FROM tf
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_terms,
       round(regr_slope(ln(freq), ln(rnk)), {_R}) AS zipf_slope,
       round(regr_r2(ln(freq), ln(rnk)), {_R}) AS zipf_r2
FROM ranked WHERE rnk <= {_T14_TOP}
GROUP BY lang ORDER BY lang
""",
    doc=(
        "T14: per-language Zipf fit over top-100 term frequencies "
        "(regr_slope/regr_r2) — statistical text-quality screen"
    ),
)
def t14_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    tf = (
        d.select("lang", F.explode(X.tokens("text")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count("*").alias("freq"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("freq"), F.col("term"))
    ranked = tf.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= _T14_TOP
    )
    return (
        ranked.groupBy("lang")
        .agg(
            F.count("*").alias("n_terms"),
            fround(
                F.expr("regr_slope(ln(freq), ln(rnk))"), _R
            ).alias("zipf_slope"),
            fround(F.expr("regr_r2(ln(freq), ln(rnk))"), _R).alias("zipf_r2"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# DP11 — EVAL-SET DECONTAMINATION of a hash split: the step a training
# pipeline runs AFTER choosing a train/eval split — any TRAIN document
# sharing even one 8-gram with an EVAL document leaks the eval set into
# training and inflates benchmark scores, so it is dropped from train
# (eval is never modified: it is the fixed measurement set). This
# composes the engine's existing primitives exactly the way dp7
# composes dp2+dp5: dp9's overflow-exact Knuth hash chooses the split
# (doc-level here — dp9 itself owns the near-dup-cluster leakage
# dimension; production runs both) and dc1's n-gram scan finds the
# contamination.
#
# Scale contract: an EVAL set is bounded BY DESIGN in production (fixed
# benchmark suites that do not grow with the corpus), but the gate-data
# stand-in here is a ~10% hash SLICE — linear in the corpus — so the
# broadcast is preflight-GATED at _DP11_BCAST_MAX rows (dp10's pattern,
# VERDICT r8 advice): under the ceiling the train-side gram stream joins
# map-only with no corpus shuffle; above it both eval joins fall back to
# shuffled hash joins. The verify pass re-joins the
# CLEANED train grams against the eval grams and must find zero
# overlap; it reads the persisted gram table, so the certificate costs
# one more bounded-build broadcast join, not a re-tokenize.
#
# The certificate is not vacuous on the Spark side: a wrong removal set
# (dropping the wrong docs, missing a contaminated doc) either leaves a
# shared gram (clean_no_overlap flips FALSE vs the oracle's
# independently-recomputed TRUE) or shifts n_removed/n_docs_after —
# both hash-fail.
# ---------------------------------------------------------------------------
_DP11_N = 8  # n-gram width (dc1's benchmark-decontamination standard)
# broadcast ceiling for the distinct eval-gram relation (dp10's gate
# pattern): ~40 B/row → ≲80 MB build side; above it both eval joins
# run as shuffled hash joins instead of OOMing the driver
_DP11_BCAST_MAX = 2_000_000


@register(
    "dp11_split_decontamination",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {X.sql_tokens("text")} AS toks FROM documents
),
s AS (
  SELECT doc_id, toks,
         ({hashing.knuth_hash32_sql("doc_id")} < {_DP9_TRAIN_CUT})
           AS is_train
  FROM t
),
g AS (
  SELECT doc_id, is_train,
         unnest({X.sql_shingles_from_tokens("toks", _DP11_N)}) AS gram
  FROM s
),
eg AS (SELECT DISTINCT gram FROM g WHERE NOT is_train),
bad AS (
  SELECT DISTINCT doc_id FROM g
  WHERE is_train AND gram IN (SELECT gram FROM eg)
),
counts AS (
  SELECT 'train' AS split,
         (SELECT count(*) FROM s WHERE is_train) AS n_docs_before,
         (SELECT count(*) FROM bad) AS n_removed
  UNION ALL
  SELECT 'eval',
         (SELECT count(*) FROM s WHERE NOT is_train), 0
),
verify AS (
  SELECT count(*) AS shared FROM (
    SELECT DISTINCT gram FROM g
    WHERE is_train AND doc_id NOT IN (SELECT doc_id FROM bad)
      AND gram IN (SELECT gram FROM eg)
  )
)
SELECT split,
       CAST(n_docs_before AS BIGINT) AS n_docs_before,
       CAST(n_docs_before - n_removed AS BIGINT) AS n_docs_after,
       CAST(n_removed AS BIGINT) AS n_removed,
       (SELECT shared FROM verify) = 0 AS clean_no_overlap
FROM counts ORDER BY split
""",
    doc=(
        "DP11: n-gram decontamination of a hash train/eval split — "
        "contaminated train docs dropped; zero-overlap certificate"
    ),
)
def dp11_split_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    return split_decontamination(_docs_par(spark, sf_dir))


def _dp11_gated_eval_side(eg: DataFrame, n_eval_grams: int, bcast_max: int):
    """The gate itself, separated so tests can plan-assert the hint is
    present under the ceiling and absent above it; dp11's two eval joins
    both build against the returned side."""
    return F.broadcast(eg) if n_eval_grams <= bcast_max else eg


def split_decontamination(
    d: DataFrame, bcast_max: int = _DP11_BCAST_MAX
) -> DataFrame:
    """dp11 core over any (doc_id, text) frame — separated so tests can
    drive the gated-broadcast fallback (dp10's pattern, VERDICT r8
    advice: eval here is a hash SLICE of the corpus, so the eval-gram
    relation grows with corpus size and an unconditional broadcast OOMs
    the driver at the design point; production eval suites are bounded,
    but the code must enforce the bound, not assume it)."""
    spark = d.sparkSession
    s = d.select(
        "doc_id",
        X.tokens("text").alias("toks"),
        (
            hashing.knuth_hash32(F.col("doc_id")) < F.lit(_DP9_TRAIN_CUT)
        ).alias("is_train"),
    )
    g = track(
        s.select(
            "doc_id",
            "is_train",
            F.explode(
                X.shingles_from_tokens(F.col("toks"), _DP11_N)
            ).alias("gram"),
        ).persist()  # three consumers: eval build, train scan, verify
    )
    # eg and bad are each consumed TWICE (bad's build + the verify pass;
    # the anti-join + the verify pass) — persist both tiny relations so
    # the corpus-scale gram distinct runs once, not twice (r8 review
    # finding: the same defect class dp10's preflight persist fixed)
    eg = track(
        g.filter(~F.col("is_train")).select("gram").distinct().persist()
    )
    # dp10-style preflight gate: the count reads the PERSISTED eg, so the
    # gate costs one cached-scan action; above the ceiling the hint drops
    # and both eval joins fall back to shuffled hash joins
    eg_right = _dp11_gated_eval_side(eg, eg.count(), bcast_max)
    bad = track(
        g.filter(F.col("is_train"))
        .join(eg_right, "gram")
        .select("doc_id")
        .distinct()
        .persist()
    )
    # r17 optimization: the removal count and the zero-overlap certificate
    # used to be TWO more driver-blocking actions (bad.count(), the verify
    # .count()) — every bench/driver materialization paid four sequential
    # jobs. Both are 1-row aggregates, so they now ride the final plan as
    # broadcast scalar attaches (the a17/a21 split-bound recipe): one
    # preflight job (the broadcast gate's eg.count) plus ONE job for the
    # whole report, with the independent certificate subtrees scheduled
    # together instead of serialized behind driver round-trips. Values are
    # unchanged: n_bad/clean_no_overlap are the same counts, computed
    # lazily instead of eagerly.
    n_bad = F.broadcast(bad.agg(F.count("*").cast("bigint").alias("n_bad")))
    shared_after = (
        g.filter(F.col("is_train"))
        .join(bad, "doc_id", "left_anti")  # the CLEANED train grams
        .join(eg_right, "gram")
        .agg((F.count("*") == 0).alias("clean_no_overlap"))
    )
    # LEFT-join the observed per-side counts onto a static {train, eval}
    # spine: a one-sided corpus (every doc hashing to one split) must
    # still emit BOTH rows, as the oracle's scalar-subquery counts do —
    # a groupBy alone drops the empty side and fails the driver's
    # row-count gate (r8 review finding, reproduced empirically)
    spine = spark.createDataFrame(
        [(True,), (False,)], "is_train boolean"
    )
    splits = spine.join(
        s.groupBy("is_train").agg(F.count("*").alias("n")),
        "is_train",
        "left",
    ).select("is_train", F.coalesce("n", F.lit(0)).alias("n"))
    # explicit crossJoin for the 1-row scalar attaches: a bare .join()
    # with no condition is an implicit cartesian product that only plans
    # because spark.sql.crossJoin.enabled defaults to true — under a
    # legacy-config session it fails analysis (r17 ADVICE #2)
    return (
        splits.crossJoin(n_bad)  # 1-row scalar attaches
        .crossJoin(F.broadcast(shared_after))
        .select(
            F.when(F.col("is_train"), "train").otherwise("eval").alias("split"),
            F.col("n").cast("bigint").alias("n_docs_before"),
            F.when(F.col("is_train"), F.col("n") - F.col("n_bad"))
            .otherwise(F.col("n"))
            .cast("bigint")
            .alias("n_docs_after"),
            F.when(F.col("is_train"), F.col("n_bad"))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("n_removed"),
            F.col("clean_no_overlap"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# DP12 — quality-weighted sampling: keep-rate proportional to the doc's
# quality tier. The curation pattern behind quality-pruned pretraining
# corpora (FineWeb-Edu / DCLM style): instead of a hard quality cutoff
# (dp1's gate), each quality decile keeps a deterministic fraction of
# its docs — low tiers are thinned, not erased, preserving diversity
# while shifting token mass toward high quality.
#
# Tiering: q10 = clamp(floor(round(quality_score, _R) * 10), 0, 9).
# The ROUND-FIRST matters for cross-engine determinism: t2's hash-gated
# row proves round(quality_score, _R) is bit-identical on both engines,
# so the floor boundary is decided on an already-agreed double — a raw
# floor(q*10) could flip a tier on a 1-ulp engine difference.
# Keep-rate: pct = 10 + 9*q10 (10% for tier 0 up to 91% for tier 9),
# decided by the shared overflow-exact Knuth stream h32(doc_id) % 100 —
# partition-invariant, seedless, identical on any engine at any id
# (functions/hashing.py).
#
# Scale shape: one pruned scan, a map-only keep decision (integer
# hash + comparison, whole-stage codegen), and a ≤10-group aggregate —
# no join, no window. At 100 TB the gate runs as a filter fused into
# the scan of each input split; the certificate aggregate moves ten
# rows per task.
# ---------------------------------------------------------------------------
_DP12_Q10_SQL = (
    f"CAST(least(9, greatest(0, CAST(floor(round("
    f"{X.sql_quality_score('text')}, {_R}) * 10) AS BIGINT))) AS INT)"
)


@register(
    "dp12_quality_weighted_sample",
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         {X.sql_token_count("text")} AS token_count,
         {_DP12_Q10_SQL} AS q10
  FROM documents
),
r AS (
  SELECT doc_id, token_count, q10,
         CAST(10 + 9 * q10 AS BIGINT) AS keep_pct,
         ({hashing.knuth_hash32_sql("doc_id")} % 100) < (10 + 9 * q10)
           AS picked
  FROM d
)
SELECT q10, keep_pct,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN picked THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
       CAST(sum(CASE WHEN picked THEN token_count ELSE 0 END) AS BIGINT)
         AS kept_tokens,
       round(CAST(sum(CASE WHEN picked THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), {_R}) AS achieved_rate
FROM r
GROUP BY q10, keep_pct
""",
    doc=(
        "DP12: quality-weighted sampling — per-quality-decile "
        "deterministic keep-rates (10%..91%)"
    ),
)
def dp12_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        "doc_id",
        X.token_count("text").alias("token_count"),
        F.least(
            F.lit(9),
            F.greatest(
                F.lit(0),
                F.floor(fround(X.quality_score("text"), _R) * 10).cast("int"),
            ),
        )
        .cast("int")
        .alias("q10"),
    )
    r = d.select(
        "token_count",
        "q10",
        (F.lit(10) + F.lit(9) * F.col("q10")).cast("bigint").alias("keep_pct"),
        (
            F.pmod(hashing.knuth_hash32(F.col("doc_id")), F.lit(100))
            < (F.lit(10) + F.lit(9) * F.col("q10"))
        ).alias("picked"),
    )
    return r.groupBy("q10", "keep_pct").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("picked"), 1).otherwise(0))
        .cast("bigint")
        .alias("kept_docs"),
        F.sum(F.when(F.col("picked"), F.col("token_count")).otherwise(0))
        .cast("bigint")
        .alias("kept_tokens"),
        fround(
            F.sum(F.when(F.col("picked"), 1).otherwise(0)).cast("double")
            / F.count("*"),
            _R,
        ).alias("achieved_rate"),
    )


# ---------------------------------------------------------------------------
# DP13 — reproducible global shuffle + shard assignment. Training runs
# need the SAME document order every epoch/restart regardless of input
# partitioning, executor count, or engine — a seeded permutation, not
# whatever order the scan happens to produce. Mechanism: shard =
# h32(doc_id) % N (the shared overflow-exact Knuth stream), in-shard
# position = rank by a SECOND decorrelated stream h2 = h32(h1 + low32
# (doc_id)) (re-hashing h1 + the raw low bits; every intermediate
# < 2^33, so the add is int64-exact on both engines for any id), ties
# broken by doc_id. The certificate is per shard: count, the first doc
# in shuffle order, and a position-weighted XOR fingerprint — XOR of
# (pos % 9973)·(h2 % 9973) + pos — which any transposition of two docs
# flips, and which never overflows (terms < 2^27), unlike a positional
# SUM that would wrap int64 on Spark but promote to HUGEINT on DuckDB
# at billions of rows.
#
# Scale shape: ONE hash exchange on shard + an in-shard sort — exactly
# repartition(shard).sortWithinPartitions, the physical write path of a
# shard writer (dp7's layout). No global sort, no driver-side state;
# shard count scales with the corpus, and the row_number window is
# per-shard, so its sort is the sort the shard file needs anyway.
# ---------------------------------------------------------------------------
_DP13_N_SHARDS = 8
_DP13_H1_SQL = hashing.knuth_hash32_sql("doc_id")
_DP13_LOW32_SQL = "((doc_id % 4294967296 + 4294967296) % 4294967296)"


@register(
    "dp13_reproducible_shuffle",
    oracle=f"""
WITH d AS (
  SELECT doc_id, {_DP13_H1_SQL} AS h1 FROM documents
),
d2 AS (
  SELECT doc_id, h1 % {_DP13_N_SHARDS} AS shard,
         {hashing.knuth_hash32_sql(f"h1 + {_DP13_LOW32_SQL}")} AS h2
  FROM d
),
s AS (
  SELECT doc_id, shard, h2,
         row_number() OVER (PARTITION BY shard ORDER BY h2, doc_id) AS pos
  FROM d2
)
SELECT CAST(shard AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(CASE WHEN pos = 1 THEN doc_id END) AS BIGINT) AS first_doc,
       CAST(bit_xor((pos % 9973) * (h2 % 9973) + pos) AS BIGINT)
         AS order_fingerprint
FROM s GROUP BY shard
""",
    doc=(
        "DP13: reproducible global shuffle — hash shard + in-shard "
        "seeded order, permutation certified by positional XOR"
    ),
)
def dp13_reproducible_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).select(
        "doc_id", hashing.knuth_hash32(F.col("doc_id")).alias("h1")
    )
    d2 = d.select(
        "doc_id",
        F.pmod(F.col("h1"), F.lit(_DP13_N_SHARDS)).alias("shard"),
        hashing.knuth_hash32(
            F.col("h1") + F.pmod(F.col("doc_id"), F.lit(4294967296))
        ).alias("h2"),
    )
    s = d2.withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("shard").orderBy("h2", "doc_id")
        ),
    )
    return s.groupBy(F.col("shard").cast("int").alias("shard")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min(F.when(F.col("pos") == 1, F.col("doc_id")))
        .cast("bigint")
        .alias("first_doc"),
        F.expr("bit_xor((pos % 9973) * (h2 % 9973) + pos)")
        .cast("bigint")
        .alias("order_fingerprint"),
    )


# ---------------------------------------------------------------------------
# DP14 — temperature-flattened token-budget mix (the mT5/XLM-R
# multilingual sampling pattern, applied to sources): a global token
# budget B (= half the corpus tokens — data-dependent, scale-free) is
# allocated across sources with weights ∝ avail^0.5, flattening the
# head sources and boosting the tail, each target capped by
# availability. Document selection inside a source is the
# deterministic hash-order prefix: docs sorted by the shared Knuth
# stream, taken while the running token count BEFORE the doc is under
# target (greedy prefix — the last doc may overshoot by part of its
# own length; the policy is stated, deterministic, and identical on
# both engines).
#
# Integer-exactness, two tricks:
# - weights: w = floor(sqrt(avail)) — sqrt is correctly rounded IEEE on
#   both engines and avail < 2^52, so the floor is engine-stable, and
#   all downstream arithmetic is exact int64 (a double weight-share
#   Σ-normalization would make targets depend on summation ORDER).
# - targets: (B*w) div Σw would overflow int64 at real scale (B ~ 1e13
#   tokens, w ~ 3e6), so it is decomposed as
#   (B div Σw)*w + ((B mod Σw)*w) div Σw — exactly equal, every
#   intermediate bounded by max(B, Σw·w) — the same
#   keep-every-intermediate-small discipline as functions/hashing.py.
#
# Scale shape: one (source) aggregate, a tiny broadcast of the
# (source, target) relation, and ONE window shuffle keyed on source
# (the same in-source hash-order sort a shard writer pays, dp13) —
# no self-join, no iteration; at 100 TB the window's sort is the only
# data-proportional term.
# ---------------------------------------------------------------------------
_DP14_H_SQL = hashing.knuth_hash32_sql("doc_id")


@register(
    "dp14_temperature_mix",
    oracle=f"""
WITH d AS (
  SELECT doc_id, source, {X.sql_token_count("text")} AS tc FROM documents
),
a AS (
  SELECT source, CAST(sum(tc) AS BIGINT) AS avail_tokens,
         CAST(floor(sqrt(CAST(sum(tc) AS DOUBLE))) AS BIGINT) AS weight
  FROM d GROUP BY source
),
g AS (
  SELECT CAST(sum(weight) AS BIGINT) AS sw,
         CAST(sum(avail_tokens) // 2 AS BIGINT) AS b
  FROM a
),
t AS (
  SELECT source, avail_tokens, weight,
         least(avail_tokens,
               (b // sw) * weight + ((b % sw) * weight) // sw)
           AS target_tokens
  FROM a, g
),
r AS (
  SELECT source, tc,
         coalesce(sum(tc) OVER (
           PARTITION BY source
           ORDER BY {_DP14_H_SQL}, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cum_before
  FROM d
),
p AS (
  SELECT r.source,
         CAST(sum(CASE WHEN cum_before < target_tokens THEN 1 ELSE 0 END)
              AS BIGINT) AS picked_docs,
         CAST(sum(CASE WHEN cum_before < target_tokens THEN tc ELSE 0 END)
              AS BIGINT) AS picked_tokens
  FROM r JOIN t ON r.source = t.source
  GROUP BY r.source
)
SELECT t.source, t.avail_tokens, t.weight,
       CAST(t.target_tokens AS BIGINT) AS target_tokens,
       p.picked_docs, p.picked_tokens
FROM t JOIN p ON t.source = p.source
""",
    doc=(
        "DP14: temperature-flattened (α=0.5) token-budget mix — exact "
        "integer targets, deterministic hash-prefix selection"
    ),
)
def dp14_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).select(
        "doc_id", "source", X.token_count("text").alias("tc")
    )
    a = d.groupBy("source").agg(
        F.sum("tc").cast("bigint").alias("avail_tokens"),
        F.floor(F.sqrt(F.sum("tc").cast("double")))
        .cast("bigint")
        .alias("weight"),
    )
    g = a.agg(
        F.sum("weight").cast("bigint").alias("sw"),
        F.expr("sum(avail_tokens) div 2").cast("bigint").alias("b"),
    )
    t = a.crossJoin(F.broadcast(g)).select(
        "source",
        "avail_tokens",
        "weight",
        F.least(
            F.col("avail_tokens"),
            F.expr("(b div sw) * weight + ((b % sw) * weight) div sw"),
        )
        .cast("bigint")
        .alias("target_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(hashing.knuth_hash32(F.col("doc_id")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = d.select(
        "source",
        "tc",
        F.coalesce(F.sum("tc").over(w), F.lit(0)).alias("cum_before"),
    )
    picked = F.col("cum_before") < F.col("target_tokens")
    p = (
        r.join(F.broadcast(t.select("source", "target_tokens")), "source")
        .groupBy("source")
        .agg(
            F.sum(F.when(picked, 1).otherwise(0))
            .cast("bigint")
            .alias("picked_docs"),
            F.sum(F.when(picked, F.col("tc")).otherwise(0))
            .cast("bigint")
            .alias("picked_tokens"),
        )
    )
    return t.join(p, "source")


# ---------------------------------------------------------------------------
# T15 — vocabulary coverage curve: what fraction of the corpus's token
# mass the top-k terms cover, for k ∈ {100, 1k, 10k} — the measurement
# that sizes a tokenizer vocabulary (t13 gives the vocab GROWTH law,
# t14 the rank-frequency law; t15 integrates them into the decision
# curve: "how much of the stream does a k-entry vocab explain").
# The testdata generator draws from a ~31-word vocabulary, so the ks
# are sized to DISCRIMINATE on it (1/5/10 give non-trivial fractions)
# plus one deliberately vocab-exceeding k whose coverage must be
# exactly 1.0 (the exhausted-vocabulary branch); on a real corpus the
# same query runs with {100, 1k, 10k, 100k}.
#
# Scale shape: one (term) count shuffle with map-side combine, then
# each k is a TOP-K selection — orderBy(cnt desc, term).limit(k) plans
# as TakeOrderedAndProject (per-partition heaps + a k-row merge), NEVER
# a global sort — over the persisted count relation, and a one-row
# total joins in by broadcast. The tie at the k boundary is broken by
# the term string so both engines pick the identical cut.
# ---------------------------------------------------------------------------
_T15_KS = [1, 5, 10, 10000]


def _t15_leg_sql(k: int) -> str:
    return f"""
SELECT {k} AS vocab_k,
       CAST((SELECT coalesce(sum(cnt), 0) FROM
         (SELECT cnt FROM counts ORDER BY cnt DESC, term LIMIT {k}))
         AS BIGINT) AS covered_tokens,
       CAST((SELECT coalesce(sum(cnt), 0) FROM counts) AS BIGINT)
         AS total_tokens,
       CASE WHEN (SELECT coalesce(sum(cnt), 0) FROM counts) > 0
            THEN round(
              CAST((SELECT coalesce(sum(cnt), 0) FROM
                (SELECT cnt FROM counts ORDER BY cnt DESC, term LIMIT {k}))
                AS DOUBLE)
              / (SELECT coalesce(sum(cnt), 0) FROM counts), {_R})
            ELSE NULL END AS coverage
"""


@register(
    "t15_vocab_coverage",
    oracle=f"""
WITH tok AS (
  SELECT unnest({X.sql_tokens("text")}) AS term FROM documents
),
counts AS (
  SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY term
)
{" UNION ALL ".join(_t15_leg_sql(k) for k in _T15_KS)}
""",
    doc=(
        "T15: vocabulary coverage curve — token mass covered by the "
        "top-k terms, k in _T15_KS (tokenizer-sizing measurement)"
    ),
)
def t15_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = track(
        _docs(spark, sf_dir)
        .select(F.explode(X.tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .persist()  # len(_T15_KS)+1 consumers: the total + one leg per k
    )
    total = counts.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("total_tokens")
    )
    legs = []
    for k in _T15_KS:
        topk = counts.orderBy(F.col("cnt").desc(), "term").limit(k)
        legs.append(
            topk.agg(
                F.coalesce(F.sum("cnt"), F.lit(0))
                .cast("bigint")
                .alias("covered_tokens")
            ).select(F.lit(k).cast("int").alias("vocab_k"), "covered_tokens")
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.crossJoin(F.broadcast(total)).select(
        "vocab_k",
        "covered_tokens",
        "total_tokens",
        F.when(
            F.col("total_tokens") > 0,
            fround(
                F.col("covered_tokens").cast("double")
                / F.col("total_tokens"),
                _R,
            ),
        ).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# DP15 — BIGRAM-LM QUALITY SCREEN (exact integer arithmetic): the bigram
# extension of t12's unigram corpus-LM filter — the CCNet/KenLM pattern
# production pretraining pipelines use to drop word-salad documents
# whose TRANSITIONS are improbable even when every individual token is
# common ("the the the of of" passes a unigram screen, fails a bigram
# one). A class-based bigram LM is trained on the corpus itself: the
# top-V tokens form the vocabulary, everything else collapses to the
# '<unk>' class BEFORE bigram construction (true class-based counts —
# rare-token transitions pool their mass instead of fragmenting), and a
# bigram is "rare" when its Laplace-smoothed conditional probability
# falls below 1/θ:  (c12 + 1) · θ < (c1 + V + 1)  — pure int64
# comparisons. Logs stay OFF the hash-compared surface deliberately
# (t12's discipline: libm log() is not bit-identical across engines and
# per-doc float sums are order-dependent); the per-doc score is the
# rare-transition rate in parts-per-million via exact integer division,
# which ranks documents identically to mean log-prob under the same
# threshold family.
#
# Plan shape at 100 TB: one corpus token count → top-V vocab
# (TakeOrderedAndProject — per-partition top-V, never a global sort);
# vocab is BOUNDED BY DESIGN (V rows) so the two class-mapping joins
# broadcast; bigram context/transition counts are two hash-agg shuffles
# with map-side partials on (w1) / (w1, w2); scoring re-joins the
# bigram stream to the two count relations — shuffle hash joins on the
# same keys (AQE handles skew; '<unk>' is the hot context by
# construction, and both count tables are far smaller than the bigram
# stream they join). The final per-doc agg + top-20 is a
# TakeOrderedAndProject over (doc_id)-grouped scalars. Token arrays
# never shuffle; only (doc_id, w1, w2) triples and per-doc scalars do.
#
# Ref parity anchor: the reference scores per-record quality with
# threshold when-chains over typed columns
# (src/spark/streaming/SensorDataProcessor.scala:88-96); dp15 is the
# same gate shape over the documents extension with a corpus-trained
# transition model instead of fixed thresholds.
# ---------------------------------------------------------------------------
_DP15_V = 2000    # vocabulary size (top-V by corpus frequency)
_DP15_THETA = 100  # rare iff smoothed p(w2|w1) < 1/θ
_DP15_TOPN = 20   # worst-documents report size


@register(
    "dp15_bigram_lm_screen",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, {X.sql_tokens("text")} AS toks FROM documents
),
alltok AS (SELECT unnest(toks) AS w FROM t),
vocab AS (
  SELECT w FROM (
    SELECT w, count(*) AS c FROM alltok GROUP BY w
    ORDER BY c DESC, w ASC LIMIT {_DP15_V}
  )
),
big0 AS (
  SELECT doc_id, lang, toks[g.i] AS w1, toks[g.i + 1] AS w2
  FROM t, unnest(range(1, len(toks))) AS g(i)
  WHERE len(toks) >= 2
),
big AS (
  SELECT doc_id, lang,
         CASE WHEN v1.w IS NULL THEN '<unk>' ELSE big0.w1 END AS w1,
         CASE WHEN v2.w IS NULL THEN '<unk>' ELSE big0.w2 END AS w2
  FROM big0
  LEFT JOIN vocab v1 ON big0.w1 = v1.w
  LEFT JOIN vocab v2 ON big0.w2 = v2.w
),
c1 AS (SELECT w1, count(*) AS c FROM big GROUP BY w1),
c12 AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY w1, w2),
scored AS (
  SELECT big.doc_id, big.lang,
         ((c12.c + 1) * {_DP15_THETA} < (c1.c + {_DP15_V + 1})) AS is_rare
  FROM big
  JOIN c12 ON big.w1 = c12.w1 AND big.w2 = c12.w2
  JOIN c1 ON big.w1 = c1.w1
),
agg AS (
  SELECT doc_id, min(lang) AS lang,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(CASE WHEN is_rare THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
  FROM scored GROUP BY doc_id
)
SELECT doc_id, lang, n_bigrams, n_rare,
       CAST((n_rare * 1000000) // n_bigrams AS BIGINT) AS rare_ppm
FROM agg
ORDER BY rare_ppm DESC, doc_id ASC
LIMIT {_DP15_TOPN}
""",
    doc=(
        "DP15: class-based bigram-LM quality screen — top-V vocab, "
        "'<unk>' pooling, Laplace-smoothed rare-transition rate in exact "
        "integer ppm; worst-20 report"
    ),
)
def dp15_bigram_lm_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_lm_screen(_docs_par(spark, sf_dir))


def bigram_lm_screen(
    d: DataFrame,
    v: int = _DP15_V,
    theta: int = _DP15_THETA,
    topn: int = _DP15_TOPN,
) -> DataFrame:
    """dp15 core over any (doc_id, lang, text) frame — separated so tests
    can drive tiny vocabularies (exercising the '<unk>' pooling and the
    rare-threshold boundary by hand)."""
    # persisted: BOTH the vocab build and the bigram explode consume the
    # tokenized relation — without this the corpus tokenizes twice (r9
    # code-review; the same defect class dp11's persisted gram stream
    # fixed in r8)
    t = track(
        d.select("doc_id", "lang", X.tokens("text").alias("toks")).persist()
    )
    # corpus-frequency top-V vocabulary; '<unk>' is reserved — a literal
    # '<unk>' token in the text would merge with the OOV class on BOTH
    # engines identically, so the reservation is semantic, not a hazard
    vocab = (
        t.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(v)
        .select("w")
    )
    # pair generation stays arrays_zip(slice, slice) DELIBERATELY: the
    # r17-deferred transform(sequence(...)) single-array rewrite was
    # measured r18 and REJECTED — higher-order functions evaluate
    # interpreted while slice/arrays_zip are codegen'd, and the rewrite
    # lost every interleaved A/B pair (2.10/2.04/2.31 → 2.38/2.78/2.63 s
    # warm best-of-3; see OPTIMIZATION_r18.md)
    m = F.greatest(F.size("toks") - 1, F.lit(0))
    big0 = (
        t.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.arrays_zip(
                    F.slice("toks", 1, m).alias("t0"),
                    F.slice("toks", 2, m).alias("t1"),
                )
            ).alias("p"),
        )
        .select("doc_id", "lang", F.col("p.t0").alias("w1_raw"),
                F.col("p.t1").alias("w2_raw"))
    )
    v1 = vocab.select(F.col("w").alias("w1_raw"), F.lit(True).alias("in1"))
    v2 = vocab.select(F.col("w").alias("w2_raw"), F.lit(True).alias("in2"))
    # the class-mapping joins broadcast: vocab is V rows by construction
    big = track(
        big0.join(F.broadcast(v1), "w1_raw", "left")
        .join(F.broadcast(v2), "w2_raw", "left")
        .select(
            "doc_id",
            "lang",
            F.when(F.col("in1").isNull(), "<unk>")
            .otherwise(F.col("w1_raw"))
            .alias("w1"),
            F.when(F.col("in2").isNull(), "<unk>")
            .otherwise(F.col("w2_raw"))
            .alias("w2"),
        )
        .persist()  # two consumers: the c12 aggregate and the scoring join
    )
    c12 = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    # r18 optimization (guide §2.3/§1.2): the context counts c1(w1) are
    # EXACTLY the per-w1 sums of the pair counts (every bigram occurrence
    # contributes once to both), so they aggregate from the BOUNDED
    # ≤(V+1)²-row c12 relation instead of a second full pass over the
    # corpus-scale bigram stream — one fewer scan of `big` at every
    # scale, same int64 values. No persist needed: the c12 subtree
    # appears twice in the pair_flag plan (join input + c1's input) and
    # exchange reuse dedups it — the stream-side map/partial-agg runs
    # once (plan shows ReusedExchange; plans/r18/dp15_*_after.txt)
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    # r17 optimization: resolve the rare verdict PER DISTINCT PAIR first —
    # c12 ⋈ c1 is a |pairs| × |contexts| count-table join (both bounded by
    # the (V+1)-class vocabulary, tiny next to the bigram stream) — and
    # re-join the bigram stream ONCE on (w1, w2). The former form joined
    # the full stream twice (once on (w1, w2), again on w1): one fewer
    # full-stream shuffle at scale, one fewer broadcast build locally.
    # is_rare depends only on (w1, w2), so the verdict per pair is the
    # identical integer comparison.
    pair_flag = c12.join(c1, "w1").select(
        "w1",
        "w2",
        ((F.col("c12") + 1) * theta < (F.col("c1") + v + 1)).alias("is_rare"),
    )
    scored = big.join(pair_flag, ["w1", "w2"]).select(
        "doc_id", "lang", "is_rare"
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("is_rare").cast("int")).cast("bigint").alias("n_rare"),
        )
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            "n_rare",
            F.expr("CAST((n_rare * 1000000) DIV n_bigrams AS BIGINT)").alias(
                "rare_ppm"
            ),
        )
        .orderBy(F.col("rare_ppm").desc(), F.col("doc_id").asc())
        .limit(topn)
    )


# ---------------------------------------------------------------------------
# T16 — SCRIPT-MIX PROFILE: per-language character-class composition
# (letters / digits / whitespace / other) with a mixed-content flag —
# the cheap "is this language slice actually prose" screen crawl
# pipelines run before language-specific processing: encoding mojibake,
# markup debris, and template spam all show up as an inflated OTHER share
# long before a language model sees them. Counts are length-difference
# integers (length(text) - length(regexp_replace(text, class, ''))) and
# the mixed flag is the integer comparison other·5 > n_chars (> 20%
# other), so the hash-compared surface is exact; the two ratio columns
# are single divisions of corpus-level int64 sums (order-free) rounded
# via the shared floor formula. Character classes use only constructs
# with identical semantics in Java regex (Spark) and RE2 (DuckDB):
# explicit ranges, no \s (Java's includes U+000B, RE2's does not).
#
# Plan shape at 100 TB: map-only per-doc counters (whole-stage codegen,
# four regexp passes per row) into one low-cardinality hash aggregate
# on lang — the ideal shape; nothing but per-doc scalars shuffles.
#
# Ref parity anchor: the reference derives per-record completeness
# counters from typed fields and aggregates them per category
# (src/spark/streaming/SensorDataProcessor.scala:75-87, quality-band
# counters src/spark/batch/SensorDataAnalytics.scala:177-196); t16 is
# the same counter→per-category rollup over the documents extension.
# ---------------------------------------------------------------------------
_T16_CLASSES = [
    ("letter", "[A-Za-z]"),
    ("digit", "[0-9]"),
    ("space", "[ \\t\\n\\r]"),
]


@register(
    "t16_script_mix",
    oracle=f"""
WITH d AS (
  SELECT lang,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
           AS n_letter,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
           AS n_digit,
         length(text) - length(regexp_replace(text, '[ \\t\\n\\r]', '', 'g'))
           AS n_space
  FROM documents
),
c AS (
  SELECT lang, n_chars, n_letter, n_digit, n_space,
         n_chars - n_letter - n_digit - n_space AS n_other
  FROM d
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(n_letter) AS BIGINT) AS letter_chars,
       CAST(sum(n_digit) AS BIGINT) AS digit_chars,
       CAST(sum(n_space) AS BIGINT) AS space_chars,
       CAST(sum(n_other) AS BIGINT) AS other_chars,
       CAST(sum(CASE WHEN n_other * 5 > n_chars THEN 1 ELSE 0 END)
            AS BIGINT) AS mixed_docs,
       CASE WHEN sum(n_chars) > 0 THEN
         round(CAST(sum(n_letter) AS DOUBLE) / sum(n_chars), {_R})
       END AS letter_ratio,
       CASE WHEN sum(n_chars) > 0 THEN
         round(CAST(sum(n_other) AS DOUBLE) / sum(n_chars), {_R})
       END AS other_ratio
FROM c
GROUP BY lang
""",
    doc=(
        "T16: per-language script-mix profile — exact char-class "
        "integer counters, >20%-other mixed flag, corpus-level ratios"
    ),
)
def t16_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return script_mix(_docs(spark, sf_dir))


def script_mix(docs: DataFrame) -> DataFrame:
    """t16 core over any (lang, text) frame — separated for tests and
    the generator-scale data-bound sweep."""
    d = docs.select(
        "lang",
        F.length("text").alias("n_chars"),
        *[
            (
                F.length("text")
                - F.length(F.regexp_replace("text", pat, ""))
            ).alias(f"n_{name}")
            for name, pat in _T16_CLASSES
        ],
    )
    c = d.withColumn(
        "n_other",
        F.col("n_chars") - F.col("n_letter") - F.col("n_digit")
        - F.col("n_space"),
    )
    total = F.sum("n_chars")
    return c.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        total.cast("bigint").alias("total_chars"),
        F.sum("n_letter").cast("bigint").alias("letter_chars"),
        F.sum("n_digit").cast("bigint").alias("digit_chars"),
        F.sum("n_space").cast("bigint").alias("space_chars"),
        F.sum("n_other").cast("bigint").alias("other_chars"),
        # per-row coalesce mirrors the oracle's CASE ... ELSE 0: a doc
        # with NULL text makes the comparison NULL, and a lang group
        # whose docs are ALL NULL-text would sum to NULL on Spark while
        # the oracle's ELSE 0 sums to 0 (r9 code-review, reproduced)
        F.sum(
            F.coalesce(
                (F.col("n_other") * 5 > F.col("n_chars")).cast("int"),
                F.lit(0),
            )
        )
        .cast("bigint")
        .alias("mixed_docs"),
        F.when(total > 0, fround(F.sum("n_letter").cast("double") / total, _R))
        .alias("letter_ratio"),
        F.when(total > 0, fround(F.sum("n_other").cast("double") / total, _R))
        .alias("other_ratio"),
    )


# ---------------------------------------------------------------------------
# T17 — PMI COLLOCATION MINING: top bigram collocations by pointwise
# mutual information with a minimum-support floor — the corpus-analysis
# pass that surfaces multiword expressions ("new york", "machine
# learning") before tokenizer training, and the standard phrase-mining
# primitive (word2vec's phrase pass is PMI with a discount).
#
# PMI(w1,w2) = ln( p(w1,w2) / (p(w1)·p(w2)) ) with p over bigram /
# unigram totals. The compared score is ln of an EXACT int64 ratio:
# c12·N1² / (N2·c1·c2) — both products stay below 2^63 through sf0.1
# (N1 ≈ 7.5e5 tokens → N1²·c12 ≈ 5.6e15), both engines evaluate the
# same libm-exact ln(double) of the same double, and the 6-dp round +
# (w1, w2) tiebreak make the top-20 a total order (t6's idf discipline
# extended to a two-sided ratio). At 100 TB the int64 products overflow:
# the production form is log-space (ln c12 + 2 ln N1 − ln N2 − ln c1 −
# ln c2) or DECIMAL(38) products — same ordering, documented here
# because the gate pins the int64-exact form at gate SFs.
#
# Plan shape at 100 TB: one tokenize pass persisted for its two
# consumers (unigrams + bigrams, dp15's lesson), two hash aggregates
# shuffling on (w) / (w1,w2) with map-side partials, a support filter
# BEFORE the scoring joins (apriori pruning: c12 ≥ 5 kills the long
# tail before any join), two vocabulary-sized joins on token keys (no
# broadcast hint — vocabulary grows with the corpus, t6's rationale),
# two 1-row scalar broadcasts, and a TakeOrderedAndProject top-20.
#
# Ref parity anchor: the reference ranks grouped aggregates by a
# descending count (sensor-type report, GROUP BY + ORDER BY record_count
# DESC, src/spark/batch/SensorDataAnalytics.scala:284-295); t17 is that
# shape where the ranking key is an information-theoretic score over
# two joined count relations.
# ---------------------------------------------------------------------------
_T17_MIN_SUPPORT = 5  # apriori floor: pair must occur ≥ 5 times
_T17_TOPN = 20


def _pmi_scored_sql(score: str) -> str:
    """The oracle twin of _pmi_counted plus one score column: a WITH
    head whose CTE list ends in scored(w1, w2, pair_count, <score>),
    where ``score`` is a select item over c12.c, a.c, b.c (the unigram
    counts of w1, w2) and the totals n1.n, n2.n."""
    return f"""WITH t AS (
  SELECT doc_id, {X.sql_tokens("text")} AS toks FROM documents
),
uni AS (SELECT unnest(toks) AS w FROM t),
c1 AS (SELECT w, count(*) AS c FROM uni WHERE w <> '' GROUP BY w),
n1 AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c1),
big AS (
  SELECT toks[g.i] AS w1, toks[g.i + 1] AS w2
  FROM t, unnest(range(1, len(toks))) AS g(i)
  WHERE len(toks) >= 2
),
c12 AS (
  SELECT w1, w2, count(*) AS c FROM big
  WHERE w1 <> '' AND w2 <> '' GROUP BY w1, w2
),
n2 AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c12),
scored AS (
  SELECT c12.w1, c12.w2, c12.c AS pair_count,
         {score}
  FROM c12
  JOIN c1 a ON c12.w1 = a.w
  JOIN c1 b ON c12.w2 = b.w
  CROSS JOIN n1 CROSS JOIN n2
  WHERE c12.c >= {_T17_MIN_SUPPORT}
)"""


# t17's score: ln of the exact int64 count ratio
_T17_PMI_SQL = f"""round(ln(CAST(c12.c * n1.n * n1.n AS DOUBLE)
                  / CAST(n2.n * a.c * b.c AS DOUBLE)), {_R}) AS pmi"""


@register(
    "t17_collocations_pmi",
    oracle=f"""
{_pmi_scored_sql(_T17_PMI_SQL)}
SELECT w1, w2, pair_count, pmi
FROM scored
ORDER BY pmi DESC, w1 ASC, w2 ASC
LIMIT {_T17_TOPN}
""",
    doc=(
        "T17: top-20 bigram collocations by PMI with a min-support "
        "apriori floor — exact int64 count ratio under one ln"
    ),
)
def t17_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return collocations_pmi(_docs_par(spark, sf_dir))


def collocations_pmi(
    d: DataFrame,
    min_support: int = _T17_MIN_SUPPORT,
    topn: int = _T17_TOPN,
) -> DataFrame:
    """t17 core over any (doc_id, text) frame — separated so tests can
    drive hand-built corpora through the support floor and the exact
    PMI arithmetic."""
    scored = _pmi_counted(d, min_support).select(
        "w1",
        "w2",
        "pair_count",
        fround(
            F.log(
                (F.col("pair_count") * F.col("n1") * F.col("n1"))
                .cast("double")
                / (F.col("n2") * F.col("c_w1") * F.col("c_w2"))
                .cast("double")
            ),
            _R,
        ).alias("pmi"),
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(topn)


def _pmi_counted(d: DataFrame, min_support: int) -> DataFrame:
    """The count relations shared by the exact (t17) and log-space
    (t17b) PMI scorers: support-filtered bigram counts joined to both
    unigram counts and the two corpus totals — columns (w1, w2,
    pair_count, c_w1, c_w2, n1, n2)."""
    # persisted: the unigram pass and the bigram explode both consume
    # the tokenized relation (dp15's two-consumer lesson)
    t = track(d.select("doc_id", X.tokens("text").alias("toks")).persist())
    # persisted: THREE consumers (the N1 scalar and both scoring joins)
    # would otherwise each re-run the corpus unigram explode+aggregate
    # (r9 self-review)
    c1 = track(
        t.select(F.explode("toks").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .persist()
    )
    n1 = c1.agg(F.sum("c").cast("bigint").alias("n1"))
    m = F.greatest(F.size("toks") - 1, F.lit(0))
    c12 = (
        t.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("toks", 1, m).alias("t0"),
                    F.slice("toks", 2, m).alias("t1"),
                )
            ).alias("p")
        )
        .select(F.col("p.t0").alias("w1"), F.col("p.t1").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("pair_count"))
    )
    # persisted: two consumers (the N2 scalar and the scored join)
    c12 = track(c12.persist())
    n2 = c12.agg(F.sum("pair_count").cast("bigint").alias("n2"))
    a = c1.select(F.col("w").alias("w1"), F.col("c").alias("c_w1"))
    b = c1.select(F.col("w").alias("w2"), F.col("c").alias("c_w2"))
    return (
        # support filter FIRST (apriori pruning) — only surviving pairs
        # pay the two vocabulary joins; c1 joins carry no broadcast hint
        # (vocabulary grows with the corpus, t6's rationale)
        c12.filter(F.col("pair_count") >= min_support)
        .join(a, "w1")
        .join(b, "w2")
        .crossJoin(F.broadcast(n1))  # 1-row scalar aggregate
        .crossJoin(F.broadcast(n2))  # 1-row scalar aggregate
    )


# ---------------------------------------------------------------------------
# T17B — LOG-SPACE PMI (t17's production form past the int64 boundary):
# t17's exact arithmetic computes ln(c12·N1² / (N2·c1·c2)) with the two
# int64 products formed EXACTLY, which overflows once c·N1² exceeds
# 2^63 — fine at the gate SFs (bound stated in t17's header), wrong at
# 100 TB. The production fix is scoring in log space, lpmi =
# ln c12 + 2·ln N1 − ln N2 − ln c1 − ln c2 — no product ever formed, no
# overflow at any corpus size. This twin REGISTERS that form so the
# gate proves it runs.
#
# Compared surface: INTEGERS ONLY (w1, w2, pair_count, rank). The
# lpmi double is a five-term sum of ln() outputs; ln is engine libm —
# DuckDB's C library vs the JVM — and may differ in the last ulp on
# identical inputs, so hashing a rounded lpmi would gate on float
# boundaries (adv14's F.round lesson). Instead the ORDERING the score
# induces is compared via row_number, with (w1, w2) tie-breaks, over a
# 6-dp floor-rounded key (t17's precedent): quantization collapses the
# ulp noise between EQUAL exact ratios summed in different factor
# orders back into exact ties. Rank-equivalence of the log form
# against t17's exact-ratio form is property-tested at both gate SFs
# (test_textstats) — inversions only within sub-1e-6 near-ties.
#
# Plan shape at 100 TB: identical to t17 up to scoring (shared
# _pmi_counted); the top-20 is TakeOrderedAndProject on the score, and
# rank assignment windows over the COLLECTED 20 rows only — no global
# single-partition sort.
# ---------------------------------------------------------------------------
# t17b's score: t17's ratio as a fixed-order five-term ln sum
_T17B_KEY_SQL = (
    "round(((((ln(CAST(c12.c AS DOUBLE)) + ln(CAST(n1.n AS DOUBLE)))"
    " + ln(CAST(n1.n AS DOUBLE))) - ln(CAST(n2.n AS DOUBLE)))"
    " - ln(CAST(a.c AS DOUBLE))) - ln(CAST(b.c AS DOUBLE)), 6) AS k"
)


@register(
    "t17b_collocations_pmi_log",
    oracle=f"""
{_pmi_scored_sql(_T17B_KEY_SQL)},
ranked AS (
  SELECT w1, w2, pair_count,
         row_number() OVER (ORDER BY k DESC, w1, w2) AS rank
  FROM scored
)
SELECT w1, w2, pair_count, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {_T17_TOPN}
""",
    doc=(
        "T17B: t17's top-20 collocations scored in LOG space (no int64 "
        "product, overflow-free at any corpus size) — integer-rank "
        "compared surface"
    ),
)
def t17b_collocations_pmi_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    return collocations_pmi_log(_docs_par(spark, sf_dir))


def _t17b_key():
    """The t17b sort key: fixed-order five-term ln sum, 6-dp
    floor-rounded (t17's rounding precedent). Quantization collapses
    ulp-level noise between pairs with EQUAL exact ratios (different
    factor orders sum in different ulps) back into exact ties that the
    (w1, w2) tie-break resolves identically on both engines. Exposed so
    the rank-equivalence test scores the counted relation with the
    query's own arithmetic."""
    lpmi = (
        (
            (
                (
                    F.log(F.col("pair_count").cast("double"))
                    + F.log(F.col("n1").cast("double"))
                )
                + F.log(F.col("n1").cast("double"))
            )
            - F.log(F.col("n2").cast("double"))
        )
        - F.log(F.col("c_w1").cast("double"))
    ) - F.log(F.col("c_w2").cast("double"))
    return fround(lpmi, 6)


def collocations_pmi_log(
    d: DataFrame,
    min_support: int = _T17_MIN_SUPPORT,
    topn: int = _T17_TOPN,
) -> DataFrame:
    """t17b core — the overflow-free log-space scorer over the shared
    count relations; returns (w1, w2, pair_count, rank)."""
    from pyspark.sql import Window

    top = (
        _pmi_counted(d, min_support)
        .select("w1", "w2", "pair_count", _t17b_key().alias("k"))
        .orderBy(F.col("k").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(topn)  # TakeOrderedAndProject — distributed top-k
    )
    # rank windows over the ≤ topn surviving rows only — never a global
    # single-partition sort of the full pair table
    w = Window.orderBy(F.col("k").desc(), F.col("w1").asc(), F.col("w2").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        "w1", "w2", "pair_count", "rank"
    )


# ---------------------------------------------------------------------------
# T18 — BM25 RETRIEVAL TOP-K: Okapi BM25 scores for a fixed query over
# the documents corpus — the lexical-retrieval serving primitive behind
# every hybrid RAG stack (BM25 candidates ∪ ANN candidates → rerank; the
# ANN half lives in the s-family).
#
# Exactness contract: every BM25 factor is a double expression written
# with the SAME literal constants and the SAME association on both
# engines (idf = ln((N − df + 0.5)/(df + 0.5) + 1.0); tf·2.2 — the
# literal, NOT 1.2+1, whose double sum is 2.2000000000000002; denom =
# tf + 1.2·(0.25 + (0.75·dl)/avgdl)), so each per-term score is
# bit-identical. The per-doc total is a FIXED-ORDER sum of the ≤3
# per-term scores (conditional one-row sums pivoted to columns, then
# s1+s2+s3 textually) — no engine-dependent reduction order anywhere —
# rounded 6 dp with a doc_id tiebreak.
#
# Plan shape at 100 TB: the tokenize pass feeds doclen (per-doc count,
# map-side partial) and the query-term tf table (the isin filter prunes
# the explode to |Q| terms per doc BEFORE the shuffle); df is a |Q|-row
# aggregate and broadcasts with the three scalars; the final rank is
# TakeOrderedAndProject. Nothing vocabulary-sized shuffles — the isin
# pushes the query into the scan.
#
# Ref parity anchor: the reference's serving layer ranks filtered
# per-entity aggregates with LIMIT (src/api/sensor_api.py:62-77); t18
# is that serving shape where the score is a weighted lexical model.
# ---------------------------------------------------------------------------
_T18_TERMS = ["spark", "join", "stream"]  # fixed query (present at all SFs)
_T18_TOPN = 20
_T18_TERMS_SQL = ", ".join(f"'{t}'" for t in _T18_TERMS)


@register(
    "t18_bm25_topk",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {X.sql_tokens("text")} AS toks FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
  FROM tok WHERE w <> '' GROUP BY doc_id
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
avg_dl AS (
  SELECT CAST(sum(dl) AS DOUBLE) / (SELECT n FROM n) AS avgdl FROM dl
),
tf AS (
  SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE w IN ({_T18_TERMS_SQL}) GROUP BY doc_id, w
),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
s AS (
  SELECT tf.doc_id, tf.term,
         ln((CAST(n.n AS DOUBLE) - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl) / avg_dl.avgdl)) AS s
  FROM tf
  JOIN df USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN n CROSS JOIN avg_dl
),
agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_hit_terms,
         coalesce(sum(CASE WHEN term = '{_T18_TERMS[0]}' THEN s END), 0.0) AS s0,
         coalesce(sum(CASE WHEN term = '{_T18_TERMS[1]}' THEN s END), 0.0) AS s1,
         coalesce(sum(CASE WHEN term = '{_T18_TERMS[2]}' THEN s END), 0.0) AS s2
  FROM s GROUP BY doc_id
)
SELECT doc_id, n_hit_terms, round(s0 + s1 + s2, {_R}) AS bm25
FROM agg
ORDER BY bm25 DESC, doc_id ASC
LIMIT {_T18_TOPN}
""",
    doc=(
        "T18: Okapi BM25 top-20 docs for a fixed 3-term query — "
        "fixed-order per-term sum, bit-identical double pipeline"
    ),
)
def t18_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_topk(_docs_par(spark, sf_dir))


def bm25_topk(
    d: DataFrame,
    terms: list[str] | None = None,
    topn: int = _T18_TOPN,
) -> DataFrame:
    """t18 core over any (doc_id, text) frame — separated so tests can
    replay the exact BM25 arithmetic on hand corpora. ``terms`` must
    have exactly 3 entries (the fixed-order pivot sum is positional)."""
    terms = _T18_TERMS if terms is None else terms
    if len(terms) != 3 or len(set(terms)) != 3:
        raise ValueError("bm25_topk pivots exactly 3 DISTINCT query terms")
    # persisted: doclen and the query-term tf table both consume the
    # exploded token stream (dp15's two-consumer lesson)
    tok = track(
        d.select("doc_id", F.explode(X.tokens("text")).alias("w"))
        .filter(F.col("w") != "")
        .persist()
    )
    # dl feeds the avgdl scalar AND the scoring join; tf feeds df AND
    # the scoring join — persist both (r9 self-review)
    dl = track(
        tok.groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("dl"))
        .persist()
    )
    n = d.agg(F.count("*").cast("bigint").alias("n"))
    avgdl = (
        dl.agg(F.sum("dl").cast("double").alias("total_tok"))
        .crossJoin(F.broadcast(n))  # 1-row scalar aggregate
        .select((F.col("total_tok") / F.col("n")).alias("avgdl"))
    )
    tf = track(
        tok.filter(F.col("w").isin(terms))
        .groupBy("doc_id", F.col("w").alias("term"))
        .agg(F.count("*").cast("bigint").alias("tf"))
        .persist()
    )
    df = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    s = (
        tf.join(F.broadcast(df), "term")  # |Q| rows
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(n))  # 1-row scalar aggregate
        .crossJoin(F.broadcast(avgdl))  # 1-row scalar aggregate
        .select(
            "doc_id",
            "term",
            (
                F.log(
                    (F.col("n").cast("double") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * 2.2)
                / (
                    F.col("tf")
                    + 1.2
                    * (F.lit(0.25) + (0.75 * F.col("dl")) / F.col("avgdl"))
                )
            ).alias("s"),
        )
    )
    agg = s.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_hit_terms"),
        # one row per (doc, term) → each conditional sum reduces exactly
        # one value: no reduction-order freedom
        *[
            F.coalesce(
                F.sum(F.when(F.col("term") == t, F.col("s"))), F.lit(0.0)
            ).alias(f"s{i}")
            for i, t in enumerate(terms)
        ],
    )
    return (
        agg.select(
            "doc_id",
            "n_hit_terms",
            fround(F.col("s0") + F.col("s1") + F.col("s2"), _R).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(topn)
    )


# ---------------------------------------------------------------------------
# DP16 — DATASET CARD: the per-source audit summary a training-data
# release ships with (HuggingFace dataset cards, Datasheets for
# Datasets): volume, token share, exact-duplicate rate, language
# spread, quality and null counters — one row per source, every cell
# an exact integer or an integer-ratio ppm.
#
# Exactness: no floating aggregate anywhere — token shares and dup
# rates are int64 floor-division ppm (dp15's discipline); the quality
# counter thresholds t2's per-row double ONCE per row (the same
# per-row predicate dp1 gates on) and sums integers.
#
# Plan shape at 100 TB: three independent aggregates over one persisted
# map-only projection — (a) per-source counters with map-side partials,
# (b) distinct-text counts via a two-level (source, text) → source
# aggregate (the dq6 lesson: NO countDistinct Expand — the sub-agg
# shuffles each distinct text once), (c) a |src|×|lang| aggregate that
# yields BOTH the top language (window rank over ~100 rows) and the
# language count. Everything after the three shuffles is |sources|-row
# arithmetic; the corpus-total scalar broadcasts.
#
# Ref parity anchor: the reference's global summary report
# (src/spark/batch/SensorDataAnalytics.scala:264-276) is the same
# one-row-per-category card over typed counters.
# ---------------------------------------------------------------------------
_DP16_HQ = 0.5  # dp1's quality gate, reused as the card's HQ threshold

# module constant so st14 (the streaming maintenance twin) can register
# with the SAME oracle verbatim — the external gate then value-checks
# the streamed card row-for-row against the batch semantics
_DP16_ORACLE = f"""
WITH d AS (
  SELECT source, lang, text,
         {X.sql_token_count("text")} AS tok,
         {X.sql_quality_score("text")} AS q
  FROM documents
),
base AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS doc_count,
         CAST(coalesce(sum(tok), 0) AS BIGINT) AS token_sum,
         CAST(sum(CASE WHEN q >= {_DP16_HQ} THEN 1 ELSE 0 END) AS BIGINT)
           AS high_quality_docs,
         CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS null_text_docs
  FROM d GROUP BY source
),
texts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS distinct_texts
  FROM (
    SELECT source, text FROM d WHERE text IS NOT NULL
    GROUP BY source, text
  ) GROUP BY source
),
lang_rank AS (
  SELECT source, lang, c,
         row_number() OVER (PARTITION BY source
                            ORDER BY c DESC, lang) AS rn,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_langs
  FROM (
    SELECT source, lang, CAST(count(*) AS BIGINT) AS c
    FROM d GROUP BY source, lang
  )
),
tot AS (SELECT CAST(coalesce(sum(tok), 0) AS BIGINT) AS t FROM d)
SELECT b.source, b.doc_count, b.token_sum,
       CAST(CASE WHEN tot.t > 0 THEN b.token_sum * 1000000 // tot.t
                 ELSE 0 END AS BIGINT) AS token_share_ppm,
       CAST(coalesce(x.distinct_texts, 0) AS BIGINT) AS distinct_texts,
       CAST(CASE WHEN b.doc_count - b.null_text_docs > 0
                 THEN (b.doc_count - b.null_text_docs
                       - coalesce(x.distinct_texts, 0)) * 1000000
                      // (b.doc_count - b.null_text_docs)
                 ELSE 0 END AS BIGINT) AS exact_dup_ppm,
       lr.n_langs, lr.lang AS top_lang, lr.c AS top_lang_docs,
       b.high_quality_docs, b.null_text_docs
FROM base b
LEFT JOIN texts x ON b.source = x.source
JOIN lang_rank lr ON b.source = lr.source AND lr.rn = 1
CROSS JOIN tot
"""


@register(
    "dp16_dataset_card",
    oracle=_DP16_ORACLE,
    doc=(
        "DP16: per-source dataset card — exact volume / token-share / "
        "dup-rate / language-spread / quality counters"
    ),
)
def dp16_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dataset_card(_docs(spark, sf_dir))


# dp16 decomposes into three MERGEABLE state relations plus a pure
# assembly — the decomposition st14 (streaming maintenance) rides:
# counters merge by per-source SUM, text keys merge by DISTINCT, lang
# counts merge by per-(source, lang) SUM; the assembly is closed over
# merged state, so state ⊕ delta ≡ one-pass by construction.


def card_counters(d: DataFrame, hq: float = _DP16_HQ) -> DataFrame:
    """Per-source additive counters over a projected doc frame — rows
    from disjoint slices merge by summing every column."""
    return d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("doc_count"),
        # coalesce: an all-NULL-text source sums NULL on both engines;
        # the card reports it as 0 tokens instead of a NULL counter
        F.coalesce(F.sum("tok"), F.lit(0)).cast("bigint").alias("token_sum"),
        F.sum(F.when(F.col("q") >= hq, 1).otherwise(0))
        .cast("bigint")
        .alias("high_quality_docs"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("null_text_docs"),
    )


def card_text_keys(d: DataFrame) -> DataFrame:
    """Distinct (source, text) keys — the exact-COUNT-DISTINCT state;
    slices merge by a further distinct (idempotent)."""
    return d.filter(F.col("text").isNotNull()).select("source", "text").distinct()


def card_lang_counts(d: DataFrame) -> DataFrame:
    """Per-(source, lang) doc counts — slices merge by summing c."""
    return d.groupBy("source", "lang").agg(
        F.count("*").cast("bigint").alias("c")
    )


def card_project(docs: DataFrame) -> DataFrame:
    """The shared map-only projection feeding all three state builders."""
    return docs.select(
        "source",
        "lang",
        "text",
        X.token_count("text").alias("tok"),
        X.quality_score("text").alias("q"),
    )


def dataset_card(docs: DataFrame, hq: float = _DP16_HQ) -> DataFrame:
    """dp16 core over any (source, lang, text) frame — separated so
    tests can drive hand corpora through the dup/null/quality edges.
    An all-NULL-text source is REPORTED (doc_count = null_text_docs,
    zero tokens/distinct-texts, dup-ppm 0), never dropped — an audit
    primitive that silently omits the most degenerate source would read
    as 'source absent' rather than 'source pathological' (r9 ADVICE)."""
    d = track(
        card_project(docs).persist()  # three aggregate consumers
    )
    return card_assemble(
        card_counters(d, hq), card_text_keys(d), card_lang_counts(d)
    )


def card_assemble(
    counters: DataFrame, text_keys: DataFrame, lang_counts: DataFrame
) -> DataFrame:
    """Final card arithmetic over (possibly fragment-merged) state. The
    leading re-aggregations make the assembly CLOSED under state
    merging: single-pass inputs re-aggregate to themselves, per-epoch
    fragments merge to the one-pass answer — st14's certificate."""
    from pyspark.sql import Window

    base = counters.groupBy("source").agg(
        F.sum("doc_count").cast("bigint").alias("doc_count"),
        F.sum("token_sum").cast("bigint").alias("token_sum"),
        F.sum("high_quality_docs").cast("bigint").alias("high_quality_docs"),
        F.sum("null_text_docs").cast("bigint").alias("null_text_docs"),
    )
    # two-level distinct (dq6's no-Expand discipline): each distinct
    # (source, text) shuffles once, then collapses to a per-source count
    texts = (
        text_keys.distinct()
        .groupBy("source")
        .agg(F.count("*").cast("bigint").alias("distinct_texts"))
    )
    langs = lang_counts.groupBy("source", "lang").agg(
        F.sum("c").cast("bigint").alias("c")
    )
    # asc_nulls_last: Spark's asc() sorts NULLS FIRST while DuckDB's
    # ORDER BY defaults to NULLS LAST — a NULL-lang group tying the top
    # count would otherwise pick a different top_lang per engine
    # (sketches.py documents the same hazard; r9 self-review)
    wr = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("lang").asc_nulls_last()
    )
    wc = Window.partitionBy("source")
    lang_rank = (
        langs.withColumn("rn", F.row_number().over(wr))
        .withColumn("n_langs", F.count("*").over(wc).cast("bigint"))
        .filter(F.col("rn") == 1)
        .select(
            "source",
            "n_langs",
            F.col("lang").alias("top_lang"),
            F.col("c").alias("top_lang_docs"),
        )
    )
    tot = base.agg(
        F.coalesce(F.sum("token_sum"), F.lit(0)).cast("bigint").alias("t")
    )
    nonnull = F.col("doc_count") - F.col("null_text_docs")
    return (
        # LEFT join + coalesce: a source whose docs are ALL NULL-text has
        # no distinct-texts row; an inner join would drop it from the
        # audit surface entirely (r9 ADVICE) — report it with 0 instead
        base.join(texts, "source", "left")
        .withColumn(
            "distinct_texts",
            F.coalesce(F.col("distinct_texts"), F.lit(0)).cast("bigint"),
        )
        .join(lang_rank, "source")
        .crossJoin(F.broadcast(tot))  # 1-row scalar aggregate
        .select(
            "source",
            "doc_count",
            "token_sum",
            F.expr(
                "CAST(CASE WHEN t > 0 THEN token_sum * 1000000 DIV t"
                " ELSE 0 END AS BIGINT)"
            ).alias("token_share_ppm"),
            "distinct_texts",
            ((nonnull - F.col("distinct_texts")) * 1000000)
            .cast("bigint")
            .alias("_dup_num"),
            nonnull.alias("_nonnull"),
            "n_langs",
            "top_lang",
            "top_lang_docs",
            "high_quality_docs",
            "null_text_docs",
        )
        .withColumn(
            "exact_dup_ppm",
            # guard the division: _nonnull = 0 for an all-NULL source
            F.expr(
                "CAST(CASE WHEN _nonnull > 0 THEN _dup_num DIV _nonnull"
                " ELSE 0 END AS BIGINT)"
            ),
        )
        .select(
            "source",
            "doc_count",
            "token_sum",
            "token_share_ppm",
            "distinct_texts",
            "exact_dup_ppm",
            "n_langs",
            "top_lang",
            "top_lang_docs",
            "high_quality_docs",
            "null_text_docs",
        )
    )


# ---------------------------------------------------------------------------
# DP17 — DSIR IMPORTANCE WEIGHTS: data selection by importance
# resampling (Xie et al., "Data Selection for Language Models via
# Importance Resampling", 2023) — score every raw document by how much
# more likely its hashed-feature profile is under a target distribution
# (here: the corpus's 'en' slice as the quality-target stand-in) than
# under the raw corpus, log w(d) = Σ_features cnt·[ln p̂_t(b) − ln
# p̂_r(b)] with Laplace-smoothed bucket probabilities. Top-weighted docs
# are the resampling candidates.
#
# Exactness — the engine's answer to "importance weights are float
# sums": every per-bucket term is a deterministic double (ln of an
# exactly-representable (c+1)/(N+B) division of int64s, times an int64
# count), and the per-doc reduction is an ORDERED FOLD — Spark
# F.aggregate over the bucket-sorted contribution array, DuckDB
# list_reduce over list(v ORDER BY b) — so both engines add the same
# doubles in the same order and the 6-dp-rounded weight is
# bit-identical. t18 fixed the order of 3 terms textually; dp17
# generalizes to B terms structurally.
#
# Plan shape at 100 TB: the tokenize+hash pass is map-only (the char
# polynomial hash is a codegen'd lambda, t4's machinery); per-(doc,
# bucket) counts shuffle once on doc_id×B keys with map-side partials;
# BOTH bucket tables are ≤ B = 64 rows and broadcast; the fold is
# per-doc bounded (≤ B entries). Nothing vocabulary-sized moves. DSIR's
# production B is 10⁴ buckets — still broadcast-scale; B = 64 keeps the
# gate corpus's buckets densely populated.
#
# Ref parity anchor: the reference scores records against fixed
# per-category expectations (quality scoring,
# src/spark/streaming/SensorDataProcessor.scala:89-102); dp17 is that
# per-record scoring where the expectation is a learned distribution
# ratio.
# ---------------------------------------------------------------------------
_DP17_B = 64      # hash buckets (DSIR's n-gram feature space, compressed)
_DP17_TOPN = 25
_DP17_TARGET = "en"  # target-distribution slice: the 'en' documents


@register(
    "dp17_dsir_importance",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({X.sql_tokens("text")}) AS w
  FROM documents
),
bt AS (
  SELECT doc_id, lang,
         {X.sql_fingerprint("w")} % {_DP17_B} AS b
  FROM tok WHERE w <> ''
),
per_db AS (
  SELECT doc_id, b, CAST(count(*) AS BIGINT) AS cnt
  FROM bt GROUP BY doc_id, b
),
ct AS (
  SELECT b, CAST(count(*) AS BIGINT) AS c
  FROM bt WHERE lang = '{_DP17_TARGET}' GROUP BY b
),
nt AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM bt WHERE lang = '{_DP17_TARGET}'
),
cr AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM bt GROUP BY b),
nr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bt),
contrib AS (
  SELECT per_db.doc_id, per_db.b, per_db.cnt,
         CAST(per_db.cnt AS DOUBLE)
           * (ln(CAST(coalesce(ct.c, 0) + 1 AS DOUBLE) / (nt.n + {_DP17_B}))
              - ln(CAST(cr.c + 1 AS DOUBLE) / (nr.n + {_DP17_B}))) AS v
  FROM per_db
  LEFT JOIN ct ON per_db.b = ct.b
  JOIN cr ON per_db.b = cr.b
  CROSS JOIN nt CROSS JOIN nr
),
wgt AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_tokens,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE), list(v ORDER BY b)),
           (acc, x) -> acc + x
         ) AS w_raw
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, n_tokens, round(w_raw, {_R}) AS dsir_logweight
FROM wgt
ORDER BY dsir_logweight DESC, doc_id ASC
LIMIT {_DP17_TOPN}
""",
    doc=(
        "DP17: DSIR importance resampling — hashed-feature log "
        "importance weights vs the 'en' target slice, ordered-fold "
        "deterministic float reduction, top-25 candidates"
    ),
)
def dp17_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dsir_importance(_docs_par(spark, sf_dir))


def dsir_importance(
    docs: DataFrame,
    b_buckets: int = _DP17_B,
    target_lang: str = _DP17_TARGET,
    topn: int = _DP17_TOPN,
) -> DataFrame:
    """dp17 core over any (doc_id, lang, text) frame — separated so
    tests can replay the smoothing and the ordered fold on hand
    corpora."""
    tok = docs.select(
        "doc_id", "lang", F.explode(X.tokens("text")).alias("w")
    ).filter(F.col("w") != "")
    # per-occurrence feature bucket: the shared char-polynomial hash
    # (t4's fingerprint) mod B — persisted for its three consumers
    # (per-doc counts, target counts, raw counts)
    bt = track(
        tok.select(
            "doc_id",
            "lang",
            F.pmod(X.fingerprint("w"), F.lit(b_buckets)).alias("b"),
        ).persist()
    )
    per_db = bt.groupBy("doc_id", "b").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    tgt = bt.filter(F.col("lang") == target_lang)
    ct = tgt.groupBy("b").agg(F.count("*").cast("bigint").alias("c_t"))
    nt = tgt.agg(F.count("*").cast("bigint").alias("n_t"))
    cr = bt.groupBy("b").agg(F.count("*").cast("bigint").alias("c_r"))
    nr = bt.agg(F.count("*").cast("bigint").alias("n_r"))
    contrib = (
        # both bucket tables are ≤ B rows — broadcast by construction
        per_db.join(F.broadcast(ct), "b", "left")
        .join(F.broadcast(cr), "b")
        .crossJoin(F.broadcast(nt))  # 1-row scalar aggregate
        .crossJoin(F.broadcast(nr))  # 1-row scalar aggregate
        .select(
            "doc_id",
            "b",
            "cnt",
            (
                F.col("cnt").cast("double")
                * (
                    F.log(
                        (F.coalesce(F.col("c_t"), F.lit(0)) + 1).cast(
                            "double"
                        )
                        / (F.col("n_t") + b_buckets)
                    )
                    - F.log(
                        (F.col("c_r") + 1).cast("double")
                        / (F.col("n_r") + b_buckets)
                    )
                )
            ).alias("v"),
        )
    )
    wgt = contrib.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        # ordered fold: sort the ≤B per-bucket contributions by bucket,
        # then left-fold — the same addition order as the oracle's
        # list(v ORDER BY b) + list_reduce, so the double sum is
        # bit-identical across engines
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("b").alias("b"), F.col("v").alias("v"))
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x.getField("v"),
        ).alias("w_raw"),
    )
    return (
        wgt.select(
            "doc_id",
            "n_tokens",
            fround(F.col("w_raw"), _R).alias("dsir_logweight"),
        )
        .orderBy(F.col("dsir_logweight").desc(), F.col("doc_id").asc())
        .limit(topn)
    )


# ---------------------------------------------------------------------------
# DP18 — PII REDACTION: t9 SCANS for PII, this op REWRITES it — the
# transform half every training-data pipeline pairs with the audit half.
# Four sequential
# regexp_replace stages (email → url → phone → long-id, each over the
# previous stage's text) with STAGE-CONSISTENT counts: each class is
# counted in the text as-of-its-stage, so a phone inside an already
# redacted URL is neither double-counted nor double-masked — the
# sequential semantics both engines replay identically (the patterns are
# t9's, already certified count-identical across Java regex and RE2).
#
# 100 TB: one scan, four chained codegen'd regexp stages, no shuffle at
# all before the (optional) downstream consumer — the ideal map-only
# transform. Compared surface carries md5 + length of the redacted text,
# not the text itself, so the driver hash stays small while pinning
# every byte of the rewrite.
# ---------------------------------------------------------------------------
_DP18_STAGES = [
    ("emails", _PII_EMAIL, "<EMAIL>"),
    ("urls", _PII_URL, "<URL>"),
    ("phones", _PII_PHONE, "<PHONE>"),
    ("long_ids", _PII_LONG_ID, "<ID>"),
]


def _dp18_oracle() -> str:
    ctes = ["s0 AS (SELECT doc_id, lang, text AS t0 FROM documents)"]
    for i, (name, pat, repl) in enumerate(_DP18_STAGES):
        # patterns/replacements are interpolated into single-quoted SQL
        # literals below; escape quotes by '' doubling at interpolation
        # time so a quote-bearing stage emits VALID equivalent SQL (a
        # quote is a literal char in both engines' regex/replacement —
        # only the SQL literal needs the doubling). ADVICE r13 #1 asked
        # for a refusal here, but an import-time raise would take down
        # the whole operators package (ADVICE r14 #1) — escaping removes
        # the failure mode instead of relocating it. Current stages are
        # quote-free, so the emitted oracle text is byte-unchanged.
        pat = pat.replace("'", "''")
        repl = repl.replace("'", "''")
        ctes.append(
            f"s{i + 1} AS (SELECT doc_id, lang, "
            + ", ".join(n for n, _, _ in _DP18_STAGES[:i])
            + (", " if i else "")
            + f"CAST(len(regexp_extract_all(t{i}, '{pat}')) AS INTEGER) "
            f"AS {name}, "
            f"regexp_replace(t{i}, '{pat}', '{repl}', 'g') AS t{i + 1} "
            f"FROM s{i})"
        )
    n = len(_DP18_STAGES)
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT doc_id, lang, emails, urls, phones, long_ids,\n"
        f"       md5(t{n}) AS redacted_md5,\n"
        f"       CAST(len(t{n}) AS INTEGER) AS redacted_chars\n"
        f"FROM s{n}"
    )


_DP18_ORACLE = _dp18_oracle()


@register(
    "dp18_pii_redaction",
    oracle=_DP18_ORACLE,
    doc=(
        "DP18: sequential PII redaction (email→url→phone→long-id) with "
        "stage-consistent counts; compared surface = md5 + length of the "
        "redacted text"
    ),
)
def dp18_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "lang", F.col("text").alias("t"))
    counts = []
    for name, pat, repl in _DP18_STAGES:
        d = d.withColumn(name, F.regexp_count(F.col("t"), F.lit(pat)))
        d = d.withColumn("t", F.regexp_replace(F.col("t"), pat, repl))
        counts.append(name)
    return d.select(
        "doc_id",
        "lang",
        *counts,
        F.md5(F.col("t")).alias("redacted_md5"),
        F.length(F.col("t")).alias("redacted_chars"),
    )


# ---------------------------------------------------------------------------
# T19 — ONE BPE MERGE STEP: the distributed heart of BPE tokenizer
# TRAINING — count adjacent character pairs across the corpus and rank
# the merge candidates. The classic scale move is the word-frequency
# pre-aggregation: pairs are counted over the DISTINCT alnum vocabulary
# weighted by word frequency, so the pair explode and its shuffle run at
# |vocab| scale, not |corpus tokens| scale — at 100 TB that is the
# difference between a vocabulary-sized aggregate and re-shuffling the
# entire tokenized corpus. Top-K via TakeOrderedAndProject; the rank
# window runs over the ≤K survivors only.
#
# Words are restricted to non-trivial ASCII-alnum tokens (^[A-Za-z0-9]+$,
# length ≥ 2): BPE pre-tokenizers scope merges inside word boundaries,
# and the restriction also pins the one cross-engine hazard — Spark
# split('', '') → [] vs DuckDB string_split('', '') → [''] — out of the
# domain by construction (probed r13).
# ---------------------------------------------------------------------------
_T19_TOPK = 20


_T19_ORACLE = f"""
WITH tok AS (
  SELECT unnest({X.sql_tokens("text")}) AS w FROM documents
),
wc AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n FROM tok
  WHERE regexp_full_match(w, '[A-Za-z0-9]+') AND len(w) >= 2
  GROUP BY w
),
ch AS (SELECT n, string_split(w, '') AS c FROM wc),
pairs AS (
  SELECT n,
         unnest(list_transform(list_zip(c[1:len(c)-1], c[2:len(c)]),
                               p -> p[1] || ' ' || p[2])) AS pair
  FROM ch
),
agg AS (
  SELECT pair, CAST(sum(n) AS BIGINT) AS pair_count
  FROM pairs GROUP BY pair
)
SELECT pair, pair_count,
       CAST(row_number() OVER (ORDER BY pair_count DESC, pair ASC)
            AS INTEGER) AS merge_rank
FROM agg
QUALIFY merge_rank <= {_T19_TOPK}
"""


@register(
    "t19_bpe_merge_step",
    oracle=_T19_ORACLE,
    doc=(
        "T19: one distributed BPE merge step — adjacent-char pair counts "
        "over the frequency-weighted vocabulary, top-K merge candidates"
    ),
)
def t19_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    words = (
        d.select(F.explode(X.tokens("text")).alias("w"))
        .filter(F.col("w").rlike("^[A-Za-z0-9]+$") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count("*").alias("n"))  # vocab-scale pre-aggregation
    )
    pairs = words.select(
        "n",
        F.explode(
            F.zip_with(
                F.expr("slice(split(w, ''), 1, length(w) - 1)"),
                F.expr("slice(split(w, ''), 2, length(w) - 1)"),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("pair"),
    )
    top = (
        pairs.groupBy("pair")
        .agg(F.sum("n").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
        .limit(_T19_TOPK)  # TakeOrderedAndProject — distributed top-K
    )
    w = Window.orderBy(F.col("pair_count").desc(), F.col("pair").asc())
    return top.withColumn(
        "merge_rank", F.row_number().over(w).cast("int")  # over ≤K rows
    ).select("pair", "pair_count", "merge_rank")


# ---------------------------------------------------------------------------
# DP19 — WEIGHTED RESERVOIR SAMPLE, A-ES / Efraimidis–Spirakis: dp12 keeps
# documents by per-row Bernoulli RATE (each doc independently, expected
# size only); this op draws an
# EXACT-size weighted sample WITHOUT replacement — k docs per source,
# inclusion probability proportional to token weight — the standard
# one-pass distributed primitive for "give me exactly k docs per
# source, long docs proportionally more likely" (epoch subsets, eval
# panels, human-review draws). A-ES: key_i = u_i^(1/w_i) with
# u_i ∈ (0,1] uniform; the k largest keys ARE a weighted sample
# without replacement (Efraimidis & Spirakis 2006) — no rejection, no
# second pass, no global state.
#
# Determinism across engines: u_i = (knuth_hash32(doc_id)+1) / 2^32 —
# the shared overflow-exact integer stream; +1 keeps u > 0 (ln/pow
# safe), and the division by a power of two is EXACT in double, so
# both engines raise pow on bit-identical inputs. The key is rounded
# to the shared 6-dp grid BEFORE ranking (the t17/dp15/dp17 precedent
# for ln/exp-family values), with doc_id as the total-order tiebreak,
# so rank boundaries cannot sit on a sub-grid cross-engine delta.
# NULL-text docs are excluded (NULL weight fails w >= 1, which also
# makes the 1.0/w division ANSI-safe). EMPTY text is NOT excluded: the
# shared whitespace tokenizer yields [''] for '' on both engines, so an
# empty/whitespace-only doc enters the draw with weight 1 — the same
# corpus-wide token_count('') = 1 convention t1/t2 use (ADVICE r15 #2;
# pinned cross-engine by test_dp19_empty_text_enters_with_weight_one).
#
# 100 TB: scoring is map-only. The top-k per source is TWO-STAGE
# SALTED: stage 1 ranks within (source, salt = h mod 8) — 8-way
# parallel, skew-proof even when one source dominates the corpus —
# and keeps k per salt; stage 2 ranks the ≤ 8k survivors per source.
# Exactness is preserved by construction: any doc in the true global
# top-k of its source has at most k−1 docs above it overall, hence at
# most k−1 above it inside its own salt bucket, so stage 1 can never
# evict it. The stage-2 window therefore covers ≤ 8k rows per source
# (the bounded-window class the audit admits); the oracle ranks in one
# window — same result, pinning that salting is an optimization, never
# a semantics change (the d8/d8b discipline).
# ---------------------------------------------------------------------------
_DP19_K = 20
_DP19_SALT = 8
# the A-ES key u^(1/w), u = (knuth_hash32(doc_id) + 1) / 2^32
_DP19_KEY_SQL = (
    f"pow(CAST(({hashing.knuth_hash32_sql('doc_id')} + 1) AS DOUBLE)"
    f" / {hashing.HASH32_MOD}.0, 1.0 / CAST(w AS DOUBLE))"
)

_DP19_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source, {X.sql_token_count("text")} AS w FROM documents
),
s AS (
  SELECT source, doc_id, CAST(w AS BIGINT) AS token_count,
         round({_DP19_KEY_SQL}, 6) AS aes_key
  FROM d WHERE w >= 1
),
r AS (
  SELECT source, doc_id, token_count, aes_key,
         CAST(row_number() OVER (
           PARTITION BY source ORDER BY aes_key DESC, doc_id ASC
         ) AS INTEGER) AS sel_rank
  FROM s
)
SELECT source, sel_rank, doc_id, token_count, aes_key
FROM r WHERE sel_rank <= {_DP19_K}
ORDER BY source, sel_rank
"""


@register(
    "dp19_weighted_reservoir",
    oracle=_DP19_ORACLE,
    doc=(
        "DP19: exact-k A-ES weighted sample without replacement per "
        "source (inclusion ∝ token weight); salted two-stage top-k, "
        "deterministic u from the shared Knuth hash stream"
    ),
)
def dp19_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    return weighted_reservoir(_docs(spark, sf_dir))


def weighted_reservoir(
    docs: DataFrame, k: int = _DP19_K, salt: int = _DP19_SALT
) -> DataFrame:
    """dp19 core over any documents-shaped frame — separated for tests
    (hand-built corpora, empty/NULL text, inclusion-frequency law)."""
    from pyspark.sql import Window

    h = hashing.knuth_hash32(F.col("doc_id"))
    u = (h + F.lit(1)).cast("double") / F.lit(float(hashing.HASH32_MOD))
    d = (
        docs.select(
            "source",
            "doc_id",
            X.token_count("text").cast("bigint").alias("token_count"),
            F.pmod(h, F.lit(salt)).alias("bkt"),
            u.alias("u"),
        )
        .filter(F.col("token_count") >= 1)
        .select(
            "source",
            "doc_id",
            "token_count",
            "bkt",
            fround(
                F.pow(
                    F.col("u"),
                    F.lit(1.0) / F.col("token_count").cast("double"),
                ),
                _R,
            ).alias("aes_key"),
        )
    )
    w1 = Window.partitionBy("source", "bkt").orderBy(
        F.col("aes_key").desc(), F.col("doc_id").asc()
    )
    survivors = (
        d.withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= k)  # ≤ salt·k rows per source survive
        .drop("rn1", "bkt")
    )
    w2 = Window.partitionBy("source").orderBy(
        F.col("aes_key").desc(), F.col("doc_id").asc()
    )
    return (
        survivors.withColumn(
            "sel_rank", F.row_number().over(w2).cast("int")  # over ≤ salt·k
        )
        .filter(F.col("sel_rank") <= k)
        .select("source", "sel_rank", "doc_id", "token_count", "aes_key")
        .orderBy("source", "sel_rank")
    )


# ---------------------------------------------------------------------------
# T20 — TOKEN ENTROPY PROFILE: per-document Shannon entropy of the
# unigram distribution plus its two companion concentration signals —
# normalized entropy (H / ln(distinct)) and top-token share. The
# Gopher-class quality rules t10 does NOT cover: t10 measures bigram
# REPETITION (duplicate coverage), this measures distribution
# CONCENTRATION — a spam doc repeating five tokens uniformly sails past
# top_bigram_frac yet shows near-zero normalized entropy, and degenerate
# single-token floods pin top_token_share → 1. Standard corpus-filter
# signals (Gopher/FineWeb-class pipelines threshold exactly these).
#
# Cross-engine determinism: H = ln(n) − (Σ c·ln(c))/n. The Σ over a
# document's distinct tokens is a float sum, so it folds in TOKEN-SORTED
# order on both engines (Spark F.aggregate over the array_sort'ed
# struct list; DuckDB list_reduce over list(term ORDER BY token) — the
# dp17/dq9 ordered-fold discipline; token strings compare bytewise
# identically on both engines, pinned by the r13 unicode sweep). All
# compared doubles round to the shared 6-dp grid; the ln(distinct)
# normalizer is guarded (distinct > 1, else 0.0 — ANSI-safe, and
# mirrored in the oracle CASE). Docs with no non-empty token (empty or
# NULL text) drop out — the t10 inner-join convention.
#
# 100 TB: one scan; the explode reduces on (doc_id, token) with
# map-side combine (one row per DISTINCT token per doc crosses the
# wire), then one per-doc aggregate whose fold state is bounded by the
# DOCUMENT's distinct-token count — per-doc state, bounded by document
# size by domain definition, never by corpus size (the t10/t18 class,
# admitted by the window/plan audits). No window, no join, no driver
# collect.
# ---------------------------------------------------------------------------
_T20_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({X.sql_tokens("text")}) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
  FROM tok WHERE token <> '' GROUP BY doc_id, token
),
perdoc AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(max(c) AS BIGINT) AS top_c,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
                        list(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                             ORDER BY token)),
           (acc, x) -> acc + x) AS sum_clnc
  FROM tf GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
       round(ln(CAST(n_tokens AS DOUBLE)) - sum_clnc / n_tokens, 6)
         AS entropy,
       CASE WHEN n_distinct > 1 THEN
         round((ln(CAST(n_tokens AS DOUBLE)) - sum_clnc / n_tokens) / ln(CAST(n_distinct AS DOUBLE)), 6)
       ELSE 0.0 END AS norm_entropy,
       round(CAST(top_c AS DOUBLE) / n_tokens, 6) AS top_token_share
FROM perdoc
ORDER BY doc_id
"""


@register(
    "t20_token_entropy_profile",
    oracle=_T20_ORACLE,
    doc=(
        "T20: per-document Shannon entropy of the unigram distribution, "
        "normalized entropy and top-token share; token-ordered fold"
    ),
)
def t20_token_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_entropy_profile(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# DP20 — TOKEN-MASS QUANTILES: sequence-length planning's first question.
# Doc-count quantiles of length answer "how long is the typical DOCUMENT";
# what packing, chunking and
# context-window decisions actually need is "in how long a document
# does the typical TOKEN live" — the token-MASS-weighted quantiles of
# document length. A corpus can be 90% short docs by count while 90%
# of its tokens sit in books; dp5's packing and dp8's chunking budgets
# key off the mass view, not the count view (dp16's dataset card
# reports the count view — this is its mass-weighted complement).
# Per source, decile k ∈ 1..9 reports the smallest token_count L such
# that docs with ≤ L tokens hold ≥ k/10 of the source's token mass.
#
# Cross-engine determinism BY CONSTRUCTION — the op is pure integer
# arithmetic end to end: per-(source, length) doc counts, integer
# masses length·n_docs, an integer cumulative sum, and the decile
# predicate compared as 10·cum ≥ k·total in BIGINT (no division, no
# doubles anywhere except the final mass_share report column, which
# divides two exact integers once and rounds). The NULL-text doc has
# no token_count and drops (w ≥ 1 — the dp19 filter); EMPTY text
# enters with the corpus-wide token_count('') = 1 convention.
#
# 100 TB: ONE map-side-combined (source, token_count) count aggregate
# over the corpus — ≤ |sources|·|distinct lengths| groups, bounded by
# the LENGTH DOMAIN (a document's token count), never by corpus row
# count. The cumulative window partitions by source over those
# bounded length rows (the audited bounded-window class), and the
# decile selection is a groupBy-min over rows already in hand. No
# corpus-scale shuffle beyond the count partials, no driver collect.
# ---------------------------------------------------------------------------
_DP20_ORACLE = f"""
WITH d AS (
  SELECT source, {X.sql_token_count("text")} AS w FROM documents
),
lens AS (
  SELECT source, CAST(w AS BIGINT) AS token_count,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM d WHERE w >= 1 GROUP BY source, w
),
cum AS (
  SELECT source, token_count, n_docs,
         token_count * n_docs AS mass,
         CAST(sum(token_count * n_docs) OVER (
           PARTITION BY source ORDER BY token_count
         ) AS BIGINT) AS cum_mass,
         CAST(sum(token_count * n_docs) OVER (
           PARTITION BY source
         ) AS BIGINT) AS total_mass
  FROM lens
),
ks AS (
  SELECT source, CAST(r.range AS INTEGER) + 1 AS decile,
         total_mass
  FROM (SELECT DISTINCT source, total_mass FROM cum) s
  CROSS JOIN range(9) r
),
hit AS (
  SELECT k.source, k.decile, k.total_mass,
         min(c.token_count) AS tokens_le,
         min_by(c.cum_mass, c.token_count) AS cum_mass
  FROM ks k JOIN cum c
    ON c.source = k.source
   AND 10 * c.cum_mass >= CAST(k.decile AS BIGINT) * c.total_mass
  GROUP BY k.source, k.decile, k.total_mass
)
SELECT source, decile, tokens_le, cum_mass, total_mass,
       round(CAST(cum_mass AS DOUBLE) / total_mass, 6) AS mass_share
FROM hit
ORDER BY source, decile
"""


@register(
    "dp20_token_mass_quantiles",
    oracle=_DP20_ORACLE,
    doc=(
        "DP20: per-source token-mass-weighted deciles of document length; "
        "integer cumulative mass, exact BIGINT decile predicate"
    ),
)
def dp20_token_mass_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_mass_quantiles(_docs(spark, sf_dir))


def token_mass_quantiles(docs: DataFrame) -> DataFrame:
    """dp20 core over any documents-shaped frame — separated for tests
    (hand corpora with closed-form deciles, empty/NULL text, one-doc
    sources)."""
    from pyspark.sql import Window

    lens = (
        docs.select(
            "source", X.token_count("text").cast("bigint").alias("token_count")
        )
        .filter(F.col("token_count") >= 1)
        .groupBy("source", "token_count")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("token_count")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )  # ≤ |distinct lengths| rows per source — bounded by the length
    # domain, not the corpus (see header); integer sum → order-free
    w_tot = Window.partitionBy("source")
    # bounded-row frame pinned so the corpus-scale count aggregate runs
    # ONCE for its two consumers (the decile frame and the theta-join
    # probe) — the dq10/s9 track() lesson, not exchange-reuse reliance
    cum = track(
        lens.select(
            "source",
            "token_count",
            (F.col("token_count") * F.col("n_docs")).alias("mass"),
            F.sum(F.col("token_count") * F.col("n_docs"))
            .over(w_cum)
            .cast("bigint")
            .alias("cum_mass"),
            F.sum(F.col("token_count") * F.col("n_docs"))
            .over(w_tot)
            .cast("bigint")
            .alias("total_mass"),
        ).persist()
    )
    ks = (
        cum.select("source", "total_mass")
        .distinct()
        .crossJoin(
            F.broadcast(
                cum.sparkSession.range(1, 10).select(
                    F.col("id").cast("int").alias("decile")
                )
            )
        )
    )
    # the decile predicate stays in BIGINT: 10·cum ≥ k·total — exact
    hit = (
        ks.alias("k")
        .join(
            cum.alias("c"),
            (F.col("c.source") == F.col("k.source"))
            & (
                F.lit(10) * F.col("c.cum_mass")
                >= F.col("k.decile").cast("bigint") * F.col("c.total_mass")
            ),
        )
        .groupBy(
            F.col("k.source").alias("source"),
            F.col("k.decile").alias("decile"),
            F.col("k.total_mass").alias("total_mass"),
        )
        .agg(
            F.min("c.token_count").alias("tokens_le"),
            F.min_by("c.cum_mass", "c.token_count").alias("cum_mass"),
        )
    )
    return hit.select(
        "source",
        "decile",
        "tokens_le",
        "cum_mass",
        "total_mass",
        fround(
            F.col("cum_mass").cast("double") / F.col("total_mass"), _R
        ).alias("mass_share"),
    ).orderBy("source", "decile")


def token_entropy_profile(docs: DataFrame) -> DataFrame:
    """t20 core over any documents-shaped frame — separated for tests
    (hand corpora with known closed-form entropies, empty/NULL text)."""
    tf = (
        docs.select(
            "doc_id", F.explode(X.tokens("text")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    perdoc = tf.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.max("c").cast("bigint").alias("top_c"),
        # ordered fold (see header): token-sorted c·ln(c) partial sums
        # are bit-identical to the oracle's list(... ORDER BY token)
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("token").alias("token"), F.col("c").alias("c"))
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc
            + x.getField("c").cast("double")
            * F.log(x.getField("c").cast("double")),
        ).alias("sum_clnc"),
    )
    n = F.col("n_tokens").cast("double")
    h = F.log(n) - F.col("sum_clnc") / n
    return perdoc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        fround(h, _R).alias("entropy"),
        F.when(
            F.col("n_distinct") > 1,
            fround(h / F.log(F.col("n_distinct").cast("double")), _R),
        )
        .otherwise(F.lit(0.0))
        .alias("norm_entropy"),
        fround(F.col("top_c").cast("double") / n, _R).alias(
            "top_token_share"
        ),
    ).orderBy("doc_id")
