"""Text-analysis column expressions (training-data pipeline extensions).

All pure JVM-side built-in functions (split / transform / aggregate /
filter lambdas) — no Python UDFs, so these stay inside whole-stage codegen
and scale linearly with input. Each helper has an exact DuckDB twin used by
the oracle queries (see operators/textstats.py).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Small stopword list shared with the oracle SQL (keep sorted, keep in sync).
STOPWORDS = ["a", "and", "in", "is", "of", "the", "to"]

FINGERPRINT_MOD = 1_000_000_007
FINGERPRINT_BASE = 31


def tokens(col: str = "text") -> Column:
    """Whitespace tokenization (the BPE-ish regex baseline)."""
    return F.split(F.trim(F.col(col)), r"\s+")


def token_count(col: str = "text") -> Column:
    return F.size(tokens(col))


def distinct_tokens(col: str = "text") -> Column:
    return F.array_distinct(tokens(col))


def stopword_count(col: str = "text") -> Column:
    toks = tokens(col)
    in_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return F.expr(
        f"size(filter(split(trim({col}), '\\\\s+'), t -> t IN ({in_list})))"
    )


def avg_token_length(col: str = "text") -> Column:
    toks = tokens(col)
    total_len = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    return total_len.cast("double") / F.size(toks)


def quality_score(col: str = "text") -> Column:
    """Composite [0,1] doc-quality heuristic: length term + non-stopword
    term + word-length term (weights 0.4/0.3/0.3)."""
    tc = token_count(col).cast("double")
    sw_ratio = stopword_count(col).cast("double") / tc
    return (
        F.least(tc / 200.0, F.lit(1.0)) * 0.4
        + (1.0 - sw_ratio) * 0.3
        + F.least(avg_token_length(col) / 8.0, F.lit(1.0)) * 0.3
    )


def fingerprint(col: str = "text") -> Column:
    """Deterministic rolling polynomial hash over characters:
    h = fold(chars, 0, (acc, c) -> (acc*31 + ascii(c)) % 1e9+7).
    Pure built-in exprs (sequence/transform/aggregate) — codegen'd."""
    return F.expr(
        f"aggregate(transform(sequence(1, length({col})), "
        f"i -> ascii(substring({col}, i, 1))), 0L, "
        f"(acc, c) -> (acc * {FINGERPRINT_BASE} + c) % {FINGERPRINT_MOD})"
    )


def ngrams_from_tokens(toks: Column, n: int = 3) -> Column:
    """ALL word n-grams (non-distinct, in document order) from a
    token-array column.

    Implemented as n shifted `slice`s zipped together (one struct per
    n-gram) rather than `element_at(split(...), i)` indexing — Catalyst
    inlines non-deterministic-free subexpressions into each lambda call
    site, so the index form re-runs the tokenizer per element (~45× slower
    measured at sf=0.1). Pass a *materialized* token column.
    """
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(
        *[F.slice(toks, j + 1, m).alias(f"t{j}") for j in range(n)]
    )
    return F.transform(
        zipped,
        lambda s: F.concat_ws(" ", *[s.getField(f"t{j}") for j in range(n)]),
    )


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token-array column (see
    ngrams_from_tokens for the slice-zip construction rationale)."""
    return F.array_distinct(ngrams_from_tokens(toks, n))


# ---------------------------------------------------------------------------
# DuckDB twins (SQL fragments) — interpolated into oracle queries.
# ---------------------------------------------------------------------------
SQL_TOKENS = "string_split_regex(trim({col}), '\\s+')"


def sql_tokens(col: str = "text") -> str:
    return SQL_TOKENS.format(col=col)


def sql_token_count(col: str = "text") -> str:
    # CAST to INTEGER: DuckDB len() is BIGINT, Spark size() is int
    return f"CAST(len({sql_tokens(col)}) AS INTEGER)"


def sql_stopword_count(col: str = "text") -> str:
    stoplist = ", ".join(f"'{w}'" for w in STOPWORDS)
    return (
        f"CAST(len(list_filter({sql_tokens(col)}, t -> t IN ({stoplist})))"
        " AS INTEGER)"
    )


def sql_avg_token_length(col: str = "text") -> str:
    return (
        f"CAST(list_sum(list_transform({sql_tokens(col)}, t -> length(t))) AS DOUBLE)"
        f" / len({sql_tokens(col)})"
    )


def sql_quality_score(col: str = "text") -> str:
    tc = f"CAST({sql_token_count(col)} AS DOUBLE)"
    sw = f"CAST({sql_stopword_count(col)} AS DOUBLE)"
    return (
        f"(least({tc} / 200.0, 1.0) * 0.4"
        f" + (1.0 - {sw} / {tc}) * 0.3"
        f" + least(({sql_avg_token_length(col)}) / 8.0, 1.0) * 0.3)"
    )


def sql_fingerprint(col: str = "text") -> str:
    # list_reduce has no explicit zero → prepend the 0 seed.
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, length({col}) + 1), "
        f"i -> CAST(ascii(substr({col}, i, 1)) AS BIGINT))), "
        f"(acc, c) -> (acc * {FINGERPRINT_BASE} + c) % {FINGERPRINT_MOD})"
    )


def sql_ngrams_from_tokens(toks_col: str = "toks", n: int = 3) -> str:
    """ALL n-grams (non-distinct) over a pre-computed token-list column
    (use inside a CTE that first computes ``toks``)."""
    parts = " || ' ' || ".join(f"{toks_col}[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len({toks_col}) >= {n} THEN "
        f"list_transform(range(1, len({toks_col}) - {n - 2}), "
        f"i -> {parts}) ELSE [] END"
    )


def sql_shingles_from_tokens(toks_col: str = "toks", n: int = 3) -> str:
    """Distinct-shingle expression over a pre-computed token-list column
    (use inside a CTE that first computes ``toks``)."""
    return f"list_distinct({sql_ngrams_from_tokens(toks_col, n)})"


# ---------------------------------------------------------------------------
# BPE-ish regex tokenizer. Whitespace split (`tokens`) counts words; this
# counts bounded subword units the way byte-pair vocabularies fragment
# text: letter runs chunked greedily to ≤4 chars (rare/long words cost
# several units), digit runs to ≤3 (the number-chunking of modern
# tokenizers), punctuation one unit each. The pattern uses only constructs
# with identical semantics in Java regex (Spark) and RE2 (DuckDB):
# character classes, bounded greedy quantifiers, alternation.
# ---------------------------------------------------------------------------
BPE_PATTERN = r"[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\s]"


def bpe_tokens(col: str = "text") -> Column:
    return F.regexp_extract_all(F.col(col), F.lit(BPE_PATTERN), F.lit(0))


def bpe_token_count(col: str = "text") -> Column:
    return F.size(bpe_tokens(col))


def sql_bpe_tokens(col: str = "text") -> str:
    # single-quoted std string: backslashes pass through to RE2 unescaped
    return f"regexp_extract_all({col}, '[A-Za-z]{{1,4}}|[0-9]{{1,3}}|[^A-Za-z0-9\\s]')"


def sql_bpe_token_count(col: str = "text") -> str:
    return f"CAST(len({sql_bpe_tokens(col)}) AS INTEGER)"
