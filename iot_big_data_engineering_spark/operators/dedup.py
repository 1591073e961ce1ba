"""Deduplication suite over the `documents` / `embeddings` tables
(training-data pipeline extension — BASELINE.json north star).

Five dedup families:
- exact (hash groupBy)                      → d1 / d2   (oracle-checked)
- n-gram Jaccard near-dup                   → d3        (oracle-checked)
- MinHash + LSH banding                     → d4        (planted-duplicate
                                                          certificate, oracle-
                                                          checked; raw pairs
                                                          property-tested in
                                                          tests/test_dedup.py)
- SimHash + Hamming radius                  → d5        (certificate like d4;
                                                          raw property-tested)
- embedding-cosine near-dup                 → d6        (oracle-checked)

Scale design (the point of MinHash/SimHash): the exact-Jaccard query d3 is
O(n²) within a blocking key and exists as the correctness anchor; d4/d5 are
the 100 TB path — candidate generation is a groupBy on (band, band_hash)
buckets (shuffle carries doc_id + 8 band keys, never the shingle sets), and
the quadratic verify runs only inside tiny buckets. All hashing is
`xxhash64` (JVM, codegen); arithmetic stays in [0, 2^62) so ANSI-mode
overflow checking never fires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..caching import track
from ..functions import text as X
from ..functions import vectors as V
from ..functions.rounding import fround
from ..registry import register
from ..sources.tables import load_table

_R = 6

# ---------------------------------------------------------------------------
# D1 — exact-dup corpus stats
# ---------------------------------------------------------------------------
@register(
    "d1_exact_dedup_stats",
    oracle="""
SELECT count(*) AS total_docs,
       count(DISTINCT text) AS distinct_texts,
       count(*) - count(DISTINCT text) AS duplicate_docs
FROM documents
""",
    doc="D1: exact-duplicate corpus statistics",
)
def d1_exact_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.count("*").alias("total_docs"),
        F.countDistinct("text").alias("distinct_texts"),
        (F.count("*") - F.countDistinct("text")).alias("duplicate_docs"),
    )


# ---------------------------------------------------------------------------
# D2 — exact dedup, keep-first (hash groupBy; md5 keys shared with oracle)
# ---------------------------------------------------------------------------
@register(
    "d2_exact_dedup_keep_first",
    oracle="""
SELECT md5(text) AS text_md5,
       min(doc_id) AS kept_doc_id,
       count(*) AS dup_count
FROM documents
GROUP BY md5(text)
""",
    doc="D2: exact dedup via content-hash groupBy, keep lowest doc_id",
)
def d2_exact_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("text_md5")).agg(
        F.min("doc_id").alias("kept_doc_id"),
        F.count("*").alias("dup_count"),
    )


# ---------------------------------------------------------------------------
# D3 — n-gram (word-trigram) Jaccard similarity, top-20 most-similar pairs
# within a language block. The exact O(n²)-within-block correctness anchor
# for the MinHash approximation below. Jaccard values are small-integer
# ratios → bit-identical across engines; ranking uses the rounded value +
# (doc_a, doc_b) tiebreak for full determinism.
# The anchor is capped to a deterministic corpus slice (doc_id < 1000):
# quadratic exact comparison is the *verifier*, not the scale path — D4
# (MinHash+LSH) covers the full corpus with near-linear cost.
# ---------------------------------------------------------------------------
def _docs_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-split local parquet → repartition so shingle/minhash folds
    # parallelize (no-op decision at real scale; input arrives pre-split)
    par = spark.sparkContext.defaultParallelism
    return load_table(spark, sf_dir, "documents").repartition(par, "doc_id")


_D3_CAP = 1000
_D8_TAU = 0.5  # the near-dup Jaccard threshold of d7/d7_full/d8b/d11 and
# textstats' dp2/dp7/dp9 (defined here: oracle f-strings above the d8
# section interpolate it at module-import time)
_SH = X.sql_shingles_from_tokens("toks", 3)
# The oracle twin of connected_components(near_dup_edges(documents)): d8's
# exact co-occurrence edge set at _D8_TAU, closed transitively by a
# recursive CTE (viable because the near-dup graph is tiny relative to the
# corpus at any SF). A CTE list for a WITH RECURSIVE head; it ends in
# comp(doc_id, cluster_id = min reachable doc_id) over clustered docs only.
_NEAR_DUP_COMP_SQL = f"""tok AS (
  SELECT doc_id, {X.sql_tokens("text")} AS toks FROM documents
),
shs AS (SELECT doc_id, {_SH} AS sh FROM tok),
szs AS (SELECT doc_id, sh, len(sh) AS sz FROM shs WHERE len(sh) > 0),
exs AS (SELECT doc_id, sz, unnest(sh) AS s FROM szs),
co AS (
  SELECT a.doc_id AS src, b.doc_id AS dst,
         a.sz AS sz_a, b.sz AS sz_b, count(*) AS o
  FROM exs a JOIN exs b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
),
edges AS (
  SELECT src, dst FROM co
  WHERE CAST(o AS DOUBLE) / (sz_a + sz_b - o) >= {_D8_TAU}
),
sym AS (SELECT src AS a, dst AS b FROM edges
        UNION SELECT dst, src FROM edges),
reach AS (
  SELECT a AS node, b AS peer FROM sym
  UNION
  SELECT r.node, s.b FROM reach r JOIN sym s ON r.peer = s.a
),
comp AS (
  SELECT node AS doc_id, least(node, min(peer)) AS cluster_id
  FROM reach GROUP BY node
)"""


@register(
    "d3_jaccard_pairs",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, {X.sql_tokens("text")} AS toks FROM documents
  WHERE doc_id < {_D3_CAP}
),
sh AS (
  SELECT doc_id, lang, {_SH} AS sh FROM tok
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.sh, b.sh)) AS inter_size,
         len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS union_size
  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE len(a.sh) > 0 AND len(b.sh) > 0
)
SELECT doc_a, doc_b,
       round(CAST(inter_size AS DOUBLE) / union_size, {_R}) AS jaccard
FROM pairs
ORDER BY jaccard DESC, doc_a, doc_b
LIMIT 20
""",
    doc="D3: exact word-trigram Jaccard, top-20 pairs (lang-blocked)",
)
def d3_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_par(spark, sf_dir).filter(F.col("doc_id") < _D3_CAP)
    sh = (
        d.withColumn("toks", X.tokens("text"))
        .select("doc_id", "lang", X.shingles_from_tokens(F.col("toks"), 3).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        # compute the intersection once; reuse for numerator and union size
        F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))).alias("inter_size"),
        (F.size(F.col("a.sh")) + F.size(F.col("b.sh"))).alias("size_sum"),
    )
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            fround(
                F.col("inter_size").cast("double")
                / (F.col("size_sum") - F.col("inter_size")),
                _R,
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "doc_a", "doc_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# D4 — MinHash + LSH banding (the 100 TB dedup path)
# ---------------------------------------------------------------------------
N_PERM = 32
N_BANDS = 8  # 4 rows per band → s-curve threshold ≈ (1/8)^(1/4) ≈ 0.6
_ROWS_PER_BAND = N_PERM // N_BANDS
_HASH_MOD = 1 << 31
_PERM_MOD = 1 << 32
# deterministic odd multipliers / offsets for the 32 permutations —
# DRIVER-side Python bigints (exact, no int64 to overflow); the naive
# Knuth multiply is fine here, unlike the engine-side samplers which
# use functions/hashing.knuth_hash32 (VERDICT r7 demand #3)
_PERM_A = [(2 * i + 1) * 2654435761 % _HASH_MOD | 1 for i in range(N_PERM)]
_PERM_B = [(i * 40503 + 12345) % _HASH_MOD for i in range(N_PERM)]


def shingle_table(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, sh) for docs passing the >=3-token shingle gate,
    as a TRACKED PERSIST: the signature kernel and the exact-Jaccard
    verify stage both read it (projection collapse would otherwise re-run
    the tokenize→shingle tree per consumer — measured ~3× wall at sf0.1).
    At real scale this is the materialized shingle/signature side table a
    dedup service maintains."""
    return track(
        docs.withColumn("toks", X.tokens("text"))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            "lang",
            X.shingles_from_tokens(F.col("toks"), 3).alias("sh"),
        )
        .persist()
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id, sig (minhash signature) for docs with >= 3 tokens."""
    return signatures_from_shingles(shingle_table(docs))


def signatures_from_shingles(shingled: DataFrame) -> DataFrame:
    """(doc_id, sh, ...) → (doc_id, sig).

    Shingle hashing stays JVM-side (xxhash64, codegen — once per shingle,
    not per shingle×permutation). The 32-permutation min-fold is an
    Arrow-batched numpy kernel: one `minimum.reduceat` sweep per
    permutation over the concatenated hash array — measured ~10× faster
    than the equivalent 32 interpreted `array_min(transform(...))` Column
    folds, and it's pure map-side (no shuffle) so it scales with input
    splits. The kernel's Arrow boundary carries ONLY (doc_id, hs) in and
    (doc_id, sig) out — the shingle string arrays themselves never cross
    into Python (they used to ride through as dead weight, ~25% of d4's
    wall); consumers that need them (verify) join the shingle table
    JVM-side by doc_id instead."""
    import numpy as np
    import pandas as pd

    base = shingled.select(
        "doc_id",
        F.transform(
            F.col("sh"), lambda s: F.pmod(F.xxhash64(s), F.lit(_HASH_MOD))
        ).alias("hs"),
    )
    A = np.asarray(_PERM_A, dtype=np.uint64)
    B = np.asarray(_PERM_B, dtype=np.uint64)
    mod = np.uint64(_PERM_MOD)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            hs = pdf["hs"].to_numpy()
            lens = np.fromiter((len(h) for h in hs), dtype=np.int64, count=len(hs))
            H = np.concatenate(hs).astype(np.uint64)  # h < 2^31: a·h+b < 2^62, no wrap
            offs = np.zeros(len(hs), dtype=np.int64)
            np.cumsum(lens[:-1], out=offs[1:])
            sigs = np.empty((len(hs), N_PERM), dtype=np.uint64)
            for i in range(N_PERM):
                v = (H * A[i] + B[i]) % mod
                sigs[:, i] = np.minimum.reduceat(v, offs)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sig": [row.astype(np.int64).tolist() for row in sigs],
                }
            )

    return base.mapInPandas(kernel, schema="doc_id bigint, sig array<bigint>")


def band_table(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bucket): one row per signature band — the LSH index
    layout itself. At scale this IS the stored dedup state: written once
    partitioned/bucketed by (band, bucket), it serves both the full
    self-join (d4) and incremental delta lookups (d10) as key-only
    joins."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.xxhash64(
                            *[
                                F.col("sig")[i * _ROWS_PER_BAND + j]
                                for j in range(_ROWS_PER_BAND)
                            ]
                        ).alias("bucket"),
                    )
                    for i in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def lsh_candidate_pairs(sigs: DataFrame, dedupe: bool = True) -> DataFrame:
    """Band the signatures, bucket-join: pairs sharing any band bucket.
    ``dedupe=False`` skips the global distinct — for consumers that
    tolerate (or re-dedupe) multi-band collisions downstream, e.g. the
    d4 certificate, which dedupes at its plant-count-sized tail instead
    of paying an exchange over every candidate pair."""
    bands = band_table(sigs)
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    return pairs.distinct() if dedupe else pairs


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """The raw d4 pipeline: MinHash(32) signatures → LSH band-bucket
    candidates → exact-Jaccard verify ≥ 0.5. Returns (doc_a, doc_b,
    jaccard) ordered by similarity.

    The shingle table is referenced 3× (signature kernel + both verify
    sides); without persist the tokenize→shingle pipeline runs 3× (at
    scale: write shingles/sigs to tables once, then band/verify read
    them). Cleanup is caller-owned via caching.release_caches() —
    unpersisting here would evict before the lazy result is ever
    materialized."""
    shingled = shingle_table(docs)
    # the banding self-join references the signature output twice; the
    # persist is slim now (doc_id + 32 longs — shingles live JVM-side in
    # the shingle table)
    sigs = track(signatures_from_shingles(shingled).persist())
    cands = lsh_candidate_pairs(sigs)
    sh = shingled.select("doc_id", "sh")
    verified = (
        cands.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        verified.select(
            "doc_a",
            "doc_b",
            fround(inter.cast("double") / union, _R).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
        .orderBy(F.col("jaccard").desc(), "doc_a", "doc_b")
    )


# The registered d4/d5 queries are SELF-CERTIFYING planted-duplicate
# probes (same contract as s2/s3 — see similarity.py's certificate block
# comment): which candidate pairs LSH banding / SimHash blocking surface
# is index-dependent and no SQL oracle can replicate it, but the defining
# guarantee is SQL-statable — an EXACT text copy has the identical shingle
# set, hence identical MinHash signature and band buckets (d4) / identical
# token-hash set, hence identical 64-bit SimHash and Hamming distance 0
# (d5) — so the unchanged pipeline must recover every planted (orig, copy)
# pair, deterministically, on any corpus. The oracle states that guarantee
# as TRUE per eligible planted doc; a pipeline regression flips a boolean
# and fails the driver hash gate. Raw pair output stays available via
# minhash_lsh_pairs / simhash_pairs and keeps its recall property tests
# vs the d3/d8 exact anchors (tests/test_dedup.py).
_N_PLANT = 5
_PLANT_OFFSET = 10_000_000  # far above any real doc_id at any SF


def _plant_copies(d: DataFrame) -> DataFrame:
    """corpus ∪ exact copies of doc_id < _N_PLANT (copy id = orig + offset)."""
    planted = d.filter(F.col("doc_id") < _N_PLANT).withColumn(
        "doc_id", F.col("doc_id") + F.lit(_PLANT_OFFSET)
    )
    return d.unionByName(planted)


def _certify_planted_pairs(
    pairs: DataFrame, eligible: DataFrame, flag: str
) -> DataFrame:
    """One row per eligible planted doc: did the pipeline emit the
    (orig, orig+offset) pair? Missing → explicit FALSE (loud hash fail)."""
    found = (
        pairs.filter(
            (F.col("doc_a") < _N_PLANT)
            & (F.col("doc_b") == F.col("doc_a") + F.lit(_PLANT_OFFSET))
        )
        .select(F.col("doc_a").alias("doc_id"))
        # callers may feed non-deduped candidate pairs (d4's dedupe=False
        # path); collapse here, at plant-count size, so the left join
        # below can never fan out a certificate row
        .dropDuplicates(["doc_id"])
        .withColumn("hit", F.lit(True))
    )
    return (
        eligible.join(found, "doc_id", "left")
        .select("doc_id", F.coalesce("hit", F.lit(False)).alias(flag))
        .orderBy("doc_id")
    )


@register(
    "d4_minhash_lsh_dedup",
    # eligible = planted docs that shingle at all (>= 3 tokens — the same
    # gate minhash_signatures applies); the copy then has jaccard exactly
    # 1.0 and MUST come back through banding + verify
    oracle=f"""
SELECT doc_id, TRUE AS planted_dup_found
FROM documents
WHERE doc_id < {_N_PLANT} AND len({X.sql_tokens("text")}) >= 3
ORDER BY doc_id
""",
    doc="D4: MinHash(32)+LSH(8×4) planted-duplicate certificate",
)
def d4_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same pipeline stages as minhash_lsh_pairs (shingles → signatures →
    # banding → bucket join → exact-Jaccard verify), inlined so the
    # certificate can (a) derive the ELIGIBILITY set from the persisted
    # shingle table — a planted copy shingled ⟺ its (text-identical)
    # original passed the >=3-token gate — instead of re-running tokenize
    # over raw text, and (b) skip minhash_lsh_pairs' global orderBy: the
    # certificate consumes the verified PAIR SET, not a similarity
    # ranking, so sorting every pair before the jaccard==1.0 filter was
    # pure shuffle waste.
    d = _docs_par(spark, sf_dir)
    shingled = shingle_table(_plant_copies(d))
    sigs = track(signatures_from_shingles(shingled).persist())
    # dedupe=False: multi-band collisions re-verify a pair (bounded ×8),
    # cheaper than the global distinct exchange; _certify_planted_pairs
    # below dedupes at the plant-count-sized tail
    cands = lsh_candidate_pairs(sigs, dedupe=False)
    sh = shingled.select("doc_id", "sh")
    verified = cands.join(
        sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"),
        "doc_a",
    ).join(
        sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"),
        "doc_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    pairs = verified.select(
        "doc_a",
        "doc_b",
        fround(inter.cast("double") / union, _R).alias("jaccard"),
    # require full similarity, not just presence: an exact copy that
    # came back with jaccard < 1 would certify a verify-stage bug
    ).filter(F.col("jaccard") == 1.0)
    eligible = shingled.filter(F.col("doc_id") < _N_PLANT).select("doc_id")
    return _certify_planted_pairs(pairs, eligible, "planted_dup_found")


# ---------------------------------------------------------------------------
# D10 — INCREMENTAL dedup maintenance: the daily-arrival complement of d4.
# A production corpus is not re-deduplicated from scratch per batch; the
# shingle/signature/band tables are materialized state, and a new DELTA
# batch is shingled/signed/banded map-only and joined against the stored
# band table. Candidate generation is delta ⋈ state — O(|delta| · bands)
# probe rows against a (band, bucket)-partitioned index — never the
# corpus² self-join, and corpus text is touched only to verify the
# delta's own candidates. This is the shape a 100 TB ingest pipeline
# actually runs daily; d4 is its bootstrap.
#
# Certificate (d4's contract): the delta is planted as exact copies of
# doc_id < 5, so every eligible copy must surface its (orig, copy) pair
# through the delta-side banding → state join → verify at jaccard 1.0.
# ---------------------------------------------------------------------------
@register(
    "d10_dedup_delta",
    oracle=f"""
SELECT doc_id, TRUE AS planted_dup_found
FROM documents
WHERE doc_id < {_N_PLANT} AND len({X.sql_tokens("text")}) >= 3
ORDER BY doc_id
""",
    doc="D10: incremental dedup — delta batch banded against the corpus state, planted-copy certificate",
)
def d10_dedup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_par(spark, sf_dir)
    # corpus state — in production these three are tables written once
    # (shingles, signatures, bands) and only READ here
    shingled = shingle_table(d)
    corpus_bands = band_table(
        track(signatures_from_shingles(shingled).persist())
    )
    # the arriving delta: planted copies of 5 existing docs
    delta = d.filter(F.col("doc_id") < _N_PLANT).withColumn(
        "doc_id", F.col("doc_id") + F.lit(_PLANT_OFFSET)
    )
    delta_sh = shingle_table(delta)
    delta_bands = band_table(signatures_from_shingles(delta_sh))
    cands = (
        delta_bands.alias("n")
        .join(
            corpus_bands.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.bucket") == F.col("c.bucket")),
        )
        # corpus doc = doc_a (small id), delta doc = doc_b; multi-band
        # collisions stay (certify dedupes at its plant-count tail)
        .select(
            F.col("c.doc_id").alias("doc_a"), F.col("n.doc_id").alias("doc_b")
        )
    )
    sh_a = shingled.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = delta_sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = cands.join(sh_a, "doc_a").join(sh_b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    pairs = verified.select(
        "doc_a",
        "doc_b",
        fround(inter.cast("double") / union, _R).alias("jaccard"),
    ).filter(F.col("jaccard") == 1.0)
    eligible = delta_sh.select(
        (F.col("doc_id") - F.lit(_PLANT_OFFSET)).alias("doc_id")
    )
    return _certify_planted_pairs(pairs, eligible, "planted_dup_found")


# ---------------------------------------------------------------------------
# D5 — SimHash (64-bit) + Hamming-distance near-dup
# ---------------------------------------------------------------------------
def simhash_col() -> F.Column:
    """64-bit SimHash over distinct-token xxhash64 values, via built-in
    lambda exprs: bit j set iff majority of token-hashes have bit j set."""
    return F.expr(
        """
        aggregate(
          sequence(0, 63),
          0L,
          (acc, j) -> acc + IF(
            2 * size(filter(th, h -> ((h >> j) & 1) = 1)) >= size(th),
            shiftleft(1L, j), 0L))
        """
    )


def _simhash_sims(d: DataFrame) -> DataFrame:
    """(doc_id, lang, simhash) — 64-bit SimHash per doc, JVM-side."""
    return (
        d.select(
            "doc_id",
            "lang",
            F.transform(X.distinct_tokens("text"), lambda t: F.xxhash64(t)).alias("th"),
        )
        .filter(F.size("th") > 0)
        .withColumn("simhash", simhash_col())
        .select("doc_id", "lang", "simhash")
    )


def _hamming(a: str = "a.simhash", b: str = "b.simhash") -> F.Column:
    return F.bit_count(F.col(a).bitwiseXOR(F.col(b)))


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """The raw d5 pipeline: top-100 nearest pairs by SimHash Hamming
    distance within language blocks (property-tested: symmetry,
    self-distance 0, recall on near-dups)."""
    sims = _simhash_sims(docs)
    a, b = sims.alias("a"), sims.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            _hamming().alias("hamming"),
        )
        .orderBy("hamming", "doc_a", "doc_b")
        .limit(100)
    )


@register(
    "d5_simhash_neardup",
    # identical text → identical distinct-token hash set → identical
    # SimHash → Hamming 0 (see the d4 certificate block comment)
    oracle=f"""
SELECT doc_id, TRUE AS planted_zero_hamming
FROM documents
WHERE doc_id < {_N_PLANT} AND text IS NOT NULL
ORDER BY doc_id
""",
    doc="D5: 64-bit SimHash planted-duplicate certificate (Hamming 0)",
)
def d5_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_par(spark, sf_dir).filter(F.col("doc_id") < _D3_CAP)
    sims = _simhash_sims(_plant_copies(d))
    # r17 optimization: the certificate only consumes (orig, orig+offset)
    # pairs, so restrict BOTH join sides before the 64-bit SimHash fold
    # runs — side a to the plants' originals (the join condition already
    # implied it; now it prunes the scan) and side b to the planted
    # copies (implied by b.doc_id = a.doc_id + offset ≥ offset, which the
    # optimizer cannot derive on its own). The fold previously ran over
    # the full capped corpus on the unfiltered side; the pair set and the
    # certificate rows are unchanged. The corpus-scale SimHash pipeline
    # stays exercised (and property-tested) via simhash_pairs.
    a = sims.filter(F.col("doc_id") < _N_PLANT).alias("a")
    b = sims.filter(F.col("doc_id") >= _PLANT_OFFSET).alias("b")
    planted_pairs = (
        a.join(
            b,
            # eqNullSafe: a planted copy shares its original's lang BY
            # CONSTRUCTION, including lang = NULL (nullable per schema) —
            # plain == would evaluate NULL, silently drop the pair, and
            # fail the certificate on a doc the oracle counts eligible
            F.col("a.lang").eqNullSafe(F.col("b.lang"))
            & (F.col("a.doc_id") < F.lit(_N_PLANT))
            & (F.col("b.doc_id") == F.col("a.doc_id") + F.lit(_PLANT_OFFSET)),
        )
        .select(F.col("a.doc_id").alias("doc_a"), _hamming().alias("hamming"))
    )
    eligible = (
        d.filter((F.col("doc_id") < _N_PLANT) & F.col("text").isNotNull())
        .select("doc_id")
    )
    found = (
        planted_pairs.filter(F.col("hamming") == 0)
        .select(F.col("doc_a").alias("doc_id"))
        .withColumn("hit", F.lit(True))
    )
    return (
        eligible.join(found, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("hit", F.lit(False)).alias("planted_zero_hamming"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# D6 — embedding-cosine near-dup (label-blocked; oracle-checked). Like d3,
# this is the EXACT correctness anchor — here for the s2/s3 ANN paths and
# the d4-style approximations over embeddings — so it is capped to a
# deterministic corpus slice (vec_id < 1000, the d3 convention): candidate
# pairs grow as Σ per-label n², and an uncapped within-label all-pairs
# join is exactly the quadratic that must never run at 100 TB. The scale
# paths are s2 (IVF cells) and s3 (LSH buckets), both bucket-prunable.
# ---------------------------------------------------------------------------
_D6_CAP = 1000


@register(
    "d6_embedding_neardup",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
  WHERE vec_id < {_D6_CAP}
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {V.sql_cosine("a.v", "b.v")} AS cos
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, round(cos, {_R}) AS cosine
FROM pairs
ORDER BY round(cos, {_R}) DESC, vec_a, vec_b
LIMIT 50
""",
    doc="D6: embedding cosine near-dup anchor, top-50 pairs (capped slice)",
)
def d6_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import load_embeddings

    # the cap filter pushes below the repartition, so only the capped
    # slice is shuffled
    e = load_embeddings(
        spark, sf_dir, "vec_id", "label", repartition=True
    ).filter(F.col("vec_id") < _D6_CAP)
    a, b = e.alias("a"), e.alias("b")
    cos = V.cosine(F.col("a.v"), F.col("b.v"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            fround(cos, _R).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_a", "vec_b")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# D7 — dedup clustering: pairwise near-dup edges → connected components →
# canonical doc per cluster (keep = lowest doc_id). The missing last step
# of production dedup: pairs alone can chain (A~B, B~C) so removal must
# operate on components, not edges.
#
# Connected components run as iterative min-label propagation in pure
# DataFrame ops: each round joins labels across (symmetrized) edges and
# takes the per-node min; the driver checks a single count for
# convergence. Rounds needed = graph diameter (near-dup clusters are
# shallow — a handful of rounds); each round is one shuffle on doc_id.
# This is the standard Spark shape for small-diameter iterative graph
# algorithms; the oracle is a recursive-CTE transitive closure (viable
# because candidate graphs are tiny relative to the corpus).
# ---------------------------------------------------------------------------
# ≤ 1M (long, long) edges ≈ 16 MB collected — the same order as Spark's
# own broadcast-join threshold; beyond it CC iterates distributed. The
# 16 MB is honest because the collect goes through Arrow into flat int64
# arrays — NOT collect()'s per-Row Python objects, which cost ~100× that
# for the same edges and could stall a default-memory driver right at
# the cap (ADVICE r6); the union-find state is two more int64 arrays of
# |nodes|, so peak driver memory stays a few × the raw edge bytes.
_CC_DRIVER_EDGE_CAP = 1_000_000


def _cc_driver_finish(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Union-find over a collected (bounded, see _CC_DRIVER_EDGE_CAP)
    edge list; emits (node, component=min reachable node id) with exactly
    the distributed loop's semantics. Arrow-columnar end to end: int64
    numpy arrays in, dense index-based union-find, pandas out."""
    import numpy as np

    tbl = edges.toArrow()  # flat int64 columns — no Row materialization
    # fail loudly on NULL endpoints: the null→NaN-float→int64 cast below
    # would otherwise silently mint garbage node ids and wrong components
    # (r7 ADVICE). Current callers produce non-null edges (inner joins),
    # so this is a tripwire for future callers, not a live path.
    for ci in (0, 1):
        if tbl.column(ci).null_count:
            raise ValueError(
                f"_cc_driver_finish: edge column {tbl.column_names[ci]!r} "
                f"has {tbl.column(ci).null_count} NULL endpoint(s)"
            )
    a = tbl.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
    b = tbl.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
    nodes = np.unique(np.concatenate([a, b]))
    if len(nodes) == 0:
        return edges.sparkSession.createDataFrame(
            [], "node long, component long"
        )
    parent = np.arange(len(nodes), dtype=np.int64)

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for x, y in zip(
        np.searchsorted(nodes, a).tolist(), np.searchsorted(nodes, b).tolist()
    ):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[rx] = ry
    roots = np.fromiter(
        (find(i) for i in range(len(nodes))), dtype=np.int64, count=len(nodes)
    )
    # component label = min node id reachable: scatter-min node ids onto
    # their roots, then gather per node
    mins = np.full(len(nodes), np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(mins, roots, nodes)
    import pandas as pd

    return edges.sparkSession.createDataFrame(
        pd.DataFrame({"node": nodes, "component": mins[roots]})
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 50,
    driver_cap: int = _CC_DRIVER_EDGE_CAP,
) -> DataFrame:
    """(src, dst) undirected edges → (node, component) with component =
    min node id reachable. Converges in <= diameter iterations; each
    iteration is join + groupBy-min. Labels materialize per round
    (localCheckpoint) so the plan doesn't grow exponentially.

    Raises RuntimeError if max_iters rounds pass without convergence
    (changed > 0) — silently returning partial labels would emit wrong
    cluster ids for near-dup chains longer than the cap. min-label
    propagation needs <= diameter rounds, so 50 covers any realistic
    near-dup graph; raise the cap for adversarial chain-shaped inputs.

    Small graphs finish on the driver: every distributed round is a
    join + groupBy + materialize + count — ~4 scheduled jobs of pure
    round-trip latency when the edge set is tiny (measured 1.4 s/round
    on a 256-edge graph at sf0.1). When the edge list is under
    _CC_DRIVER_EDGE_CAP it is collected and solved with one union-find
    pass — the same size regime in which Spark itself would broadcast a
    join side. Near-dup edge graphs at 100 TB exceed the cap and take
    the distributed path; the semantics (component = min reachable node
    id) are identical.

    The input is read up to three times: the size count, then either
    the driver collect or both branches of the symmetrizing unionAll.
    It is not materialized here — callers pass ``near_dup_edges``'
    output, which is checkpointed once where it is built, so an
    expensive edge plan (a similarity join) never runs more than once."""
    edges = edges.select(F.col(src).alias(src), F.col(dst).alias(dst))
    if edges.count() <= driver_cap:
        return _cc_driver_finish(edges, src, dst)
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionAll(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy("a")
            .agg(F.min("component").alias("nmin"))
        )
        # carry the previous label through the checkpoint so convergence
        # is a filter+count on the materialized rows — not a second
        # labels⋈labels join per round
        stepped = (
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .select(
                "node",
                F.col("component").alias("prev"),
                F.least(
                    "component", F.coalesce("nmin", F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint()
        )
        changed = stepped.filter(F.col("component") != F.col("prev")).count()
        labels = stepped.select("node", "component")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} iterations; "
        "edge graph diameter exceeds the cap — raise max_iters"
    )


@register(
    "d7_dedup_clusters",
    oracle=f"""
WITH RECURSIVE tok AS (
  SELECT doc_id, lang, {X.sql_tokens("text")} AS toks FROM documents
  WHERE doc_id < {_D3_CAP}
),
sh AS (SELECT doc_id, lang, {_SH} AS sh FROM tok),
edges AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE len(a.sh) > 0 AND len(b.sh) > 0
    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= {_D8_TAU}
),
sym AS (SELECT src AS a, b FROM (SELECT src, dst AS b FROM edges) t
        UNION SELECT dst, src FROM edges),
reach AS (
  SELECT a AS node, b AS peer FROM sym
  UNION
  SELECT r.node, s.b FROM reach r JOIN sym s ON r.peer = s.a
)
SELECT node AS doc_id,
       least(node, min(peer)) AS cluster_id,
       node = least(node, min(peer)) AS is_canonical
FROM reach GROUP BY node
""",
    doc="D7: near-dup pairs → connected components → canonical per cluster",
)
def d7_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # edge generation reuses the d8 prefix-filtered similarity join
    # (lang-blocked, same tau semantics as the quadratic form the oracle
    # computes) — near-linear instead of all-pairs-within-lang
    d = _docs_par(spark, sf_dir).filter(F.col("doc_id") < _D3_CAP)
    comp = connected_components(
        near_dup_edges(d, block_col="lang", carry_arrays=True)
    )
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# D7-FULL — the same clustering over the FULL corpus, no cap, no lang
# block: edges come from the d8 prefix-filtered exact-Jaccard join
# (near-linear), so nothing in the plan is quadratic — this is the actual
# 100 TB dedup-clustering path, and d7 above is its capped anchor twin.
# The oracle recomputes the exact edge set via the d8 co-occurrence SQL
# and closes it transitively with a recursive CTE (viable because the
# near-dup graph is tiny relative to the corpus at any SF).
# ---------------------------------------------------------------------------
@register(
    "d7_dedup_clusters_full",
    oracle=f"""
WITH RECURSIVE {_NEAR_DUP_COMP_SQL}
SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical
FROM comp
""",
    doc="D7-full: near-dup clusters over the FULL corpus (d8 edges → CC)",
)
def d7_dedup_clusters_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = connected_components(near_dup_edges(_docs_par(spark, sf_dir)))
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# D8 — exact n-gram Jaccard similarity JOIN at corpus scale via prefix
# filtering (AllPairs/PPJoin family). This closes the gap between d3 (exact
# but O(n²), capped) and d4 (scalable but approximate): d8 returns the
# EXACT Jaccard >= tau pairs over the FULL corpus with near-linear cost.
#
# How it scales: each doc's distinct shingles are hashed to int64
# (xxhash64, JVM-side) and sorted — the sorted hash order is a global total
# order over tokens. For Jaccard >= tau it is sufficient to index only the
# first  |s| - ceil(tau*|s|) + 1  elements of each sorted set (the
# "prefix"): if a qualifying pair shared no prefix element of one side,
# its overlap would be <= |s| - prefix_len = ceil(tau*|s|) - 1 < tau*|s|,
# contradicting J >= tau (which forces overlap >= tau*|s∪t| >= tau*|s|).
# Candidate generation is therefore an equi-join on exploded PREFIX hashes
# — the shuffle carries (hash, doc_id, sorted-sig) for ~(1-tau) of the
# tokens, never the all-pairs cross product — and the exact verify runs
# once per distinct candidate pair. At 100 TB the standard refinement is
# to order tokens by ascending document frequency (rarest first) so hot
# shingles leave the prefix; hash order is the unbiased stand-in here and
# the join key distribution is additionally AQE-skew-splittable.
# ---------------------------------------------------------------------------
def prefix_jaccard_pairs(
    docs: DataFrame,
    tau: float,
    block_col: str | None = None,
    carry_arrays: bool = False,
    order_by_df: bool = False,
) -> DataFrame:
    """Exact Jaccard >= tau pairs (doc_a, doc_b, jc) over word-trigram
    shingle sets, via AllPairs prefix filtering (see d8's block comment).
    ``block_col`` optionally adds an equality blocking key to the
    candidate join (e.g. lang) — pairs differing on it are excluded.
    ``carry_arrays=True`` ships the shingle arrays through the candidate
    join instead of joining them back from the signature table — fewer
    stages, right for SMALL/capped inputs (d7's 1000-doc anchor slice);
    the default bare-pair form is the corpus-scale plan (arrays move once
    per doc, never once per candidate duplicate).
    ``order_by_df=True`` re-sorts every shingle set under ascending
    corpus document frequency (ties → hash) before taking prefixes — the
    canonical AllPairs refinement: hot shingles sink to the set suffix
    and leave the indexed prefix, so candidate volume drops and the
    equi-join keys de-skew. Any GLOBAL total order preserves exactness
    ((df, hash) is one), so results are bit-identical to the hash-order
    default; costs two extra shuffles (df aggregate + per-doc regroup) —
    worth it when the corpus has heavy-tailed shingle frequencies."""
    # ONE evaluation of the tokenize→shingle→hash→sort tree, materialized:
    # Catalyst's projection collapse re-inlines a referenced column
    # expression into every downstream use (sz, the slice, the filter), so
    # without the persist the shingle tree would run 3-4× (measured ~3× the
    # wall time at sf0.1). The pre-filter uses size(toks) — a doc shingles
    # iff it has >= 3 tokens — so the sh tree isn't re-run for the filter.
    sig = track(
        docs.withColumn("toks", X.tokens("text"))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            *([block_col] if block_col else []),
            F.array_sort(
                F.transform(
                    X.shingles_from_tokens(F.col("toks"), 3),
                    lambda s: F.xxhash64(s),
                )
            ).alias("sh"),
        )
        .persist()
    )
    if order_by_df:
        # corpus-wide df per shingle hash, then per-doc re-sort under the
        # (df, hash) global order. collect_list order is nondeterministic;
        # the array_sort on (df, h) structs makes the result order exact.
        ex = sig.select(
            "doc_id",
            *([block_col] if block_col else []),
            F.explode("sh").alias("h"),
        )
        dfreq = ex.groupBy("h").agg(F.count("*").alias("df"))
        sig = track(
            ex.join(dfreq, "h")
            .groupBy("doc_id", *([block_col] if block_col else []))
            .agg(
                F.array_sort(F.collect_list(F.struct("df", "h"))).alias("p")
            )
            .select(
                "doc_id",
                *([block_col] if block_col else []),
                F.transform("p", lambda s: s.getField("h")).alias("sh"),
            )
            .persist()
        )
    # candidate generation shuffles ONLY (doc_id, sz, prefix-hash[, block])
    # — never the shingle arrays. An earlier form carried both sides'
    # arrays through the join + pair-dedup: ~500 MB of shuffle at sf0.1
    # (vs ~15 MB bare) and the dominant, GC-noisy stage of the query. The
    # arrays join back from the cached signature table only for the
    # verify pass, so they move once per doc, not once per candidate.
    pref = sig.select(
        "doc_id",
        *([block_col] if block_col else []),
        *(["sh"] if carry_arrays else []),
        F.size("sh").alias("sz"),
        # prefix_len = |s| - ceil(tau·|s|) + 1. The ceil is guarded
        # against double overshoot: for taus where tau·|s| is an exact
        # integer k the product can evaluate to k+ε (e.g. 0.55·100 =
        # 55.000000000000007) and an unguarded ceil would return k+1 —
        # prefix one element too SHORT, silently dropping qualifying
        # pairs. Subtracting 1e-9 (far above one ulp at any realistic
        # |s|, far below any true fractional part) restores exactness;
        # undershoot needs no guard (ceil(k-ε) = k already).
        F.explode(
            F.expr(
                f"slice(sh, 1, int(size(sh) - ceil({tau}d * size(sh) - 1e-9) + 1))"
            )
        ).alias("p"),
    )
    a, b = pref.alias("a"), pref.alias("b")
    # size-compatibility filter (AllPairs): J(a,b) >= tau forces
    # tau*|a| <= |b| <= |a|/tau — prunes candidates before the exact
    # verify without touching the arrays
    cond = (
        (F.col("a.p") == F.col("b.p"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.col("b.sz").cast("double") >= F.lit(tau) * F.col("a.sz"))
        & (F.col("b.sz").cast("double") <= F.col("a.sz") / F.lit(tau))
    )
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    cand = (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *(
                [F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b")]
                if carry_arrays
                else []
            ),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        # a pair can share several prefix hashes — verify each pair once
        .dropDuplicates(["doc_a", "doc_b"])
    )
    if carry_arrays:
        verified = cand
    else:
        # the cached signature table is MB-scale locally and broadcasts;
        # at 100 TB these become shuffle hash joins on doc_id
        sh_a = sig.select(
            F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
        )
        sh_b = sig.select(
            F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
        )
        verified = cand.join(sh_a, "doc_a").join(sh_b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jc = inter.cast("double") / (F.col("sz_a") + F.col("sz_b") - inter)
    return (
        verified.withColumn("jc", jc)
        .filter(F.col("jc") >= F.lit(tau))
        .select("doc_a", "doc_b", "jc")
    )


def near_dup_edges(
    docs: DataFrame, block_col: str | None = None, carry_arrays: bool = False
) -> DataFrame:
    """The near-duplicate graph of a (doc_id, text[, block_col]) frame:
    (src, dst) pairs with word-trigram Jaccard >= _D8_TAU, from
    prefix_jaccard_pairs (``block_col`` and ``carry_arrays`` pass
    through). The edge list is localCheckpointed here, once, because
    every consumer reads it more than once — connected_components up to
    three times, dp9 again for its certificate join — and each read of
    an unmaterialized edge plan would re-run the similarity join."""
    return (
        prefix_jaccard_pairs(
            docs, _D8_TAU, block_col=block_col, carry_arrays=carry_arrays
        )
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .localCheckpoint()
    )


_D8_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {X.sql_tokens("text")} AS toks FROM documents
),
sh AS (
  SELECT doc_id, {_SH} AS sh FROM tok
),
sz AS (
  SELECT doc_id, sh, len(sh) AS sz FROM sh WHERE len(sh) > 0
),
ex AS (
  SELECT doc_id, sz, unnest(sh) AS s FROM sz
),
co AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sz AS sz_a, b.sz AS sz_b, count(*) AS o
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       round(CAST(o AS DOUBLE) / (sz_a + sz_b - o), {_R}) AS jaccard
FROM co
WHERE CAST(o AS DOUBLE) / (sz_a + sz_b - o) >= {_D8_TAU}
ORDER BY doc_a, doc_b
"""


# d8_jaccard_join_prefix (the unordered-prefix variant) is not
# registered: it shared _D8_ORACLE literally with d8b below and was
# bit-identical by construction, so the df-ordered variant subsumes it.
# The order_by_df=False code path stays brute-force-tested in
# tests/test_dedup.py.
@register(
    "d8b_jaccard_join_df_prefix",
    # any global token order preserves AllPairs exactness, so this oracle
    # (shared with the unregistered unordered twin) pins that the df-ordered
    # refinement is an optimization, never a semantics change
    oracle=_D8_ORACLE,
    doc="D8B: prefix-filtered exact Jaccard>=0.5 join, ascending-df ordering",
)
def d8b_jaccard_join_df_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = prefix_jaccard_pairs(
        _docs_par(spark, sf_dir), _D8_TAU, order_by_df=True
    )
    return pairs.select(
        "doc_a", "doc_b", fround(F.col("jc"), _R).alias("jaccard")
    ).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# D13 — exact CONTAINMENT near-dup join: the asymmetry axis the dedup
# family still lacked. d3/d8b measure SYMMETRIC Jaccard |∩|/|∪| — a
# 40-shingle document quoted whole
# inside a 4,000-shingle page scores J ≈ 0.01 and sails past every
# Jaccard threshold, yet for training-data hygiene the small doc IS a
# duplicate (its content is fully contained in the big one: boilerplate
# inclusions, quote-expansions, page-within-crawl). d13 returns the
# EXACT pairs whose max directional containment
# max(|∩|/|A|, |∩|/|B|) = |∩|/min(|A|,|B|) ≥ τ (τ = 0.8) over the
# same word-trigram shingle sets d8b uses.
#
# How it scales (the d8 AllPairs argument, asymmetric form): a
# qualifying pair needs overlap ≥ τ·|s| where s is the SMALLER set, so
# the first |s| − ⌈τ·|s|⌉ + 1 sorted-hash elements of s (its "prefix")
# must intersect the larger set SOMEWHERE — if they all missed, the
# overlap would fit inside the remaining ⌈τ·|s|⌉ − 1 < τ·|s| elements.
# Candidate generation is therefore an equi-join of the SMALL side's
# exploded prefix (~(1−τ) of its tokens) against the full exploded
# token table (linear in corpus size — never all-pairs), with the
# (size, doc_id) lexicographic tiebreak making each unordered pair a
# candidate exactly once (probe = smaller set; no upper size bound —
# that is the asymmetry). The exact verify joins the cached shingle
# arrays back by doc_id — arrays move once per doc, not once per
# candidate (the d8 shuffle lesson). Hot-shingle skew: the join keys
# are AQE-skew-splittable, and the d8b ascending-df reordering composes
# here unchanged (rarest-first prefixes) when a corpus needs it. The
# same ceil(τ·|s| − 1e-9) guard as d8 protects integer-boundary τ·|s|
# from double overshoot.
#
# The oracle verifies the SEMANTICS without the optimization: a full
# shared-shingle co-count join + the containment filter — pinning that
# prefix filtering is exactness-preserving, never a semantics change
# (the d8/d8b discipline).
# ---------------------------------------------------------------------------
_D13_TAU = 0.8

_D13_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {X.sql_tokens("text")} AS toks FROM documents
),
sh AS (
  SELECT doc_id, {_SH} AS sh FROM tok
),
sz AS (
  SELECT doc_id, sh, len(sh) AS sz FROM sh WHERE len(sh) > 0
),
ex AS (
  SELECT doc_id, sz, unnest(sh) AS s FROM sz
),
co AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sz AS sz_a, b.sz AS sz_b, count(*) AS o
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       CAST(o AS BIGINT) AS overlap,
       CAST(sz_a AS BIGINT) AS sz_a,
       CAST(sz_b AS BIGINT) AS sz_b,
       round(CAST(o AS DOUBLE) / sz_a, {_R}) AS containment_a,
       round(CAST(o AS DOUBLE) / sz_b, {_R}) AS containment_b
FROM co
WHERE CAST(o AS DOUBLE) / least(sz_a, sz_b) >= {_D13_TAU}
ORDER BY doc_a, doc_b
"""


@register(
    "d13_containment_neardup",
    oracle=_D13_ORACLE,
    doc=(
        "D13: prefix-filtered exact containment>=0.8 join over word-trigram "
        "shingle sets (max directional |A∩B|/min(|A|,|B|))"
    ),
)
def d13_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = containment_pairs(_docs_par(spark, sf_dir), _D13_TAU)
    return pairs.select(
        "doc_a",
        "doc_b",
        "overlap",
        "sz_a",
        "sz_b",
        fround(F.col("c_a"), _R).alias("containment_a"),
        fround(F.col("c_b"), _R).alias("containment_b"),
    ).orderBy("doc_a", "doc_b")


def containment_pairs(docs: DataFrame, tau: float = _D13_TAU) -> DataFrame:
    """d13 core over any documents-shaped frame — separated for tests
    (brute-force equivalence, planted subset docs, empty/NULL text).
    Returns raw (doc_a, doc_b, overlap, sz_a, sz_b, c_a, c_b) with
    doc_a < doc_b and max(c_a, c_b) >= tau."""
    # ONE evaluation of the tokenize→shingle→hash→sort tree (the d8
    # persist rationale: projection collapse would re-run it per use)
    sig = track(
        docs.withColumn("toks", X.tokens("text"))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.array_sort(
                F.transform(
                    X.shingles_from_tokens(F.col("toks"), 3),
                    lambda s: F.xxhash64(s),
                )
            ).alias("sh"),
        )
        .persist()
    )
    # probe: the would-be SMALLER side explodes only its prefix (see
    # header); index: every doc explodes ALL tokens — linear, and the
    # shuffle carries (doc_id, sz, hash), never the arrays
    probe = sig.select(
        "doc_id",
        F.size("sh").alias("sz"),
        F.explode(
            F.expr(
                f"slice(sh, 1, int(size(sh) - ceil({tau}d * size(sh) - 1e-9) + 1))"
            )
        ).alias("h"),
    )
    index = sig.select(
        "doc_id", F.size("sh").alias("sz"), F.explode("sh").alias("h")
    )
    p, ix = probe.alias("p"), index.alias("i")
    # (size, id) lexicographic order makes the probe the unique smaller
    # side of each unordered pair (equal sizes break by id), so no pair
    # is generated twice and no doc pairs with itself
    cond = (F.col("p.h") == F.col("i.h")) & (
        (F.col("p.sz") < F.col("i.sz"))
        | (
            (F.col("p.sz") == F.col("i.sz"))
            & (F.col("p.doc_id") < F.col("i.doc_id"))
        )
    )
    cand = (
        p.join(ix, cond)
        .select(
            F.col("p.doc_id").alias("doc_s"),
            F.col("i.doc_id").alias("doc_l"),
            F.col("p.sz").alias("sz_s"),
            F.col("i.sz").alias("sz_l"),
        )
        # a pair can share several prefix hashes — verify each pair once
        .dropDuplicates(["doc_s", "doc_l"])
    )
    # exact verify: arrays join back from the cached signature table
    # (MB-scale here → broadcast; shuffle hash joins on doc_id at scale)
    sh_s = sig.select(F.col("doc_id").alias("doc_s"), F.col("sh").alias("sh_s"))
    sh_l = sig.select(F.col("doc_id").alias("doc_l"), F.col("sh").alias("sh_l"))
    o = F.size(F.array_intersect("sh_s", "sh_l")).cast("bigint")
    verified = (
        cand.join(sh_s, "doc_s")
        .join(sh_l, "doc_l")
        .withColumn("overlap", o)
        # max containment = o/|smaller| since sz_s <= sz_l; both engines
        # compare the identical IEEE quotient, the d8 precedent
        .filter(
            F.col("overlap").cast("double") / F.col("sz_s") >= F.lit(tau)
        )
    )
    # canonical presentation: doc_a < doc_b by id (NOT by size)
    a_is_s = F.col("doc_s") < F.col("doc_l")
    return verified.select(
        F.when(a_is_s, F.col("doc_s")).otherwise(F.col("doc_l")).alias("doc_a"),
        F.when(a_is_s, F.col("doc_l")).otherwise(F.col("doc_s")).alias("doc_b"),
        "overlap",
        F.when(a_is_s, F.col("sz_s")).otherwise(F.col("sz_l"))
        .cast("bigint")
        .alias("sz_a"),
        F.when(a_is_s, F.col("sz_l")).otherwise(F.col("sz_s"))
        .cast("bigint")
        .alias("sz_b"),
    ).select(
        "doc_a",
        "doc_b",
        "overlap",
        "sz_a",
        "sz_b",
        (F.col("overlap").cast("double") / F.col("sz_a")).alias("c_a"),
        (F.col("overlap").cast("double") / F.col("sz_b")).alias("c_b"),
    )


# ---------------------------------------------------------------------------
# DC1 — benchmark contamination scan (train/test decontamination).
# The standard pre-training hygiene step: find corpus documents that share
# a long verbatim word n-gram with a held-out benchmark/eval set, so they
# can be dropped before training (the GPT-3/LLaMA decontamination recipe:
# overlap on 8-13-gram spans). Reference parity: no reference counterpart
# — extends the dedup surface (SURVEY.md LLM-pipeline mandate) from
# within-corpus to cross-set overlap.
#
# The benchmark set here is the deterministic doc_id % 19 == 3 slice
# (stand-in for a real eval set; arithmetic is exactly portable to the
# DuckDB oracle). Scale shape: a benchmark set is FIXED-cardinality — it
# does not grow with the corpus — so its exploded distinct-8-gram table is
# the one side of this join that is sanctioned for a broadcast hint under
# the r4 policy (SCALE.md: bounded probe/query sets yes, SF-scaled tables
# no). The corpus side streams map-only through the broadcast hash join:
# no shuffle of corpus grams at all; only the per-doc match scalars
# aggregate. At 100 TB this is a single corpus scan + a ~MB-scale
# broadcast, the textbook decontamination plan.
# ---------------------------------------------------------------------------
_DC1_N = 8  # n-gram span length (GPT-3 used 13, LLaMA-class recipes 8-10)
_DC1_MOD = 19
_DC1_REM = 3


def contamination_scan(
    docs: DataFrame, bench_pred: F.Column, n: int = _DC1_N
) -> DataFrame:
    """Per-corpus-document contamination counts vs the benchmark slice
    selected by ``bench_pred`` (a boolean Column over the docs frame):
    distinct shared n-grams and distinct benchmark documents matched.
    Corpus grams stream map-only through a broadcast hash join against
    the benchmark gram table — no corpus shuffle.

    CONTRACT: the broadcast is sound only because a real benchmark set
    (MMLU/HellaSwag-class eval suites) is FIXED-cardinality — it does
    not grow with the corpus, so its gram table stays MB-scale at any
    SF. ``bench_pred`` must select such a bounded set; the registered
    dc1's modulo slice is a gate-data STAND-IN that scales with the
    synthetic corpus and must not be read as the production predicate —
    at 100 TB the benchmark table is a separate bounded input, never a
    corpus slice."""
    grams = docs.withColumn("toks", X.tokens("text")).select(
        "doc_id",
        "lang",
        bench_pred.alias("is_bench"),
        F.explode(X.shingles_from_tokens(F.col("toks"), n)).alias("gram"),
    )
    bench = grams.filter(F.col("is_bench")).select(
        F.col("doc_id").alias("bench_doc_id"), "gram"
    )
    corp = grams.filter(~F.col("is_bench"))
    return (
        corp.join(F.broadcast(bench), "gram")
        .groupBy("doc_id", "lang")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.countDistinct("bench_doc_id").alias("n_bench_docs"),
        )
    )


@register(
    "dc1_benchmark_contamination",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, {X.sql_tokens("text")} AS toks FROM documents
),
g AS (
  SELECT doc_id, lang,
         unnest({X.sql_shingles_from_tokens("toks", _DC1_N)}) AS gram
  FROM t
),
bench AS (
  SELECT doc_id AS bench_doc_id, gram FROM g
  WHERE doc_id % {_DC1_MOD} = {_DC1_REM}
),
corp AS (
  SELECT doc_id, lang, gram FROM g
  WHERE doc_id % {_DC1_MOD} <> {_DC1_REM}
)
SELECT corp.doc_id, corp.lang,
       CAST(count(DISTINCT corp.gram) AS BIGINT) AS n_shared_grams,
       CAST(count(DISTINCT bench.bench_doc_id) AS BIGINT) AS n_bench_docs
FROM corp JOIN bench ON corp.gram = bench.gram
GROUP BY corp.doc_id, corp.lang
""",
    doc="DC1: train/test 8-gram contamination scan vs a held-out slice",
)
def dc1_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    return contamination_scan(
        _docs_par(spark, sf_dir), F.col("doc_id") % _DC1_MOD == _DC1_REM
    )


# ---------------------------------------------------------------------------
# D11 — near-dup KEEP-BEST policy: within each near-duplicate cluster,
# keep the HIGHEST-QUALITY member instead of the lowest-id canonical.
# Production curation keeps best, not first — near-dup clusters mix a
# clean original with boilerplate-wrapped or truncated variants, and
# min-id keeps whichever happened to be crawled first. (For EXACT dedup
# the policy is vacuous — identical text ⇒ identical quality — which is
# why d2 keeps min-id; the policy only bites where texts differ, i.e.
# on d8's Jaccard clusters.) Ordering uses the ROUNDED quality (t2's
# hash-gated cross-engine double) with doc_id as the tie-break, so the
# argmax is deterministic on both engines.
#
# Output is one row per cluster with both policies side by side:
# kept (argmax-quality) vs canonical (min-id, == cluster_id by the CC
# labeling), and the quality_gain the policy buys — structurally ≥ 0,
# asserted by a test. Scale shape: d8's prefix-filtered candidate join
# and the CC label loop do the heavy lifting (both already built for
# 100 TB); the policy itself is one window rank over cluster members —
# |clustered docs| rows, shuffled once on cluster_id.
# ---------------------------------------------------------------------------
@register(
    "d11_neardup_keep_best",
    oracle=f"""
WITH RECURSIVE {_NEAR_DUP_COMP_SQL},
members AS (
  SELECT c.cluster_id, d.doc_id,
         round({X.sql_quality_score("text")}, {_R}) AS q
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
),
ranked AS (
  SELECT cluster_id, doc_id, q,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY q DESC, doc_id) AS rb,
         CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
           AS cluster_size
  FROM members
)
SELECT r.cluster_id, r.cluster_size,
       r.doc_id AS kept_doc_id, r.q AS kept_quality,
       m.q AS canonical_quality,
       round(r.q - m.q, {_R}) AS quality_gain
FROM ranked r
JOIN members m ON m.cluster_id = r.cluster_id AND m.doc_id = r.cluster_id
WHERE r.rb = 1
""",
    doc=(
        "D11: near-dup keep-best — highest-quality member per Jaccard "
        "cluster vs the min-id canonical, with the quality gain"
    ),
)
def d11_neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    edges = near_dup_edges(_docs_par(spark, sf_dir))
    comp = connected_components(edges).select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
    )
    members = track(
        comp.join(d.select("doc_id", "text"), "doc_id")
        .select(
            "cluster_id",
            "doc_id",
            fround(X.quality_score("text"), _R).alias("q"),
        )
        .persist()  # two consumers: the argmax rank and the canonical join
    )
    w = Window.partitionBy("cluster_id")
    ranked = members.withColumn(
        "rb", F.row_number().over(w.orderBy(F.col("q").desc(), "doc_id"))
    ).withColumn("cluster_size", F.count("*").over(w).cast("bigint"))
    best = ranked.filter(F.col("rb") == 1).select(
        "cluster_id",
        "cluster_size",
        F.col("doc_id").alias("kept_doc_id"),
        F.col("q").alias("kept_quality"),
    )
    canonical = members.filter(
        F.col("doc_id") == F.col("cluster_id")
    ).select("cluster_id", F.col("q").alias("canonical_quality"))
    return best.join(canonical, "cluster_id").select(
        "cluster_id",
        "cluster_size",
        "kept_doc_id",
        "kept_quality",
        "canonical_quality",
        fround(
            F.col("kept_quality") - F.col("canonical_quality"), _R
        ).alias("quality_gain"),
    )


# ---------------------------------------------------------------------------
# D12 — DUPLICATED-SPAN COVERAGE: per-document fraction of n-gram
# positions whose 8-gram also occurs in ANOTHER document — the
# ExactSubstr signal of Lee et al., "Deduplicating Training Data Makes
# Language Models Better" (2022), measured at n-gram granularity. dc1
# asks "does this doc overlap the benchmark"; dp10 removes segments
# that repeat across ≥5 docs; d12 is the per-document AUDIT number —
# how much of each doc is cross-document boilerplate/duplication —
# that decides whether to drop the doc, trim the spans, or keep it.
#
# Everything on the hash surface is an exact integer: occurrence
# counts, distinct-doc counts, and a floor-division ppm (dp15's
# discipline).
#
# Plan shape at 100 TB: gram construction is map-only (the slice-zip
# n-gram kernel, functions/text.py); per-(doc, gram) occurrence counts
# shuffle once on the compound key with map-side partials; the
# gram→n_docs table derives from THAT relation (never re-exploding);
# the join back is gram-keyed and co-partitioned with the aggregate
# that produced it; the final per-doc rollup shuffles |docs| keys. The
# gram relation is corpus-sized — nothing is broadcast, exactly like
# dp10/dp11's gram machinery. At petabyte scale the gram strings would
# carry as xxhash64 fingerprints (d4's trick) to shrink the shuffle;
# the string form keeps the oracle exact at gate SFs.
#
# Ref parity anchor: the reference counts records per derived category
# via grouped conditional aggregates (quality-band counters,
# src/spark/batch/SensorDataAnalytics.scala:177-196); d12 is that
# grouped-count shape applied at span granularity to measure
# cross-document repetition.
# ---------------------------------------------------------------------------
_D12_N = 8  # gram width — dc1/dp11's benchmark-decontamination standard
_D12_TOPN = 20


@register(
    "d12_duplicate_span_ratio",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {X.sql_tokens("text")} AS toks FROM documents
),
g AS (
  SELECT doc_id,
         unnest({X.sql_ngrams_from_tokens("toks", _D12_N)}) AS gram
  FROM t
),
pg AS (
  SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS occ
  FROM g GROUP BY doc_id, gram
),
gt AS (
  SELECT gram, CAST(count(*) AS BIGINT) AS n_docs FROM pg GROUP BY gram
),
per AS (
  SELECT pg.doc_id,
         CAST(sum(occ) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN gt.n_docs >= 2 THEN occ ELSE 0 END) AS BIGINT)
           AS dup_grams
  FROM pg JOIN gt ON pg.gram = gt.gram
  GROUP BY pg.doc_id
)
SELECT doc_id, n_grams, dup_grams,
       CAST(dup_grams * 1000000 // n_grams AS BIGINT) AS dup_ppm
FROM per
ORDER BY dup_ppm DESC, doc_id ASC
LIMIT {_D12_TOPN}
""",
    doc=(
        "D12: per-doc duplicated-span coverage — ppm of 8-gram "
        "positions shared with another document (ExactSubstr audit)"
    ),
)
def d12_duplicate_span_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    return duplicate_span_ratio(_docs_par(spark, sf_dir))


def duplicate_span_ratio(
    d: DataFrame, n: int = _D12_N, topn: int = _D12_TOPN
) -> DataFrame:
    """d12 core over any (doc_id, text) frame — separated so tests can
    plant exact span overlaps and check the ppm arithmetic."""
    t = d.select("doc_id", X.tokens("text").alias("toks"))
    g = t.select(
        "doc_id",
        F.explode(X.ngrams_from_tokens(F.col("toks"), n)).alias("gram"),
    )
    pg = track(
        g.groupBy("doc_id", "gram")
        .agg(F.count("*").cast("bigint").alias("occ"))
        .persist()  # two consumers: the gram-df table and the join back
    )
    gt = pg.groupBy("gram").agg(F.count("*").cast("bigint").alias("n_docs"))
    per = (
        pg.join(gt, "gram")  # corpus-scale gram key — shuffle join, no hint
        .groupBy("doc_id")
        .agg(
            F.sum("occ").cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("n_docs") >= 2, F.col("occ")).otherwise(0))
            .cast("bigint")
            .alias("dup_grams"),
        )
    )
    return (
        per.select(
            "doc_id",
            "n_grams",
            "dup_grams",
            F.expr("CAST(dup_grams * 1000000 DIV n_grams AS BIGINT)").alias(
                "dup_ppm"
            ),
        )
        .orderBy(F.col("dup_ppm").desc(), F.col("doc_id").asc())
        .limit(topn)
    )
