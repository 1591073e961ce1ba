"""Duplicate-skew corpus audit (round 14) — institutionalizes the r13
one-off 400-document clique probe (SCALE.md r13 closure) as the seventh
repo-wide hazard-class sweep (ANSI, partition determinism, session
timezone, empty corpus, ALL-NULL text, unicode, and now duplicate skew).

The adversarial shape: a single exact-duplicate CLIQUE dominating the
corpus — the worst case for every pairwise dedup operator (a naive
all-pairs join is quadratic in the clique size) and for hash-keyed
shuffles (one md5/minhash/simhash bucket carries the whole clique).
Documents in the clique also share ONE identical embedding vector, so
the embedding-space dedup path (d6/d9) sees the same skew, and near-dup
texts get near-identical embeddings. Every dedup / dp / mm5 / dc1 query
whose oracle reads the synthetic tables must value-match its DuckDB
oracle on this corpus, exactly as on gate data.

Default suite: a curated clique (64 dups + 15 near + 41 unique) through
the core dedup shapes — fast, but the clique alone still outweighs all
other documents combined (the shape test pins this).  ``SPARK_GRAFT_SKEW_AUDIT=1`` runs the full r13 probe shape
(400 dups + 50 near + 100 unique) over the full cohort.
"""

from __future__ import annotations

import os
import shutil

import pytest

from iot_big_data_engineering_spark.registry import all_queries

_FULL = bool(os.environ.get("SPARK_GRAFT_SKEW_AUDIT"))

# corpus shape: flag-gated to the r13 probe's exact size
_N_CLIQUE, _N_NEAR, _N_UNIQ = (400, 50, 100) if _FULL else (64, 15, 41)

_WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango",
]

_CLIQUE_TEXT = "the quick brown fox jumps over the lazy dog again and again"

_DIM = 16  # embedding width; small but enough for cosine separation


def _unique_text(i: int) -> str:
    # deterministic, vocabulary-sharing, pairwise-distinct: an 8-word
    # sentence whose word walk is doc-index-keyed (stride co-prime with
    # the pool size so consecutive docs overlap but never coincide)
    return " ".join(
        _WORDS[(i * 7 + j * (1 + i % 5)) % len(_WORDS)] for j in range(8)
    ) + f" tail{i}"


def _near_text(i: int) -> str:
    # one-word edit + one-word append on the clique text: high-Jaccard
    # neighbors that land in the clique's LSH bands without being exact
    words = _CLIQUE_TEXT.split()
    words[i % len(words)] = _WORDS[i % len(_WORDS)]
    return " ".join(words) + f" near{i}"


def _embedding(kind: str, i: int) -> list[float]:
    # clique: ONE shared vector; near: that vector nudged on one axis;
    # unique: doc-keyed distinct directions. All deterministic.
    base = [1.0] + [0.25 * ((j * 3 + 1) % 5 - 2) for j in range(1, _DIM)]
    if kind == "clique":
        return base
    if kind == "near":
        v = list(base)
        v[1 + i % (_DIM - 1)] += 0.01 * (1 + i % 3)
        return v
    return [
        0.5 * (((i * 31 + j * 17) % 13) - 6) / 6.0 for j in range(_DIM)
    ]


@pytest.fixture(scope="session")
def skew_sf(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("skew_sf")

    rows = []  # (doc_id, text, kind)
    doc_id = 1
    for _ in range(_N_CLIQUE):
        rows.append((doc_id, _CLIQUE_TEXT, "clique"))
        doc_id += 1
    for i in range(_N_NEAR):
        rows.append((doc_id, _near_text(i), "near"))
        doc_id += 1
    for i in range(_N_UNIQ):
        rows.append((doc_id, _unique_text(i), "unique"))
        doc_id += 1

    langs = ["en", "de", "zh"]
    docs = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(
                [langs[r[0] % len(langs)] for r in rows], pa.string()
            ),
            "source": pa.array([f"s{r[0] % 3}" for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(docs, str(d / "documents.parquet"))

    emb = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [_embedding(r[2], r[0]) for r in rows],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([r[0] % 5 for r in rows], pa.int32()),
        }
    )
    pq.write_table(emb, str(d / "embeddings.parquet"))

    for f in os.listdir(src):
        if f.endswith(".parquet") and f not in (
            "documents.parquet",
            "embeddings.parquet",
        ):
            shutil.copy(os.path.join(src, f), str(d / f))
    return str(d)


_ALL = all_queries()

# Curated default: the shapes the clique attacks directly — exact-hash
# grouping, within-bucket pair enumeration (minhash bands, simhash keys,
# prefix filters), connected components over the dup graph, and the
# embedding-space twins.
_CURATED = [
    "d1_exact_dedup_stats",
    "d2_exact_dedup_keep_first",
    "d3_jaccard_pairs",
    "d4_minhash_lsh_dedup",
    "d5_simhash_neardup",
    "d6_embedding_neardup",
    "d7_dedup_clusters",
    "d12_duplicate_span_ratio",
    "mm5_payload_dedup",
    "dc1_benchmark_contamination",
]

# Full cohort (flag): every d*-prefixed query whose oracle reads the
# synthetic tables (dedup/dp/dc by naming, and deliberately also the
# documents/embeddings-reading dq* audits — extra coverage is the point
# of the full sweep) plus the payload-dedup twin mm5. ADVICE r14 #2: the
# predicate is intentionally this broad; a future d*-prefixed query
# auto-enrolls here, which is the safe default for a skew audit.
_NAMES = [
    n
    for n, q in _ALL.items()
    if ("documents" in q.oracle or "embeddings" in q.oracle)
    and (
        (_FULL and (n.startswith("d") or n == "mm5_payload_dedup"))
        or n in _CURATED
    )
]


@pytest.mark.parametrize("name", _NAMES)
def test_skew_corpus_parity(spark, name, skew_sf):
    from .oracle import compare, run_oracle

    query = _ALL[name]
    spark.catalog.clearCache()
    df = query.fn(spark, skew_sf)
    cols, types, rows = run_oracle(query.oracle, skew_sf)
    compare(df, cols, types, rows)


def test_clique_shape_is_adversarial(skew_sf):
    """The fixture must actually BE skewed, or the sweep certifies
    nothing: the clique's single text hash carries more documents than
    every other hash combined."""
    import duckdb

    con = duckdb.connect()
    top, total = con.execute(
        f"""
        SELECT max(c), sum(c) FROM (
          SELECT count(*) AS c
          FROM read_parquet('{skew_sf}/documents.parquet')
          GROUP BY md5(text)
        )
        """
    ).fetchone()
    assert top == _N_CLIQUE
    assert top > total - top, "clique must dominate the corpus"
