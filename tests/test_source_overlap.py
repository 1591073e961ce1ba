"""u5_source_overlap_matrix: cross-source exact-duplicate provenance
matrix. Gate data is duplicate-free, so the registered-shape compared
surface would be the all-zero total matrix — these tests carry the
non-zero semantics on a hand corpus and pin cross-engine equality."""

from __future__ import annotations

import duckdb
import pandas as pd

from iot_big_data_engineering_spark.operators.joins import (
    _U5_ORACLE,
    u5_source_overlap_matrix,
)

from .conftest import SF_SMOKE


def _write_docs(tmp_path, rows):
    df = pd.DataFrame(rows, columns=["doc_id", "text", "source"]).assign(
        lang="en", n_chars=10
    )
    df.to_parquet(str(tmp_path / "documents.parquet"))
    return df


def test_u5_hand_matrix(spark, tmp_path):
    """A: {t1, t1, t2}; B: {t1, t3}; C: {t2, t2, t3, NULL} →
    diagonal counts hashes duplicated WITHIN a source, off-diagonal
    counts distinct hashes shared across the pair, zero cells present,
    NULL text excluded."""
    _write_docs(
        tmp_path,
        [
            (1, "t1", "A"), (2, "t1", "A"), (3, "t2", "A"),
            (4, "t1", "B"), (5, "t3", "B"),
            (6, "t2", "C"), (7, "t2", "C"), (8, "t3", "C"),
            (9, None, "C"),
        ],
    )
    got = [
        (r.source_a, r.source_b, r.shared_hashes)
        for r in u5_source_overlap_matrix(spark, str(tmp_path)).collect()
    ]
    assert got == [
        ("A", "A", 1), ("A", "B", 1), ("A", "C", 1),
        ("B", "B", 0), ("B", "C", 1),
        ("C", "C", 1),
    ]


def test_u5_matches_oracle_on_hand_corpus(spark, tmp_path):
    df = _write_docs(
        tmp_path,
        [
            (1, "x", "s1"), (2, "x", "s1"), (3, "x", "s2"),
            (4, "y", "s2"), (5, "y", "s3"), (6, "z", "s3"),
        ],
    )
    sp = [tuple(r) for r in u5_source_overlap_matrix(spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.register("documents", df)
    du = con.execute(_U5_ORACLE).fetchall()
    assert sp == du


def test_u5_matches_oracle_on_gate_data(spark):
    sp = [tuple(r) for r in u5_source_overlap_matrix(spark, SF_SMOKE).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    du = con.execute(_U5_ORACLE).fetchall()
    assert sp == du
    # total matrix: every (a <= b) cell present even on the dup-free corpus
    k = len({r[0] for r in sp})
    assert len(sp) == k * (k + 1) // 2
