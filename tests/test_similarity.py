"""Similarity-search tests: the NumPy mapInPandas kernel must agree with
the built-in-expression brute force (s1), and the IVF two-stage search
must achieve high recall against it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_big_data_engineering_spark.operators.similarity import (
    load_embeddings,
    numpy_topk,
    query_set,
    s1_knn_bruteforce,
    s2_knn_ivf,
)

from .conftest import SF_SMOKE


def _corpus(spark):
    """(vec_id, label, v) at SF_SMOKE, spread over the session like s1's."""
    return load_embeddings(spark, SF_SMOKE, "vec_id", "label", repartition=True)


def test_numpy_kernel_matches_expression_bruteforce(spark):
    exact = {
        (r.query_id, r.vec_id) for r in s1_knn_bruteforce(spark, SF_SMOKE).collect()
    }
    e = _corpus(spark)
    queries = [
        (r.vec_id, r.v) for r in e.filter(F.col("vec_id") < 5).collect()
    ]
    vec = {(r.query_id, r.vec_id) for r in numpy_topk(e, queries).collect()}
    assert exact == vec


def test_numpy_kernel_zero_norm_scores_null_like_expression_path(spark):
    """ADVICE r11: the numpy kernel must give zero-norm rows NULL
    cosine — the semantics of V.cosine's nullif guard — not the 0.0 a
    pass-through normalization scores. The distinction is rank-visible
    exactly when the corpus holds negative cosines: 0.0 outranks them,
    NULL sorts last. Asserted by full-surface equality against the
    expression path on such a corpus, for a normal AND a zero-norm
    query."""
    from iot_big_data_engineering_spark.functions import vectors as V
    from iot_big_data_engineering_spark.functions.rounding import fround
    from pyspark.sql import Window

    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [-1.0, 0.0]), (12, [0.0, 0.0])],
        "vec_id long, v array<double>",
    )
    queries = [(0, [1.0, 0.0]), (1, [0.0, 0.0])]
    got = {
        (r.query_id, r.vec_id, r.cosine, r.rank)
        for r in numpy_topk(corpus, queries, k=3).collect()
    }
    q = spark.createDataFrame(queries, "query_id long, qv array<double>")
    w = Window.partitionBy("query_id").orderBy(
        fround(V.cosine(F.col("qv"), F.col("v")), 6).desc(), F.col("vec_id")
    )
    expect = {
        (r.query_id, r.vec_id, r.cosine, r.rank)
        for r in corpus.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .select(
            "query_id",
            "vec_id",
            fround(V.cosine(F.col("qv"), F.col("v")), 6).alias("cosine"),
            "rank",
        )
        .filter(F.col("rank") <= 3)
        .collect()
    }
    assert got == expect
    # the hazard rows really exercised both modes: the zero-norm corpus
    # row is NULL-and-last for the real query, and the zero-norm query
    # scores NULL against everything (vec_id tie-break only)
    assert (0, 12, None, 3) in got
    assert {(1, 10, None, 1), (1, 11, None, 2), (1, 12, None, 3)} <= got


def test_ivf_planted_duplicate_recall(spark):
    """The testdata embeddings are isotropic-random (no geometric
    clusters), so recall on random neighbors measures the data, not the
    operator. Plant near-duplicates (scaled copies, cosine ≈ 1) of the
    query vectors into the corpus: IVF must place each planted vector in
    the same k-means cell as its query and return it as the #1 hit."""
    from iot_big_data_engineering_spark.operators.similarity import ivf_topk

    e = _corpus(spark)
    planted = e.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        "label",
        F.transform("v", lambda x: x * 2.0).alias("v"),
    )
    corpus = e.unionAll(planted)
    q = query_set(e)
    top = ivf_topk(corpus, q)
    rank1 = {r.query_id: r.vec_id for r in top.collect() if r.rank == 1}
    assert rank1 == {i: i + 100000 for i in range(5)}, rank1


def test_ivf_runs_on_raw_corpus(spark):
    from iot_big_data_engineering_spark.operators.similarity import ivf_topk

    e = load_embeddings(spark, SF_SMOKE, "vec_id", "label")
    rows = ivf_topk(e, query_set(e)).collect()
    by_query = {}
    for r in rows:
        by_query.setdefault(r.query_id, []).append(r)
    assert len(by_query) == 5
    for rs in by_query.values():
        assert len(rs) == 10


def test_registered_ann_certificates_all_true(spark):
    """The registered s2/s3 forms are planted-duplicate certificates —
    every boolean must be TRUE on any corpus (this is the property the
    driver's hash gate pins against the SQL oracle)."""
    from iot_big_data_engineering_spark.operators.similarity import s3_knn_lsh

    for q in (s2_knn_ivf, s3_knn_lsh):
        rows = q(spark, SF_SMOKE).collect()
        assert [r.query_id for r in rows] == list(range(5))
        assert all(r.planted_dup_found for r in rows), rows
        # the recall guarantee is driver-hashed too since r5
        assert all(r.near_dup_recall_ok for r in rows), rows


def test_bruteforce_rank_properties(spark):
    rows = s1_knn_bruteforce(spark, SF_SMOKE).collect()
    by_query = {}
    for r in rows:
        by_query.setdefault(r.query_id, []).append(r)
    assert len(by_query) == 5
    for q, rs in by_query.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, 11))
        sims = [r.cosine for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert all(-1.0 <= s <= 1.0 for s in sims)
        assert all(r.vec_id != q for r in rs)  # self excluded


def test_lsh_planted_duplicate_recall(spark):
    """Same planting scheme as the IVF test: a scaled copy (cosine ≈ 1)
    of each query vector has identical sign bits under every hyperplane,
    so it must share all ntables buckets with its query and come back as
    the #1 hit."""
    from iot_big_data_engineering_spark.operators.similarity import lsh_topk

    e = _corpus(spark)
    planted = e.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        "label",
        F.transform("v", lambda x: x * 2.0).alias("v"),
    )
    corpus = e.unionAll(planted)
    q = query_set(e)
    top = lsh_topk(corpus, q)
    rank1 = {r.query_id: r.vec_id for r in top.collect() if r.rank == 1}
    assert rank1 == {i: i + 100000 for i in range(5)}, rank1


def test_lsh_runs_on_raw_corpus(spark):
    """ANN contract on the raw corpus: ≤10 ranked hits per query, ranks
    dense from 1, cosines non-increasing, self excluded, and every hit is
    a true bucket collision — verified by recomputing buckets driver-side."""
    import numpy as np

    from iot_big_data_engineering_spark.operators.similarity import (
        _bucket_matrix,
        _normalize_rows,
        lsh_hyperplanes,
        lsh_topk,
    )

    raw = load_embeddings(spark, SF_SMOKE, "vec_id", "label")
    rows = lsh_topk(raw, query_set(raw)).collect()
    assert rows, "64-bucket × 4-table LSH on a 500-vector corpus found nothing"
    by_query = {}
    for r in rows:
        by_query.setdefault(r.query_id, []).append(r)
    e = {r.vec_id: r.v for r in _corpus(spark).collect()}
    ids = sorted(e)
    m = _normalize_rows(np.asarray([e[i] for i in ids], dtype=np.float64))
    buckets = {i: b for i, b in zip(ids, _bucket_matrix(m, lsh_hyperplanes(64)))}
    for q, rs in by_query.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        sims = [r.cosine for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert all(r.vec_id != q for r in rs)
        for r in rs:
            assert any(
                bq == bv for bq, bv in zip(buckets[q], buckets[r.vec_id])
            ), f"{q}->{r.vec_id} is not a bucket collision"


def test_lsh_empty_query_and_corpus(spark):
    from iot_big_data_engineering_spark.operators.similarity import lsh_topk

    e = _corpus(spark)
    no_q = query_set(e.filter(F.col("vec_id") < 0))
    assert lsh_topk(e, no_q).count() == 0
    some_q = query_set(e.filter(F.col("vec_id") < 2))
    assert lsh_topk(e.filter(F.col("vec_id") < 0), some_q).count() == 0


def test_s5_codes_cover_full_range_and_certify(spark):
    """SQ8 calibration: every dimension's audit row must certify
    within-half-step reconstruction, and the code grid must actually be
    exercised at its extremes (the min maps to code 0, the max to code
    255 — a shifted/scaled calibration bug would break this)."""
    from pyspark.sql import functions as F

    from iot_big_data_engineering_spark.operators.similarity import (
        s5_scalar_quantization,
    )

    from .conftest import SF_SMOKE

    rows = s5_scalar_quantization(spark, SF_SMOKE).collect()
    assert len(rows) == 64
    for r in rows:
        assert r.within_half_step, r
        assert r.dmin < r.dmax
        # worst error must be positive but below half a step
        step = (r.dmax - r.dmin) / 255
        assert 0 < r.max_abs_err <= step * 0.5000001 + 1e-12, r


def test_d9_near_duplicate_recall_vs_exact(spark):
    """Quantify d9's miss mode (pairs straddling a cell boundary): plant
    deterministic NEAR-copies (orig + small orthogonal-ish perturbation,
    cosine ≈ 0.999 > τ) and require the cell-routed dedup to drop most of
    them; exact copies (certificate path) must never be missed. The gap
    between the two rates IS the SemDeDup trade the operator documents."""
    import numpy as np
    from pyspark.sql import functions as F

    from iot_big_data_engineering_spark.operators.similarity import (
        _PLANT_OFFSET,
        semantic_dedup_dropped,
    )

    from .conftest import SF_SMOKE

    e = _corpus(spark).select("vec_id", "v")
    rows = e.filter(F.col("vec_id") < 50).collect()
    planted = []
    for r in rows:
        v = np.asarray(r.v)
        # deterministic perturbation: roll the vector for a pseudo-random
        # direction, scale to ~2.5% of the norm → cosine ≈ 0.9997
        d = np.roll(v, 7)
        d = d - (d @ v) / (v @ v) * v  # orthogonalize
        nd = np.linalg.norm(d)
        if nd == 0:
            continue
        p = v + d / nd * 0.025 * np.linalg.norm(v)
        planted.append((int(r.vec_id) + _PLANT_OFFSET, [float(x) for x in p]))
    pdf = spark.createDataFrame(planted, "vec_id long, v array<double>")
    dropped = {
        r.vec_id
        for r in semantic_dedup_dropped(e.unionByName(pdf)).collect()
    }
    hits = sum(1 for vid, _ in planted if vid in dropped)
    recall = hits / len(planted)
    # near-copies co-locate with their original unless the tiny
    # perturbation flips the argmax cell at a Voronoi boundary
    assert recall >= 0.8, f"near-dup recall {recall} ({hits}/{len(planted)})"


def test_perturbed_copies_deterministic_and_near(spark):
    """The recall-certificate plants must be (a) bit-identical across
    calls (no RNG — the driver reruns the query and hashes), and (b)
    genuinely NEAR copies: cosine >= 0.999 with their original but not
    exact (so the recall column measures the index, not the exact-copy
    guarantee again)."""
    import numpy as np

    from iot_big_data_engineering_spark.operators import similarity as S
    from iot_big_data_engineering_spark.operators.similarity import (
        _PERTURB_OFFSET,
        perturbed_plants,
    )

    e = _corpus(spark).select("vec_id", "v")
    a = {r.vec_id: r.v for r in perturbed_plants(spark, SF_SMOKE, 5).collect()}
    S._PLANT_MEMO.clear()  # the second call re-reads the plant rows
    b = {r.vec_id: r.v for r in perturbed_plants(spark, SF_SMOKE, 5).collect()}
    assert a == b, "perturbation is not deterministic"
    orig = {r.vec_id: r.v for r in e.filter(F.col("vec_id") < 5).collect()}
    for vid, pv in a.items():
        ov = np.asarray(orig[vid - _PERTURB_OFFSET])
        pv = np.asarray(pv)
        cos = float(
            ov @ pv / (np.linalg.norm(ov) * np.linalg.norm(pv))
        )
        assert 0.999 <= cos < 1.0, (vid, cos)


def test_s7_filter_certificate_not_vacuous(spark):
    """s7's results_respect_filter must certify real behavior: the SAME
    index searched WITHOUT the label filter returns label-mixed top-k
    for at least one query (otherwise the filter column proves nothing),
    while the registered filtered form returns all-TRUE."""
    from iot_big_data_engineering_spark.operators.similarity import (
        N_QUERIES,
        _plant_rows,
        assign_cells,
        ivf_probe_search,
        kmeans_centroids,
        s7_knn_filtered,
    )

    rows = s7_knn_filtered(spark, SF_SMOKE).collect()
    assert len(rows) == N_QUERIES
    assert all(r.planted_dup_found and r.results_respect_filter for r in rows)

    e = _corpus(spark)
    cent = kmeans_centroids(e)
    indexed = assign_cells(e, cent)
    labels = {
        vid: lab for vid, _, lab in _plant_rows(spark, SF_SMOKE, N_QUERIES)
    }
    q = spark.createDataFrame(
        [
            (int(r.vec_id), list(r.v), labels[int(r.vec_id)])
            for r in e.filter(F.col("vec_id") < N_QUERIES).collect()
        ],
        "query_id long, qv array<double>, qlabel long",
    )
    unfiltered = (
        ivf_probe_search(indexed, cent, q)  # no match_label
        .join(e.select("vec_id", "label"), "vec_id")
        .join(q.select("query_id", "qlabel"), "query_id")
    )
    mixed = unfiltered.filter(F.col("label") != F.col("qlabel")).count()
    assert mixed > 0, (
        "unfiltered top-k is already label-pure — the filter certificate "
        "would be vacuous on this corpus"
    )


def test_s8_delta_add_certificate_not_vacuous(spark):
    """s8's planted_dup_found must hinge on the delta union: searching
    yesterday's base index alone (the forgotten-delta bug) finds NO
    plants, while the registered delta-added form finds all of them."""
    from iot_big_data_engineering_spark.operators.similarity import (
        _S8_N_DELTA,
        N_QUERIES,
        assign_cells,
        certify_planted,
        ivf_probe_search,
        kmeans_centroids,
        plant_queries,
        s8_knn_ivf_delta_add,
    )

    rows = s8_knn_ivf_delta_add(spark, SF_SMOKE).collect()
    assert len(rows) == N_QUERIES
    assert all(r.planted_dup_found for r in rows)

    e = _corpus(spark)
    base = e.filter(F.col("vec_id") >= _S8_N_DELTA)
    cent = kmeans_centroids(base)
    q = plant_queries(spark, SF_SMOKE, N_QUERIES)
    base_only = certify_planted(
        ivf_probe_search(assign_cells(base, cent), cent, q), q
    ).collect()
    assert not any(r.planted_dup_found for r in base_only)


# ---------------------------------------------------------------------------
# s10 product quantization (round-8 addition)
# ---------------------------------------------------------------------------
def test_pq_exact_copy_is_rank_one(spark):
    """ADC structural guarantee: an exact copy shares its query's codes,
    so its ADC distance is the global minimum — rank 1 up to exact-code
    ties. Verified on the real corpus with planted copies."""
    from pyspark.sql import functions as F

    from iot_big_data_engineering_spark.operators.similarity import (
        _PLANT_OFFSET,
        N_QUERIES,
        _corpus_queries_planted,
        pq_adc_topk,
        pq_encode,
        pq_train_codebooks,
    )

    from .conftest import SF_SMOKE

    corpus, q = _corpus_queries_planted(spark, SF_SMOKE)
    books = pq_train_codebooks(corpus)
    topk = pq_adc_topk(pq_encode(corpus, books), books, q)
    hits = (
        topk.filter(F.col("vec_id") == F.col("query_id") + F.lit(_PLANT_OFFSET))
        .select("query_id", "rank", "adc")
        .collect()
    )
    assert len(hits) == N_QUERIES
    for r in hits:
        # ties can only come from identical codes; the plant's ADC is
        # the minimum, so its distance equals the rank-1 distance
        assert r.adc >= 0
    best = {
        r.query_id: r.adc
        for r in topk.filter(F.col("rank") == 1).collect()
    }
    for r in hits:
        assert abs(r.adc - best[r.query_id]) < 1e-9, r


def test_pq_encode_matches_driver_reference(spark):
    """The Arrow encode kernel must agree with a driver-side numpy
    reference argmin on every vector and subspace."""
    import numpy as np

    from iot_big_data_engineering_spark.operators.similarity import (
        _normalize_rows,
        pq_encode,
        pq_train_codebooks,
    )

    from .conftest import SF_SMOKE

    e = _corpus(spark)
    books = pq_train_codebooks(e)
    m, ks, sub = books.shape
    got = {r.vec_id: r.codes for r in pq_encode(e, books).collect()}
    rows = e.collect()
    X = _normalize_rows(
        np.stack([np.asarray(r.v) for r in rows]).astype(np.float64)
    )
    for i, r in enumerate(rows):
        for s in range(m):
            xs = X[i, s * sub : (s + 1) * sub]
            ref = int(np.argmin(((xs[None, :] - books[s]) ** 2).sum(-1)))
            assert got[r.vec_id][s] == ref


def test_s10_on_empty_corpus(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq_

    from iot_big_data_engineering_spark.operators.similarity import s10_knn_pq

    empty = pa.table(
        {
            "vec_id": pa.array([], pa.int64()),
            "embedding": pa.array([], pa.list_(pa.float32())),
            "label": pa.array([], pa.int32()),
        }
    )
    pq_.write_table(empty, str(tmp_path / "embeddings.parquet"))
    df = s10_knn_pq(spark, str(tmp_path))
    assert df.columns == ["query_id", "planted_dup_found"]
    assert df.count() == 0


def test_pq_plant_survives_exact_code_tie_flood(spark):
    """>= k corpus vectors identical to the query all tie with the
    planted copy at the minimum ADC distance; the descending vec_id
    tie-break must still rank the plant (largest id) into the top-k
    (r8 code-review: an ascending tie-break evicted it)."""
    from pyspark.sql import functions as F

    from iot_big_data_engineering_spark.operators.similarity import (
        _PLANT_OFFSET,
        K,
        pq_adc_topk,
        pq_encode,
        pq_train_codebooks,
    )

    base = [float((i * 7) % 13) / 13.0 for i in range(64)]
    other = [float((i * 5) % 11) / 11.0 for i in range(64)]
    rows = [(0, base)] + [(j, base) for j in range(1, K + 5)]  # tie flood
    rows += [(100 + j, other) for j in range(4)]  # some non-ties
    rows += [(0 + _PLANT_OFFSET, base)]  # the planted exact copy
    corpus = spark.createDataFrame(rows, "vec_id long, v array<double>")
    q = spark.createDataFrame([(0, base)], "query_id long, qv array<double>")
    books = pq_train_codebooks(corpus)
    topk = pq_adc_topk(pq_encode(corpus, books), books, q)
    hit = topk.filter(
        F.col("vec_id") == F.col("query_id") + F.lit(_PLANT_OFFSET)
    ).collect()
    assert len(hit) == 1 and hit[0].rank == 1, topk.collect()


# s11 tombstone deletes (round-8 addition)

def test_s11_doomed_twin_surfaces_without_tombstone_filter(spark):
    """Non-vacuity of deleted_absent: running the SAME index pipeline
    without the tombstone anti-join must surface the doomed twin (it
    ties the kept twin at cosine 1.0) in every query's top-k — so the
    registered op's TRUE genuinely certifies the exclusion, not an
    accidentally-unreachable twin."""
    from pyspark.sql import functions as F

    from iot_big_data_engineering_spark.operators.similarity import (
        _S11_TOMB_OFFSET,
        N_QUERIES,
        assign_cells,
        ivf_probe_search,
        kmeans_centroids,
        plant_queries,
        planted_exact_copies,
    )

    from .conftest import SF_SMOKE

    e = load_embeddings(spark, SF_SMOKE, "vec_id")
    corpus = (
        e.unionByName(planted_exact_copies(spark, SF_SMOKE, N_QUERIES))
        .unionByName(
            planted_exact_copies(
                spark, SF_SMOKE, N_QUERIES, offset=_S11_TOMB_OFFSET
            )
        )
    )
    cent = kmeans_centroids(corpus)
    indexed = assign_cells(corpus, cent)
    q = plant_queries(spark, SF_SMOKE, N_QUERIES)
    topk = ivf_probe_search(indexed, cent, q)  # NO tombstone filter
    doomed_hits = {
        r.query_id
        for r in topk.filter(
            F.col("vec_id") == F.col("query_id") + F.lit(_S11_TOMB_OFFSET)
        ).collect()
    }
    assert doomed_hits == set(range(N_QUERIES))


def test_s11_empty_corpus_stable_schema(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iot_big_data_engineering_spark.operators.similarity import (
        s11_knn_tombstone_delete,
    )

    empty = pa.table(
        {
            "vec_id": pa.array([], pa.int64()),
            "embedding": pa.array([], pa.list_(pa.float32())),
            "label": pa.array([], pa.int32()),
        }
    )
    pq.write_table(empty, str(tmp_path / "embeddings.parquet"))
    df = s11_knn_tombstone_delete(spark, str(tmp_path))
    assert df.columns == [
        "query_id", "planted_dup_found", "deleted_absent",
        "compaction_preserves_index",
    ]
    assert df.count() == 0


def test_pq_small_sample_slices_books_no_dead_codewords(spark):
    """A training sample smaller than ks must yield books sliced to the
    k trained codewords — never zero-padded: an untrained zero codeword
    can win argmin for vectors near the origin and silently degrade
    quantization (r8 advice). Encode/ADC must stay aligned with the
    sliced shape end-to-end."""
    import numpy as np

    from iot_big_data_engineering_spark.operators.similarity import (
        _PQ_KS,
        _PQ_M,
        pq_adc_topk,
        pq_encode,
        pq_train_codebooks,
    )

    n = _PQ_KS // 2  # fewer training rows than codewords
    rng = np.random.default_rng(3)
    rows = [(i, rng.normal(size=64).tolist()) for i in range(n)]
    e = spark.createDataFrame(rows, "vec_id long, v array<double>")
    books = pq_train_codebooks(e)
    assert books.shape == (_PQ_M, n, 64 // _PQ_M)
    # every codeword was trained from real data: none is the zero vector
    assert (np.abs(books).sum(axis=-1) > 0).all()
    codes = {r.vec_id: r.codes for r in pq_encode(e, books).collect()}
    assert all(max(c) < n for c in codes.values())
    # query = vec 0's raw vector under an out-of-corpus query_id (the
    # topk filter self-excludes vec_id == query_id)
    q = spark.createDataFrame(
        [(1000, rows[0][1])], "query_id long, qv array<double>"
    )
    topk = pq_adc_topk(pq_encode(e, books), books, q, k=n).collect()
    assert len(topk) == n
    # vec 0 attains the minimum ADC (its quantization error — 0 here,
    # since with n <= ks every training row is its own codeword); ties
    # break by vec_id DESC, so assert the distance, not the slot
    own = [r for r in topk if r.vec_id == 0]
    assert own and own[0].adc == topk[0].adc == 0.0


# ---------------------------------------------------------------------------
# s12 MIPS (round-9 addition)
# ---------------------------------------------------------------------------
def test_s12_hand_case_ip_not_cosine(spark, tmp_path):
    """MIPS must rank by inner product, NOT cosine: a long vector with a
    mediocre angle must outrank a short vector with a perfect angle —
    the popularity-in-the-norm property that makes the recommender
    workload distinct from s1."""
    import pandas as pd

    from iot_big_data_engineering_spark.operators.similarity import (
        s12_mips_topk,
    )

    # query (vec_id 0) = [1, 0, ...]; vec 10 is perfectly aligned but
    # short (ip 1); vec 11 is 45-degrees-ish but long (ip 8)
    dim = 64
    def vec(*pairs):
        v = [0.0] * dim
        for i, x in pairs:
            v[i] = x
        return v

    rows = [
        (0, 0, vec((0, 1.0))),
        (10, 0, vec((0, 1.0))),
        (11, 0, vec((0, 8.0), (1, 8.0))),
    ]
    pd.DataFrame(rows, columns=["vec_id", "label", "embedding"]).to_parquet(
        str(tmp_path / "embeddings.parquet")
    )
    got = [
        (r.vec_id, r.ip, r.rank)
        for r in s12_mips_topk(spark, str(tmp_path))
        .filter("query_id = 0")
        .orderBy("rank")
        .collect()
    ]
    assert got == [(11, 8.0, 1), (10, 1.0, 2)]


def test_s12_reduction_preserves_ip_order(spark):
    """The augmentation reduction on seeded random vectors: every
    augmented vector's norm equals the max corpus norm, and cosine
    ranking against the augmented query equals the IP ranking — the
    property that lets the whole cosine-ANN stack serve MIPS."""
    import numpy as np

    from iot_big_data_engineering_spark.functions import vectors as V
    from iot_big_data_engineering_spark.operators.similarity import (
        mips_augment,
    )
    from pyspark.sql import functions as F

    rng = np.random.default_rng(23)
    vecs = rng.normal(size=(40, 8)) * rng.uniform(0.2, 5.0, size=(40, 1))
    e = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, v array<double>",
    )
    aug = {r.vec_id: np.array(r.v) for r in mips_augment(e).collect()}
    M = max(np.linalg.norm(v) for v in vecs)
    for i, v in enumerate(vecs):
        assert abs(np.linalg.norm(aug[i]) - M) < 1e-9
        assert np.allclose(aug[i][:8], v)
    q = rng.normal(size=8)
    qa = np.concatenate([q, [0.0]])
    ip_order = sorted(range(40), key=lambda i: (-float(q @ vecs[i]), i))
    cos_order = sorted(
        range(40),
        key=lambda i: (
            -float(qa @ aug[i]) / (np.linalg.norm(qa) * np.linalg.norm(aug[i])),
            i,
        ),
    )
    assert ip_order == cos_order


def test_s12_empty_corpus_stable_schema(spark, tmp_path):
    from iot_big_data_engineering_spark.operators.similarity import (
        s12_mips_topk,
    )

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [("vec_id", pa.int64()), ("label", pa.int64()),
         ("embedding", pa.list_(pa.float64()))]
    )
    pq.write_table(
        pa.table({"vec_id": [], "label": [], "embedding": []}, schema=schema),
        str(tmp_path / "embeddings.parquet"),
    )
    df = s12_mips_topk(spark, str(tmp_path))
    assert df.columns == ["query_id", "vec_id", "ip", "rank"]
    assert df.count() == 0


def test_s13_range_search_matches_numpy_bruteforce(spark):
    """Complete-set semantics: the returned (query, vec) pairs must be
    EXACTLY the pairs whose 6-dp-rounded cosine clears τ, replayed in
    numpy over the full corpus — nothing missing, nothing extra."""
    import math

    from iot_big_data_engineering_spark.operators.similarity import (
        _S13_TAU,
        s13_range_search,
    )

    from .conftest import SF_SMOKE

    # the replay MUST use the operator's own sequential left-fold
    # (V.dot ≡ F.aggregate with a 0.0 seed), not numpy's pairwise/SIMD
    # summation — the two can differ in the last ulp, and a cosine
    # landing exactly on the rounded τ boundary would then put the pair
    # in exactly one of the two sets (round-10 review finding #6)
    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    e = {r.vec_id: list(r.v) for r in _corpus(spark).collect()}
    expect = set()
    for qid in range(5):
        qv = e[qid]
        for vid, v in e.items():
            if vid == qid:
                continue
            c = fold_dot(qv, v) / (
                math.sqrt(fold_dot(qv, qv)) * math.sqrt(fold_dot(v, v))
            )
            if math.floor(c * 1e6 + 0.5) / 1e6 >= _S13_TAU:
                expect.add((qid, vid))
    got = {
        (r.query_id, r.vec_id)
        for r in s13_range_search(spark, SF_SMOKE).collect()
    }
    assert got == expect
    assert got, "vacuous threshold — no matches at the gate SF"


def test_s13_planted_copy_found_self_excluded(spark):
    """A scaled copy (cosine ≈ 1) of each query must be in its range
    result; the query itself must not be."""
    from iot_big_data_engineering_spark.operators.similarity import (
        range_search,
    )

    from .conftest import SF_SMOKE

    e = _corpus(spark)
    planted = e.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        "label",
        F.transform("v", lambda x: x * 2.0).alias("v"),
    )
    corpus = e.unionAll(planted)
    q = query_set(e)
    rows = range_search(corpus, q).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, set()).add(r.vec_id)
        assert r.cosine >= 0.2
        assert r.vec_id != r.query_id
    for i in range(5):
        assert i + 100000 in by_q[i], f"planted copy missing for query {i}"


def test_s13_plan_broadcast_no_shuffle(spark):
    """|Q|-row broadcast into a map-only scan-filter: no shuffle
    exchange anywhere in the plan — the 100 TB shape."""
    from iot_big_data_engineering_spark.operators.similarity import (
        s13_range_search,
    )
    from iot_big_data_engineering_spark.plans.checks import plan_str

    from .conftest import SF_SMOKE

    p = plan_str(s13_range_search(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p
    assert "Exchange hashpartitioning" not in p, p
    assert "Exchange rangepartitioning" not in p, p


def test_cosine_zero_norm_null_both_engines(spark):
    """ADVICE r10 (medium): a zero-norm vector must score NULL — not
    raise — under this repo's default-ANSI Spark 4 sessions, and the
    DuckDB twin must agree. Before the nullif guard, V.cosine's double
    division raised DIVIDE_BY_ZERO mid-job while the oracle returned
    NULL/NaN — the exact hazard class the dq8 preflight audits for.
    Exercised through the registered s13 core (range_search) plus the
    raw expression on both engines."""
    import duckdb

    from iot_big_data_engineering_spark.functions import vectors as V
    from iot_big_data_engineering_spark.operators.similarity import (
        range_search,
    )

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.8, 0.6])],
        "vec_id long, v array<double>",
    )
    q = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, qv array<double>"
    )
    rows = range_search(corpus, q, tau=0.2).collect()  # must not raise
    # the zero-norm row scores NULL and the τ filter drops it silently
    assert {r.vec_id for r in rows} == {2}

    # raw expression: NULL on Spark ...
    got = (
        corpus.filter(F.col("vec_id") == 1)
        .select(
            V.cosine(F.col("v"), F.array(F.lit(1.0), F.lit(0.0))).alias("c")
        )
        .collect()
    )
    assert got[0].c is None
    # ... and NULL on DuckDB, via the same sql twin
    c = duckdb.sql(
        f"SELECT {V.sql_cosine('[0.0,0.0]::DOUBLE[]', '[1.0,0.0]::DOUBLE[]')} AS c"
    ).fetchone()[0]
    assert c is None


def test_cosine_zero_norm_query_rank_path(spark):
    """A zero-norm QUERY vector must not crash the s1-style rank path:
    every cosine is NULL, both engines sort NULLS LAST under DESC, and
    the vec_id tie-break keeps the surface deterministic."""
    from iot_big_data_engineering_spark.functions import vectors as V
    from iot_big_data_engineering_spark.functions.rounding import fround
    from pyspark.sql import Window

    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0])],
        "vec_id long, v array<double>",
    )
    q = spark.createDataFrame(
        [(99, [0.0, 0.0])], "query_id long, qv array<double>"
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        fround(V.cosine(F.col("qv"), F.col("v")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    rows = (
        scored.withColumn("rank", F.row_number().over(w))
        .orderBy("rank")
        .collect()
    )
    assert [r.vec_id for r in rows] == [10, 11]
    assert all(r.cosine is None for r in rows)


def test_s13b_ivf_range_equals_bruteforce(spark):
    """The cell-pruning bound is EXACT (spherical triangle inequality +
    a margin dwarfing the fround boundary), so s13b must return the
    bit-identical match set as s13's brute force on the real corpus —
    recall ≡ 1.0, trivially clearing the demanded ≥ 0.8 certificate."""
    from iot_big_data_engineering_spark.operators.similarity import (
        ivf_range_search,
        range_search,
    )

    e = _corpus(spark).select("vec_id", "v")
    q = query_set(e)
    exact = {
        (r.query_id, r.vec_id, r.cosine)
        for r in range_search(e, q).collect()
    }
    pruned = {
        (r.query_id, r.vec_id, r.cosine)
        for r in ivf_range_search(e, q).collect()
    }
    assert exact == pruned
    assert len(exact) > 0  # non-vacuous at the gate τ


def test_s13b_probe_cells_prune_and_keep(spark):
    """Driver-side bound unit test on hand geometry: a tight cell 90°
    away from the query cannot reach τ = 0.5 and must be pruned; the
    query's own tight cell must be kept; a WIDE far cell (radius ~90°)
    must be kept — conservative, never lossy."""
    import numpy as np

    from iot_big_data_engineering_spark.operators.similarity import (
        _range_probe_cells,
    )

    cent = np.array([[1.0, 0.0], [0.0, 1.0], [0.0, -1.0]])
    #                 own cell     tight 90°    wide 90°
    min_ccos = np.array([0.9999, 0.9999, 0.0])  # radius ≈ 0.8°, 0.8°, 90°
    qn = np.array([[1.0, 0.0]])
    keep = _range_probe_cells(cent, min_ccos, qn, tau=0.5)
    assert keep.tolist() == [[True, False, True]]


def test_s13b_clustered_corpus_prunes_and_stays_exact(spark):
    """End-to-end on a clustered corpus (3 tight clusters on orthogonal
    axes): the probed-cell set must SHRINK (the structural win the
    isotropic gate data can't show) while the match set stays equal to
    brute force."""
    import numpy as np

    from iot_big_data_engineering_spark.operators.similarity import (
        _normalize_rows,
        _range_probe_cells,
        assign_cells,
        ivf_range_search,
        kmeans_centroids,
        range_search,
    )

    rows = []
    for axis in range(3):  # clusters on e0, e1, e2 of R^4
        for j in range(20):
            v = [0.0, 0.0, 0.0, 0.0]
            v[axis] = 1.0
            v[3] = 0.01 * (j % 5)  # tiny in-cluster spread
            # interleave ids across clusters so the deterministic
            # lowest-vec_id k-means seeds span all three clusters
            rows.append((axis + 3 * j, v))
    e = spark.createDataFrame(rows, "vec_id long, v array<double>")
    q = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "query_id long, qv array<double>"
    )
    exact = {
        (r.query_id, r.vec_id, r.cosine)
        for r in range_search(e, q, tau=0.5).collect()
    }
    pruned = {
        (r.query_id, r.vec_id, r.cosine)
        for r in ivf_range_search(e, q, tau=0.5, nlist=8, iters=2).collect()
    }
    assert exact == pruned
    assert len(exact) == 19  # the cluster minus self

    # replay probe selection to assert real pruning happened
    cent = kmeans_centroids(e, nlist=8, iters=2)
    indexed = assign_cells(e, cent)
    min_ccos = np.ones(cent.shape[0])
    for r in indexed.groupBy("cell").agg(F.min("ccos").alias("m")).collect():
        min_ccos[r.cell] = r.m
    qn = _normalize_rows(np.array([[1.0, 0.0, 0.0, 0.0]]))
    keep = _range_probe_cells(cent, min_ccos, qn, tau=0.5)
    assert 0 < keep.sum() < cent.shape[0]  # some cells pruned, not all


def test_s13b_empty_query_and_corpus_stable(spark):
    from iot_big_data_engineering_spark.operators.similarity import (
        ivf_range_search,
    )

    e = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, v array<double>")
    qe = spark.createDataFrame([], "query_id long, qv array<double>")
    out = ivf_range_search(e, qe)
    assert out.columns == ["query_id", "vec_id", "cosine"]
    assert out.collect() == []

    ee = spark.createDataFrame([], "vec_id long, v array<double>")
    qq = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, qv array<double>"
    )
    out2 = ivf_range_search(ee, qq)
    assert out2.columns == ["query_id", "vec_id", "cosine"]
    assert out2.collect() == []


def test_s13b_plan_broadcast_candidate_scan(spark):
    """s13b's candidate scan must be the broadcast join on cell (the
    partition-pruned read at scale) — never a SortMergeJoin that
    shuffles the corpus; the only hash exchange in the whole job is the
    |cells|-row radius aggregate."""
    from iot_big_data_engineering_spark.operators.similarity import (
        s13b_range_search_ivf,
    )
    from iot_big_data_engineering_spark.plans.checks import plan_str

    from .conftest import SF_SMOKE

    p = plan_str(s13b_range_search_ivf(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_s13b_bound_never_prunes_a_match_randomized():
    """Soundness certificate for the s13b pruning bound, 200 seeded
    random geometries: for ANY corpus/centroid/query configuration
    (including zero-norm rows and near-boundary cosines), every vector
    whose fround-6 cosine clears τ must live in a cell the probe
    selection KEEPS. Pure driver math — replays the assignment kernel's
    argmax/max in numpy, so the property runs in milliseconds per
    trial. (Completeness is not asserted: over-keeping a cell is the
    bound's allowed slack; the end-to-end equality tests above pin the
    final result set.)"""
    import numpy as np

    from iot_big_data_engineering_spark.operators.similarity import (
        _normalize_rows,
        _range_probe_cells,
    )

    rng = np.random.default_rng(1311)
    for trial in range(200):
        n = int(rng.integers(5, 60))
        d = int(rng.integers(2, 9))
        ncell = int(rng.integers(1, 7))
        tau = float(rng.uniform(0.05, 0.95))
        x = rng.normal(size=(n, d))
        # mix in degenerate rows: zero vectors and tiny/huge scales
        if n > 3:
            x[0] = 0.0
            x[1] *= 1e-9
            x[2] *= 1e9
        cent = _normalize_rows(rng.normal(size=(ncell, d)))
        xn = _normalize_rows(x)
        sims = xn @ cent.T
        cells = np.argmax(sims, axis=1)
        ccos = np.max(sims, axis=1)
        min_ccos = np.ones(ncell)
        for c, s in zip(cells, ccos):
            min_ccos[c] = min(min_ccos[c], s)
        nq = int(rng.integers(1, 6))
        q = rng.normal(size=(nq, d))
        qn = _normalize_rows(q)
        keep = _range_probe_cells(cent, min_ccos, qn, tau)
        cos = qn @ xn.T  # (nq, n) true cosines of normalized pairs
        fr = np.floor(cos * 1e6 + 0.5) / 1e6
        qi, vi = np.nonzero(fr >= tau)
        for a, b in zip(qi, vi):
            assert keep[a, cells[b]], (
                f"trial {trial}: match (q{a}, v{b}) cos={cos[a, b]:.8f} "
                f"pruned with cell {cells[b]} (tau={tau})"
            )


# --------------------------------------------------------------------------
# s14 hybrid RRF fusion
# --------------------------------------------------------------------------


def test_s14_terms_pin_t18_query(spark):
    """s14's lexical channel must stay the SAME fixed query t18
    certifies — a drift here would silently decouple the hybrid op from
    its certified lexical anchor."""
    from iot_big_data_engineering_spark.operators.similarity import _S14_TERMS
    from iot_big_data_engineering_spark.operators.textstats import _T18_TERMS

    assert _S14_TERMS == _T18_TERMS


def test_s14_fused_surface_properties(spark):
    import math

    from iot_big_data_engineering_spark.operators.similarity import (
        _S14_C,
        _S14_K,
        _S14_TOPN,
        s14_hybrid_rrf,
    )

    rows = s14_hybrid_rrf(spark, SF_SMOKE).collect()
    assert [r.fused_rank for r in sorted(rows, key=lambda r: r.fused_rank)] == list(
        range(1, _S14_TOPN + 1)
    )
    seen = set()
    for r in rows:
        assert r.doc_id not in seen
        seen.add(r.doc_id)
        # every fused doc came through at least one channel, within depth
        assert r.lex_rank is not None or r.sem_rank is not None
        for ch in (r.lex_rank, r.sem_rank):
            if ch is not None:
                assert 1 <= ch <= _S14_C
        # the score IS the RRF formula of the reported ranks
        expect = (1.0 / (_S14_K + r.lex_rank) if r.lex_rank else 0.0) + (
            1.0 / (_S14_K + r.sem_rank) if r.sem_rank else 0.0
        )
        assert math.isclose(r.rrf_score, expect, abs_tol=5.1e-7), r
    # fused order is non-increasing in score with doc_id tiebreak
    srt = sorted(rows, key=lambda r: r.fused_rank)
    for a, b in zip(srt, srt[1:]):
        assert a.rrf_score > b.rrf_score or (
            a.rrf_score == b.rrf_score and a.doc_id < b.doc_id
        )


def test_s14_both_channels_contribute(spark):
    """Non-vacuity: the fused top-20 must contain at least one doc seen
    by BOTH channels (the planted query doc itself guarantees the
    semantic channel's #1 is vec 0's own embedding → doc 0 exists in
    documents too) and the two single-channel shapes."""
    from iot_big_data_engineering_spark.operators.similarity import (
        s14_hybrid_rrf,
    )

    rows = s14_hybrid_rrf(spark, SF_SMOKE).collect()
    assert any(r.lex_rank is not None and r.sem_rank is not None for r in rows) or (
        any(r.lex_rank is not None for r in rows)
        and any(r.sem_rank is not None for r in rows)
    )
    # the semantic channel's rank-1 is the query vector's own row (cosine 1)
    sem1 = [r for r in rows if r.sem_rank == 1]
    assert sem1 and sem1[0].doc_id == 0


def test_s14_single_channel_docs_rank_by_rrf(spark):
    """Hand corpus: a doc present in only ONE channel scores exactly
    1/(K+rank) and fuses below a doc present in both at equal ranks."""
    from iot_big_data_engineering_spark.operators.similarity import _S14_K

    lex = {1: 1, 2: 2}  # doc -> lex_rank
    sem = {1: 1, 3: 2}  # doc -> sem_rank
    docs = sorted(set(lex) | set(sem))
    scores = {
        d: (1.0 / (_S14_K + lex[d]) if d in lex else 0.0)
        + (1.0 / (_S14_K + sem[d]) if d in sem else 0.0)
        for d in docs
    }
    order = sorted(docs, key=lambda d: (-scores[d], d))
    assert order == [1, 2, 3]  # both-channel doc first; ties by doc_id
    assert scores[2] == scores[3]  # symmetric single-channel ranks tie


def test_s14_no_lexical_hits_falls_back_to_semantic_only(spark, tmp_path):
    """Hand corpus whose documents contain NONE of the fixed query terms:
    the lexical channel is empty, the full-outer fusion degrades to the
    semantic ranking alone, and every rrf_score is exactly
    1/(K + sem_rank) — the single-channel shape the RRF coalesce
    guards."""
    import os

    from iot_big_data_engineering_spark.operators.similarity import (
        _S14_K,
        s14_hybrid_rrf,
    )

    d = tmp_path / "s14_sf"
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        [(i, "alpha beta gamma", "en", "web", 16) for i in range(8)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    spark.createDataFrame(
        [(i, [float(i + 1), 1.0, 0.5], i % 2) for i in range(8)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.parquet(str(d / "embeddings.parquet"))
    rows = s14_hybrid_rrf(spark, str(d)).collect()
    assert rows and all(r.lex_rank is None for r in rows)
    for r in rows:
        assert r.sem_rank is not None
        assert abs(r.rrf_score - 1.0 / (_S14_K + r.sem_rank)) < 5.1e-7


def test_s14_rrf_arithmetic_exhaustive_cross_engine():
    """The fused score's entire input domain is (lex_rank, sem_rank) ∈
    ({1..C} ∪ {missing})² — small enough to certify EXHAUSTIVELY:
    DuckDB's round(coalesce(1.0/(K+r1),0.0) + coalesce(1.0/(K+r2),0.0))
    (note: 1.0/int promotes to DOUBLE, not DECIMAL — typeof-checked)
    must equal fround's floor(x·10⁶ + 0.5)/10⁶ on every pair. This is a
    stronger guarantee than any corpus sample: NO rank combination can
    hash-diverge."""
    import math

    import duckdb

    from iot_big_data_engineering_spark.operators.similarity import (
        _S14_C,
        _S14_K,
    )

    con = duckdb.connect()
    assert (
        con.execute(f"SELECT typeof(1.0 / ({_S14_K} + 1))").fetchone()[0]
        == "DOUBLE"
    )
    ranks = list(range(1, _S14_C + 1)) + [None]
    pairs = ", ".join(
        f"({r1 if r1 is not None else 'NULL'}, "
        f"{r2 if r2 is not None else 'NULL'})"
        for r1 in ranks
        for r2 in ranks
        if r1 is not None or r2 is not None
    )
    got = con.execute(
        f"SELECT r1, r2, round(coalesce(1.0/({_S14_K}+r1), 0.0)"
        f" + coalesce(1.0/({_S14_K}+r2), 0.0), 6)"
        f" FROM (VALUES {pairs}) t(r1, r2)"
    ).fetchall()
    assert len(got) == len(ranks) ** 2 - 1
    for r1, r2, dd in got:
        d = (1.0 / (_S14_K + r1) if r1 else 0.0) + (
            1.0 / (_S14_K + r2) if r2 else 0.0
        )
        assert float(dd) == math.floor(d * 1e6 + 0.5) / 1e6, (r1, r2, dd)


def test_s15_mmr_matches_generated_oracle(spark):
    """Spark vs the generated unrolled-CTE DuckDB oracle, value-exact,
    through the library function and the un-rewritten oracle."""
    from iot_big_data_engineering_spark.operators.similarity import (
        _S15_ORACLE,
        s15_mmr_rerank,
    )

    from .oracle import compare, run_oracle

    df = s15_mmr_rerank(spark, SF_SMOKE)
    cols, types, rows = run_oracle(_S15_ORACLE, SF_SMOKE)
    compare(df, cols, types, rows)


def test_s15_mmr_diversity_beats_near_duplicate(spark, tmp_path):
    """The point of MMR, pinned on a hand corpus: after the two top
    picks, a DIVERSE candidate (lower max-similarity to the selected
    set) must outrank a NEAR-DUPLICATE of an already-selected doc even
    though the duplicate's raw relevance is equal — pure relevance
    ranking would return the redundant doc."""
    import os

    from iot_big_data_engineering_spark.operators.similarity import (
        s15_mmr_rerank,
    )

    d = tmp_path / "s15_sf"
    os.makedirs(d, exist_ok=True)
    rows = [
        (0, [1.0, 0.0, 0.0], 0),       # the query doc itself (rel 1.0)
        (1, [0.96, 0.28, 0.0], 0),     # top non-self candidate
        (2, [0.96, 0.281, 0.001], 0),  # near-duplicate of doc 1
        (3, [0.95, -0.31, 0.0], 0),    # equally relevant but DIVERSE
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(d / "embeddings.parquet"))
    got = [
        r.doc_id
        for r in s15_mmr_rerank(spark, str(d))
        .orderBy("mmr_rank")
        .collect()
    ]
    # relevance order is [0, 1, 2, 3] (2 barely behind 1); MMR demotes
    # the near-duplicate 2 below the diverse 3
    assert got == [0, 1, 3, 2], got


def test_s16_row_identical_to_s14_and_shares_oracle(spark):
    """The registered IVF form's defining guarantee: the exact-bound
    pruned semantic channel makes the WHOLE fused output row-identical
    to s14's full-scan form — and the registry holds the literally same
    oracle for both (the s13 -> s13b twin discipline)."""
    from iot_big_data_engineering_spark.operators.similarity import (
        s14_hybrid_rrf,
        s16_hybrid_rrf_ivf,
    )
    from iot_big_data_engineering_spark.registry import all_queries

    key = lambda r: (
        r.doc_id, r.lex_rank, r.sem_rank, r.rrf_score, r.fused_rank,
    )
    a = sorted(map(key, s14_hybrid_rrf(spark, SF_SMOKE).collect()))
    b = sorted(map(key, s16_hybrid_rrf_ivf(spark, SF_SMOKE).collect()))
    assert a == b
    qs = all_queries()
    assert qs["s16_hybrid_rrf_ivf"].oracle == qs["s14_hybrid_rrf"].oracle


def test_s16_sem_channel_exact_under_narrow_phase1(spark, monkeypatch):
    """Force the weakest phase-1 candidate set (nprobe = 1): tau comes
    from a single cell's top-C, the bound must still admit every cell
    holding a true top-C doc, and the channel must stay row-identical
    to the exact full scan."""
    import iot_big_data_engineering_spark.operators.similarity as S

    monkeypatch.setattr(S, "_S16_NPROBE", 1)
    exact = [
        (r.doc_id, r.sem_rank)
        for r in S._s14_sem_channel_exact(spark, SF_SMOKE).collect()
    ]
    pruned = [
        (r.doc_id, r.sem_rank)
        for r in S._s14_sem_channel_ivf_exact(spark, SF_SMOKE).collect()
    ]
    assert sorted(exact) == sorted(pruned)


def test_s16_missing_query_embedding_degrades_like_s14(spark, tmp_path):
    """vec_id 0 absent from the corpus: both forms (and the shared
    oracle) must degrade to a lexical-only fused list — s16's IVF
    channel returns empty rather than raising."""
    import shutil

    import pandas as pd

    d = tmp_path / "noq_sf"
    d.mkdir()
    shutil.copy(f"{SF_SMOKE}/documents.parquet", d / "documents.parquet")
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    emb[emb.vec_id != 0].to_parquet(d / "embeddings.parquet")

    from iot_big_data_engineering_spark.operators.similarity import (
        s14_hybrid_rrf,
        s16_hybrid_rrf_ivf,
    )

    key = lambda r: (
        r.doc_id, r.lex_rank, r.sem_rank, r.rrf_score, r.fused_rank,
    )
    a = sorted(map(key, s14_hybrid_rrf(spark, str(d)).collect()))
    b = sorted(map(key, s16_hybrid_rrf_ivf(spark, str(d)).collect()))
    assert a == b
    assert a, "lexical-only degradation should still return fused rows"
    assert all(r[2] is None for r in a)  # no semantic ranks anywhere


def test_s16_driver_sort_key_follows_spark_order(spark):
    """s16 re-sorts its phase-1 candidates on the driver. The key must
    give Spark's ``cosine DESC NULLS LAST, doc_id ASC`` order, NaN first
    (Spark orders NaN above +Inf), so the C-th candidate that sets τ is
    the one Spark would pick."""
    from iot_big_data_engineering_spark.operators.similarity import (
        _desc_nulls_last_key,
    )

    nan, inf = float("nan"), float("inf")
    rows = [
        (1, 0.5), (2, None), (3, nan), (4, inf), (5, -inf), (6, 0.5),
        (7, nan), (8, -0.0), (9, 0.0), (10, None), (11, -1.0), (12, 0.75),
    ]
    df = spark.createDataFrame(rows, "doc_id long, cosine double")
    want = [
        r.doc_id
        for r in df.orderBy(
            F.col("cosine").desc_nulls_last(), F.col("doc_id").asc()
        ).collect()
    ]
    got = [
        d for d, _ in sorted(rows, key=lambda r: _desc_nulls_last_key(r[1], r[0]))
    ]
    assert got == want
    assert want[:3] == [3, 7, 4]  # non-vacuous: NaN ahead of +Inf


def test_vector_search_steps_live_only_in_their_helpers():
    """Each vector-search step has one definition in similarity.py: the
    rank windows (``row_number``) live only in the per-query ``_topk``
    and the single-query ``_rank_c``; comparisons against the plant
    offsets live only in the certificate builder ``certify_planted``;
    every cosine is computed through ``_score``; and the package reads
    the embedding column in one place, ``load_embeddings`` (plus s5's
    posexplode read)."""
    import ast
    from pathlib import Path

    import iot_big_data_engineering_spark as pkg

    def callee(call):
        f = call.func
        return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)

    root = Path(pkg.__file__).parent
    rank_sites, offset_sites, cosine_sites, readers = [], [], [], []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text())
        funcs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]

        def owner(node):  # the outermost def around node
            inside = [f for f in funcs if f.lineno <= node.lineno <= f.end_lineno]
            return min(inside, key=lambda f: f.lineno, default=None)

        def where(node):
            fn = owner(node)
            return (rel, fn and fn.name)

        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and callee(node) == "to_double"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value == "embedding"
            ):
                readers.append(where(node))
            if rel != "operators/similarity.py":
                continue
            if isinstance(node, ast.Attribute) and node.attr == "row_number":
                rank_sites.append(where(node))
            elif isinstance(node, ast.Compare) and any(
                isinstance(n, ast.Name)
                and n.id in ("_PLANT_OFFSET", "_PERTURB_OFFSET")
                for n in ast.walk(node)
            ):
                offset_sites.append(where(node))
            elif isinstance(node, ast.Call) and callee(node) == "cosine":
                cosine_sites.append(where(node))
    sim = "operators/similarity.py"
    assert sorted(set(rank_sites)) == [(sim, "_rank_c"), (sim, "_topk")], rank_sites
    assert set(offset_sites) == {(sim, "certify_planted")}, offset_sites
    assert cosine_sites == [], cosine_sites
    assert sorted(readers) == [
        (sim, "load_embeddings"),
        (sim, "s5_scalar_quantization"),
    ], readers
