"""Similarity search over the `embeddings` table (array<float> column) —
training-data pipeline extension (BASELINE.json north star).

- s1: brute-force cosine top-k — the exact baseline, built-in exprs only
      (zip_with/aggregate fold → deterministic double math shared with the
      DuckDB oracle).
- s2: IVF two-stage ANN — deterministic k-means (Lloyd's iterations as
      map-only Arrow kernel jobs: per-partition partial sums per cell,
      driver-side nlist·dim reduce; zero shuffles) builds nlist coarse
      cells; queries probe the nprobe nearest cells and exact-rerank
      inside. The 100 TB path: the corpus would be written partitioned by
      cell id, so a probe is a partition-pruned scan of nprobe/nlist of
      the data. The registered query is a self-certifying planted-
      duplicate probe (oracle-checked; see the certificate block comment
      below) — raw top-k via ivf_topk; recall on planted near-
      duplicates is additionally property-tested (the testdata embeddings
      are isotropic-random — label is NOT a geometric cluster — so recall
      on random neighbors would measure the data, not the operator).
- s3: LSH-bucketed ANN — random-hyperplane (sign-bit) hashing into
      ntables independent bucket tables; candidates are corpus vectors
      sharing a bucket with the query in ANY table, exact-reranked. The
      100 TB path mirrors s2 with hash buckets instead of k-means cells:
      bucket assignment is a one-time map-only pass, the corpus is stored
      partitioned by (table, bucket), and a probe reads only the ntables
      matching buckets — no index training step at all, the trade being
      data-blind buckets (lower recall per probe than IVF at equal read
      volume). Registered as a planted-duplicate certificate like s2
      (oracle-checked); raw top-k via lsh_topk.
- s4: per-label centroid + dispersion rollup (exact DECIMAL sums).
- s5: SQ8 scalar-quantization calibration + worst-case reconstruction
      error audit (full-value oracle).
- s6: IVF-SQ8 composed stack — the s2 coarse index searched over s5's
      quantized codes (planted-duplicate certificate).
- d9: SemDeDup — within-cell embedding dedup on the IVF cells
      (planted-copy removal certificate).
- numpy_topk: Arrow-batched mapInPandas matmul kernel, the vectorized
      form when Python-side scoring is unavoidable; tests assert it agrees
      exactly with s1.

Every query composes one definition per search step:
- ``load_embeddings`` reads the corpus (d6 and dq8 read through it too;
  only s5's posexplode read is its own), ``query_set`` takes the first
  N_QUERIES rows as queries and ``_s14_query`` the fixed s14/s15/s16
  query vector;
- ``_score`` is the rounded similarity (cosine, or s12's inner product)
  and ``_score_pairs`` scores query × corpus pairs without the self pair;
- ``_topk`` is the per-query rank window, ``_top_c``/``_rank_c`` the
  single-query top-C and its ≤C-row rank window;
- ``assign_cells`` is the one IVF cell kernel (``cell`` and ``ccos``),
  ``_ivf_index`` the probe prologue (query collect, persist, k-means,
  empty guards, assignment) and ``cell_min_ccos`` the per-cell radius;
- ``certify_planted`` builds every planted-copy certificate (s2, s3,
  s6–s11, d9) from one aggregation over the search output.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..caching import collect_local, scratch_dir, track
from ..functions import text as X
from ..functions import vectors as V
from ..functions.rounding import fround
from ..registry import register
from ..sources.tables import load_table

_R = 6
K = 10
N_QUERIES = 5  # query set: vec_id < 5
_TOPK_SCHEMA = "query_id long, vec_id long, cosine double, rank int"


def load_embeddings(
    spark: SparkSession, sf_dir: str, *cols: str, repartition: bool = False
) -> DataFrame:
    """The embeddings corpus as ``cols`` plus ``v``, the embedding as
    array<double>. Callers that feed an Arrow kernel name exactly the
    columns the kernel batch needs.

    ``repartition`` spreads the rows over the session's parallelism by
    vec_id BEFORE the projection: the testdata parquet is a single
    ~200 KB split → one task, and the vector folds (interpreted
    higher-order exprs) would run single-threaded. The Arrow-kernel
    queries leave it off — their per-row work is trivial, so task count
    should track input splits rather than pay per-task Python worker
    start-up; at real scale the input arrives in many splits either way."""
    t = load_table(spark, sf_dir, "embeddings")
    if repartition:
        t = t.repartition(spark.sparkContext.defaultParallelism, "vec_id")
    return t.select(*cols, V.to_double("embedding").alias("v"))


def query_set(e: DataFrame) -> DataFrame:
    """(query_id, qv): the corpus rows with vec_id < N_QUERIES as queries."""
    return e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )


def _score(fn=V.cosine, a: str = "qv", b: str = "v") -> Column:
    """The rounded similarity every ranking and range filter compares:
    ``fn`` (V.cosine, or V.dot for s12) floor-rounded to _R places — the
    oracle's round(…, 6) after registration's rewrite."""
    return fround(fn(F.col(a), F.col(b)), _R)


def _score_pairs(pairs: DataFrame, name: str = "cosine", fn=V.cosine) -> DataFrame:
    """(query_id, vec_id, ``name``) over query × corpus pairs carrying
    (qv, v), the query's own corpus row dropped."""
    return pairs.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id", "vec_id", _score(fn).alias(name)
    )


def _topk(scored: DataFrame, k: int = K, order: tuple | None = None) -> DataFrame:
    """Per-query top-k of ``scored`` (query_id, vec_id, score) plus a
    dense ``rank``. ``order`` defaults to the score (third column)
    descending with a vec_id tie-break — the oracle's ORDER BY score
    DESC, vec_id."""
    order = order or (F.col(scored.columns[2]).desc(), F.col("vec_id"))
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*scored.columns, "rank")
    )


# ---------------------------------------------------------------------------
# S1 — brute-force cosine top-k (exact baseline, oracle-checked)
# ---------------------------------------------------------------------------
@register(
    "s1_knn_bruteforce",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id,
         round({V.sql_cosine("q.qv", "e.v")}, {_R}) AS cosine
  FROM q JOIN e ON e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {K}
""",
    doc="S1: exact brute-force cosine top-10 for 5 query vectors",
)
def s1_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_embeddings(spark, sf_dir, "vec_id", "label", repartition=True)
    return _topk(_score_pairs(e.crossJoin(F.broadcast(query_set(e)))))


# ---------------------------------------------------------------------------
# Deterministic distributed k-means (Lloyd's algorithm, Arrow kernels)
#
# Assignment (corpus × nlist centroids dot-product argmax) is dense linear
# algebra — exactly the case where an Arrow-batched numpy matmul beats
# interpreted higher-order Column folds by orders of magnitude (measured:
# the fold/shuffle formulation of one Lloyd iteration took 9.5 s on 2k×64;
# the kernel version runs the whole IVF in ~2 s). Each iteration is ONE
# map-only job: mapInPandas emits per-partition partial (cell, sum, count)
# — a map-side combine — and the nlist·dim final reduce happens on the
# driver. No shuffle at any point; at 100 TB each executor streams its
# parquet splits through the kernel once per iteration.
# ---------------------------------------------------------------------------
def _np():
    import numpy as np

    return np


def _normalize_rows(m):
    np = _np()
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return m / n


def _seed_centroids(e: DataFrame, nlist: int):
    """Seeds = the nlist lowest vec_ids (deterministic). orderBy+limit plans
    as TakeOrderedAndProject — a per-partition top-k + driver merge, NOT the
    single-partition global-window sort it replaces."""
    np = _np()
    rows = e.orderBy("vec_id").limit(nlist).select("v").collect()
    if not rows:  # empty corpus → zero cells (callers degrade gracefully)
        return np.zeros((0, 0))
    return _normalize_rows(np.asarray([r.v for r in rows], dtype=np.float64))


def kmeans_centroids(e: DataFrame, nlist: int = 16, iters: int = 1):
    """Deterministic spherical Lloyd's over (vec_id, v) rows. Returns the
    (nlist, dim) unit-row centroid matrix (numpy, driver-side — nlist·dim
    doubles, tiny at any corpus scale).

    Per iteration: broadcast centroids → one map-only Spark job computing
    per-partition partial sums per cell → driver combine + renormalize.
    Ties (equal dot) break to the lowest cell id (np.argmax first-max)."""
    import pandas as pd

    np = _np()
    spark = e.sparkSession
    cent = _seed_centroids(e, nlist)
    # a corpus smaller than nlist seeds fewer cells; all sizing below
    # follows the actual seed count
    n_cells, dim = cent.shape
    if n_cells == 0:
        return cent
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cent)

        def partial(batches):
            c = bc.value
            sums = np.zeros((c.shape[0], c.shape[1]))
            cnts = np.zeros(c.shape[0], dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                m = _normalize_rows(np.stack(pdf["v"].to_numpy()).astype(np.float64))
                cells = np.argmax(m @ c.T, axis=1)
                np.add.at(sums, cells, m)
                np.add.at(cnts, cells, 1)
            nz = np.nonzero(cnts)[0]
            if len(nz):  # empty partition → yield nothing (empty pdf gets
                # float64 dtypes Arrow can't cast to list<double>)
                yield pd.DataFrame(
                    {"cell": nz, "s": [row.tolist() for row in sums[nz]], "n": cnts[nz]}
                )

        parts = e.select("v").mapInPandas(
            partial, schema="cell long, s array<double>, n long"
        ).collect()
        sums = np.zeros((n_cells, dim))
        cnts = np.zeros(n_cells, dtype=np.int64)
        for r in parts:
            sums[r.cell] += np.asarray(r.s)
            cnts[r.cell] += r.n
        # empty cells keep their previous centroid
        nz = cnts > 0
        cent = cent.copy()
        cent[nz] = _normalize_rows(sums[nz] / cnts[nz, None])
        bc.destroy()
    return cent


def assign_cells(e: DataFrame, cent) -> DataFrame:
    """Adds `cell` = argmax_centroid(dot(normalize(v), centroid)) and
    `ccos` = that maximum, the row's cosine to its own centroid (the
    per-row ingredient of the per-cell angular radius, cell_min_ccos),
    via an Arrow-batched kernel against the broadcast (nlist, dim)
    matrix. Pure map-side — no shuffle; at scale `cell` becomes the
    storage partition key so probes are partition-pruned scans. Zero-norm
    rows normalize to themselves and score ccos = 0 (radius π/2 —
    maximally conservative: their cell is never pruned on their account,
    and the exact filter drops them via the NULL-cosine guard)."""
    import pandas as pd  # noqa: F401 — Arrow batch interface

    np = _np()
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    bc = e.sparkSession.sparkContext.broadcast(cent)
    # fresh StructType — StructType.add would MUTATE the df's cached schema
    out_schema = StructType(
        list(e.schema.fields)
        + [StructField("cell", LongType()), StructField("ccos", DoubleType())]
    )

    def kernel(batches):
        c = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = _normalize_rows(np.stack(pdf["v"].to_numpy()).astype(np.float64))
            sims = m @ c.T
            pdf = pdf.copy()
            pdf["cell"] = np.argmax(sims, axis=1)
            pdf["ccos"] = np.max(sims, axis=1)
            yield pdf

    return e.mapInPandas(kernel, schema=out_schema)


def cell_min_ccos(indexed: DataFrame) -> DataFrame:
    """(cell, m): each cell's smallest member ``ccos`` — the cell's
    angular radius is arccos(m). A |cells|-row aggregate with map-side
    partials."""
    return indexed.groupBy("cell").agg(F.min("ccos").alias("m"))


def _min_ccos_array(pairs, n_cells: int):
    """(cell, m) pairs → the (n_cells,) min-ccos vector; an absent cell
    keeps 1.0, radius 0 (it is empty, so pruning it drops no member)."""
    min_ccos = _np().ones(n_cells)
    for cell, m in pairs:
        min_ccos[cell] = m
    return min_ccos


def _ivf_index(e: DataFrame, queries: DataFrame, nlist: int, iters: int):
    """The IVF probe prologue of ivf_topk, ivf_range_search and s16:
    (query rows, centroids, cell-assigned corpus), or None when the query
    set or the corpus is empty.

    The query set is collected first (ANN queries are small by
    construction; the corpus never is): ONE collect serves the empty-set
    gate and the caller's driver-side probe selection, and an empty query
    set pays no index training. The corpus is persisted because the
    k-means seed, every Lloyd iteration and the assignment all read it."""
    qrows = queries.collect()
    if not qrows:
        return None
    e = track(e.persist())
    cent = kmeans_centroids(e, nlist=nlist, iters=iters)
    if cent.shape[0] == 0:
        return None
    return qrows, cent, assign_cells(e, cent)


def ivf_topk(
    e: DataFrame,
    queries: DataFrame,
    k: int = K,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 1,
) -> DataFrame:
    """Two-stage ANN: coarse-quantize the corpus into nlist k-means cells,
    probe the nprobe closest cells per query, exact-rerank inside them.
    `queries` must have (query_id, qv).

    Probe selection is a driver-side (nq × nlist) matmul over the
    collected query set; the candidate scan is then a broadcast join on
    `cell` — at real scale, a partition-pruned read of nprobe/nlist of the
    corpus."""
    index = _ivf_index(e, queries, nlist, iters)
    if index is None:
        return e.sparkSession.createDataFrame([], _TOPK_SCHEMA)
    qrows, cent, indexed = index
    return ivf_probe_search(
        indexed, cent, queries, k=k, nprobe=nprobe, qrows=qrows
    )


def ivf_probe_search(
    indexed: DataFrame,
    cent,
    queries: DataFrame,
    k: int = K,
    nprobe: int = 4,
    match_label: bool = False,
    qrows: list | None = None,
) -> DataFrame:
    """Probe selection + candidate scan + exact rerank over an ALREADY
    indexed corpus (`assign_cells` output) and trained centroid matrix —
    the index-consuming half of ivf_topk, factored out so the index can
    be built differently per query family: s2 trains fresh, s7 filters
    candidates by the query's label, s8 unions a delta batch assigned
    with yesterday's centroids (no retrain).

    With ``match_label`` the query relation must carry (query_id, qv,
    qlabel) and `indexed` a `label` column; candidates are filtered to
    label == qlabel BETWEEN the cell scan and the rerank — the standard
    filtered-ANN shape: the predicate rides the probed-cell scan (at
    scale: partition-pruned on cell, predicate-pushed on label), never a
    post-rerank filter that could return < k survivors.

    ``qrows``: pre-collected query rows (ivf_topk passes its own single
    collect through so the query plan is not executed a second time)."""
    np = _np()
    spark = indexed.sparkSession
    if qrows is None:
        qrows = queries.collect()
    # empty query set → np.asarray([]) is 1-D and _normalize_rows would
    # raise AxisError
    if not qrows or cent.shape[0] == 0:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    qn = _normalize_rows(
        np.asarray([r.qv for r in qrows], dtype=np.float64)
    )
    order = np.argsort(-(qn @ cent.T), axis=1, kind="stable")  # ties → lowest cell
    probe_rows = [
        (r.query_id, list(r.qv), int(c))
        + ((r.qlabel,) if match_label else ())
        for r, row in zip(qrows, order)
        for c in row[:nprobe]
    ]
    probes = spark.createDataFrame(
        probe_rows,
        "query_id long, qv array<double>, cell long"
        + (", qlabel long" if match_label else ""),
    )
    cand = indexed.join(F.broadcast(probes), "cell")
    if match_label:
        cand = cand.filter(F.col("label") == F.col("qlabel"))
    return _topk(_score_pairs(cand), k)


# ---------------------------------------------------------------------------
# Registered ANN queries run as SELF-CERTIFYING planted-duplicate probes:
# an ANN result set is chosen by the index (IVF cells / LSH buckets), which
# no SQL oracle can replicate — but the *defining guarantee* of both
# indexes is SQL-statable: an exact copy of a query vector normalizes to
# the identical unit vector, therefore lands in the identical k-means cell
# / identical sign-bit buckets, and exact-reranks at cosine 1.0 — so the
# full pipeline MUST return it in the top-k, deterministically, for any
# corpus. The registered queries plant such copies (vec_id + offset), run
# the UNCHANGED index pipeline over corpus ∪ planted, and emit one boolean
# row per query; the DuckDB oracle states the guarantee (TRUE per query
# id). A pipeline regression (cell assignment drift, bucket mismatch,
# rerank bug, dropped candidates) flips a boolean and fails the driver's
# hash gate. Raw top-k output stays available via ivf_topk / lsh_topk
# and is property-tested (rank density, cosine monotonicity, bucket-
# collision proofs) in tests/test_similarity.py. Every certificate is
# built by certify_planted.
# ---------------------------------------------------------------------------
_PLANT_OFFSET = 10_000_000  # far above any real vec_id at any SF
_PERTURB_OFFSET = 2 * _PLANT_OFFSET  # near-copies for the recall column
_RECALL_MIN = 0.8  # share of perturbed near-copies the recall column asks

# s6 (quantized stack) keeps the exact-copy-only certificate
_ANN_CERT_ORACLE = f"""
SELECT vec_id AS query_id, TRUE AS planted_dup_found
FROM embeddings WHERE vec_id < {N_QUERIES}
ORDER BY query_id
"""

# s2/s3 additionally hash the APPROXIMATE-recall guarantee: planted
# near-copies (deterministic perturbation, cosine ≈ 0.9997 — the same
# scheme tests/test_similarity.py property-tests) must be retrieved at
# ≥ the stated recall. Unlike the exact-copy boolean this is empirical,
# not structural — but with wide margin: an IVF miss needs the copy's
# cell OUTSIDE the query's nprobe=4 probe set (the perturbation at most
# swaps cells ranked #1/#2), an LSH miss needs a sign-bit flip in ALL
# ntables=4 tables (P ≈ 5e-6 at this perturbation angle). Verified at
# sf0.001/0.01/0.1 on current data (5/5 retrieved at every SF).
_ANN_CERT_RECALL_ORACLE = f"""
SELECT vec_id AS query_id, TRUE AS planted_dup_found,
       TRUE AS near_dup_recall_ok
FROM embeddings WHERE vec_id < {N_QUERIES}
ORDER BY query_id
"""


def certify_planted(
    found: DataFrame,
    ids: DataFrame,
    key: str = "query_id",
    hit: str = "planted_dup_found",
    recall: str | None = None,
    **flags: Column,
) -> DataFrame:
    """One certificate row per ``key`` in ``ids``, ordered by it. ``hit``
    says the planted exact copy (key + _PLANT_OFFSET) is among ``found``'s
    vec_ids for that key; each named ``flags`` column is that per-key
    boolean aggregate over ``found``. A key with no ``found`` row gets
    FALSE everywhere (hash-fails loudly, never silently drops the row).

    With ``recall``, a column of that name adds the aggregate near-dup
    recall: the perturbed plants (key + _PERTURB_OFFSET) found must reach
    _RECALL_MIN of the keys. It is one scalar repeated per row (the
    oracle states TRUE), so the driver hashes the recall guarantee, not
    just the exact-copy one.

    All flags come from ONE aggregation over ``found`` — a single plan
    reference, so the search subtree is neither duplicated in the plan
    nor behind a persist() barrier."""
    aggs = [F.max(F.col("vec_id") == F.col(key) + F.lit(_PLANT_OFFSET)).alias(hit)]
    if recall:
        aggs.append(
            F.max(
                F.col("vec_id") == F.col(key) + F.lit(_PERTURB_OFFSET)
            ).alias("phit")
        )
    aggs += [c.alias(n) for n, c in flags.items()]
    base = ids.select(key).join(found.groupBy(key).agg(*aggs), key, "left")
    cols = [F.coalesce(n, F.lit(False)).alias(n) for n in (hit, *flags)]
    if recall:
        # attach the aggregate as an UNPARTITIONED window over the
        # certificate frame — safe precisely because that frame is
        # plant-count-sized (bounded by construction, never corpus-sized),
        # and it keeps the plan free of the BroadcastNestedLoopJoin a
        # 1-row crossJoin would add
        w_all = Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        phits = F.sum(F.coalesce("phit", F.lit(False)).cast("int")).over(w_all)
        cols.append(
            (phits >= F.lit(_RECALL_MIN) * F.count("*").over(w_all)).alias(recall)
        )
    return base.select(key, *cols).orderBy(key)


def _corpus_queries_planted(spark: SparkSession, sf_dir: str):
    """(corpus ∪ planted exact copies, query set) for the ANN
    certificates. The plant and query relations are driver-local (one
    memoized collect per session, _PLANT_MEMO), so a certified query pays
    no extra scan branch over the parquet for them."""
    e = load_embeddings(spark, sf_dir, "vec_id", "label")
    q = plant_queries(spark, sf_dir, N_QUERIES)
    planted = planted_exact_copies(spark, sf_dir, N_QUERIES)
    return e.unionByName(planted, allowMissingColumns=True), q


# driver-side memo of the PLANT rows (the first n_plant embeddings rows,
# already to_double-projected), keyed by (sf_dir, n_plant): s2, s3 and d9
# all derive their query set, exact-copy plants AND perturbed near-copies
# from these same rows; deriving each from its own scan branch or collect
# job cost ~0.8 s per query. The memo is the session-lifetime
# stand-in for the persisted planted table a production pipeline would
# materialize once; it survives catalog.clearCache() because it is plain
# Python data, and it is bounded by construction (≤50 rows × dim per
# key). Everything below it stays data-derived and deterministic: the one
# collect reads the actual parquet rows, and every derived relation is a
# pure function of them.
_PLANT_MEMO: dict[tuple, list] = {}


def _embeddings_fingerprint(sf_dir: str) -> tuple:
    """(mtime_ns, size) of the embeddings parquet — cheap stat, part of
    the memo key so a testdata regeneration WITHIN a session invalidates
    the memo instead of certifying against rows that no longer exist in
    the corpus."""
    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:  # non-local path (e.g. s3://) — fall back to path-only
        return ()


def _plant_rows(spark: SparkSession, sf_dir: str, n_plant: int) -> list:
    """[(vec_id, v, label)] for the first ``n_plant`` embeddings rows —
    one filter-pushdown collect per (sf_dir, n_plant, data fingerprint)
    per session; label rides the same collect so s7's filtered
    certificate needs no second scan. Consumers that only want
    (vec_id, v) unpack the first two fields."""
    key = (sf_dir, n_plant, _embeddings_fingerprint(sf_dir))
    if key not in _PLANT_MEMO:
        base = load_embeddings(spark, sf_dir, "vec_id", "label")
        _PLANT_MEMO[key] = [
            (int(r.vec_id), list(r.v), int(r.label))
            for r in base.filter(F.col("vec_id") < n_plant).collect()
        ]
    return _PLANT_MEMO[key]


def plant_queries(spark: SparkSession, sf_dir: str, n_plant: int) -> DataFrame:
    """The certificate query set (query_id, qv) as a driver-local
    relation — no parquet scan branch per use."""
    return spark.createDataFrame(
        [(vid, v) for vid, v, _ in _plant_rows(spark, sf_dir, n_plant)],
        "query_id long, qv array<double>",
    )


def planted_exact_copies(
    spark: SparkSession, sf_dir: str, n_plant: int, offset: int = _PLANT_OFFSET
) -> DataFrame:
    """Exact copies of the plant rows at vec_id + offset, driver-local."""
    return spark.createDataFrame(
        [(vid + offset, v) for vid, v, _ in _plant_rows(spark, sf_dir, n_plant)],
        "vec_id long, v array<double>",
    )


def perturbed_plants(
    spark: SparkSession,
    sf_dir: str,
    n_plant: int,
    offset: int = _PERTURB_OFFSET,
) -> DataFrame:
    """Deterministic NEAR-copies of the first ``n_plant`` embeddings rows
    at vec_id + offset (see :func:`_perturb_one` for the math), built
    from the memoized plant rows and shared across s2/s3/d9."""
    np = _np()
    data = [
        _perturb_one(np, vid, v, offset)
        for vid, v, _ in _plant_rows(spark, sf_dir, n_plant)
    ]
    return spark.createDataFrame(data, "vec_id long, v array<double>")


def _perturb_one(np, vec_id: int, v_in, offset: int) -> tuple:
    """Roll the vector for a pseudo-random direction, orthogonalize
    against it, scale to 2.5% of the norm → cosine ≈ 0.9997 with the
    original. Pure data-derived (no RNG), so identical on every
    run/engine."""
    v = np.asarray(v_in, dtype=np.float64)
    d = np.roll(v, 7)
    vv = float(v @ v)
    if vv > 0.0:
        d = d - (d @ v) / vv * v  # orthogonalize
    nd = np.linalg.norm(d)
    p = v if nd == 0.0 else v + d / nd * 0.025 * np.sqrt(vv)
    return (vec_id + offset, [float(x) for x in p])


@register(
    "s2_knn_ivf",
    oracle=_ANN_CERT_RECALL_ORACLE,
    doc="S2: IVF ANN — planted exact-copy + near-dup-recall certificate",
)
def s2_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, q = _corpus_queries_planted(spark, sf_dir)
    # memoized plain-table near-copies (one collect per session, shared
    # with s3/d9); collecting through the union corpus would evaluate the
    # planted branch too, measured ~0.5 s waste
    pert = perturbed_plants(spark, sf_dir, N_QUERIES)
    topk = ivf_topk(corpus.unionByName(pert, allowMissingColumns=True), q)
    return certify_planted(topk, q, recall="near_dup_recall_ok")


# ---------------------------------------------------------------------------
# NumPy kernel — vectorized brute-force (tests assert equivalence with s1)
# ---------------------------------------------------------------------------
def numpy_topk(e: DataFrame, queries: list[tuple[int, list[float]]], k: int = K) -> DataFrame:
    """mapInPandas brute-force: per Arrow batch, one matmul against the
    (broadcast) query matrix. The shape to use when Python-side scoring is
    unavoidable (e.g. a model-provided distance)."""
    import numpy as np
    import pandas as pd

    spark = e.sparkSession
    qids = [q[0] for q in queries]
    qmat = np.asarray([q[1] for q in queries], dtype=np.float64)
    # zero-norm-safe normalization (dq8's hazard class): a raw divide
    # would emit NaN rows that rank nondeterministically.
    # The norm masks carry the NULL semantics: V.cosine's nullif guard
    # scores a zero-norm vector NULL (sorted last under DESC), so the
    # kernel must emit NULL too — not the 0.0 a pass-through row would
    # score, which on a corpus with negative cosines RANKS DIFFERENTLY
    # than NULL.
    qok = np.linalg.norm(qmat, axis=1) > 0.0
    qnorm = _normalize_rows(qmat)
    bc = spark.sparkContext.broadcast((qids, qnorm, qok))

    def score(batches):
        ids, qn, qmask = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            raw = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            vok = np.linalg.norm(raw, axis=1) > 0.0
            m = _normalize_rows(raw)
            sims = m @ qn.T  # (batch, nq)
            # NULL wherever either side is zero-norm — exact parity with
            # the nullif(norm·norm, 0) guard on the expression path
            cos = pd.array(sims.T.reshape(-1), dtype="Float64")
            cos[(~(vok[:, None] & qmask[None, :])).T.reshape(-1)] = pd.NA
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(ids, len(pdf)),
                    "vec_id": np.tile(pdf["vec_id"].to_numpy(), len(ids)),
                    "cosine": cos,
                }
            )

    scored = e.select("vec_id", "v").mapInPandas(
        score, schema="query_id long, vec_id long, cosine double"
    )
    return _topk(
        scored.filter(F.col("vec_id") != F.col("query_id")).select(
            "query_id", "vec_id", fround("cosine", _R).alias("cosine")
        ),
        k,
    )


# ---------------------------------------------------------------------------
# S3 — LSH-bucketed ANN (random-hyperplane sign bits, multi-table)
# ---------------------------------------------------------------------------
NBITS = 6       # 2^6 = 64 buckets per table
NTABLES = 4     # independent tables OR'd for candidates
LSH_SEED = 7


def lsh_hyperplanes(dim: int, nbits: int = NBITS, ntables: int = NTABLES,
                    seed: int = LSH_SEED):
    """Deterministic Gaussian hyperplanes, shape (ntables, nbits, dim).
    Seeded RandomState → identical buckets on every run/engine, so the
    operator output is reproducible (a registry requirement)."""
    np = _np()
    rs = np.random.RandomState(seed)
    return rs.standard_normal((ntables, nbits, dim))


def _bucket_matrix(m, planes):
    """(n, dim) unit rows × (ntables, nbits, dim) planes → (n, ntables)
    integer bucket ids: bucket = Σ 2^i·[v·h_i > 0]."""
    np = _np()
    nt, nb, dim = planes.shape
    # (n, ntables*nbits) sign bits in one matmul
    bits = (m @ planes.reshape(nt * nb, dim).T) > 0.0
    weights = (1 << np.arange(nb)).astype(np.int64)
    return bits.reshape(len(m), nt, nb) @ weights  # (n, ntables)


def assign_lsh_buckets(e: DataFrame, planes) -> DataFrame:
    """Adds `buckets` = array<long>, one bucket id per table, via an
    Arrow-batched kernel against the broadcast plane tensor. Pure map-side
    — no shuffle; at scale (table, bucket) becomes the storage partition
    key so probes are partition-pruned scans (same pattern as s2's
    assign_cells, without the training pass)."""
    import pandas as pd

    np = _np()
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    bc = e.sparkSession.sparkContext.broadcast(planes)
    out_schema = StructType(
        list(e.schema.fields) + [StructField("buckets", ArrayType(LongType()))]
    )

    def kernel(batches):
        p = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = _normalize_rows(np.stack(pdf["v"].to_numpy()).astype(np.float64))
            pdf = pdf.copy()
            pdf["buckets"] = [row.tolist() for row in _bucket_matrix(m, p)]
            yield pdf

    return e.mapInPandas(kernel, schema=out_schema)


def lsh_topk(
    e: DataFrame,
    queries: DataFrame,
    k: int = K,
    nbits: int = NBITS,
    ntables: int = NTABLES,
    seed: int = LSH_SEED,
) -> DataFrame:
    """Multi-table LSH ANN: candidates = corpus rows sharing a (table,
    bucket) with the query in any table, deduped, exact-reranked by
    cosine. `queries` must have (query_id, qv); collected to the driver
    (small by construction — the corpus never is) so query buckets are a
    driver-side matmul and the probe set broadcasts into the candidate
    join. An ANN query may return < k rows when its buckets are sparse —
    inherent to hash-bucketed search (raise ntables for recall)."""
    np = _np()
    spark = e.sparkSession
    empty = spark.createDataFrame([], _TOPK_SCHEMA)
    qrows = queries.collect()
    if not qrows:
        return empty
    first = e.select(F.size("v").alias("d")).first()
    if first is None:  # empty corpus
        return empty
    planes = lsh_hyperplanes(int(first.d), nbits, ntables, seed)
    bucketed = (
        assign_lsh_buckets(e, planes)
        .select(
            "vec_id",
            "v",
            F.posexplode("buckets").alias("table", "bucket"),
        )
    )
    qn = _normalize_rows(np.asarray([r.qv for r in qrows], dtype=np.float64))
    qb = _bucket_matrix(qn, planes)  # (nq, ntables)
    probes = spark.createDataFrame(
        [
            (r.query_id, list(r.qv), t, int(b))
            for r, row in zip(qrows, qb)
            for t, b in enumerate(row)
        ],
        "query_id long, qv array<double>, table int, bucket long",
    )
    # a pair can collide in several tables; every duplicate row is
    # identical in (qv, v) so keep-any semantics are deterministic
    cand = bucketed.join(F.broadcast(probes), ["table", "bucket"]).dropDuplicates(
        ["query_id", "vec_id"]
    )
    return _topk(_score_pairs(cand), k)


@register(
    "s3_knn_lsh",
    oracle=_ANN_CERT_RECALL_ORACLE,
    doc="S3: LSH ANN — planted exact-copy + near-dup-recall certificate",
)
def s3_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # identical copy → identical sign bits under every hyperplane → shares
    # ALL ntables buckets with its query → guaranteed candidate, reranks
    # at cosine 1.0 (see the certificate block comment above)
    corpus, q = _corpus_queries_planted(spark, sf_dir)
    pert = perturbed_plants(spark, sf_dir, N_QUERIES)  # memoized, as in s2
    topk = lsh_topk(corpus.unionByName(pert, allowMissingColumns=True), q)
    return certify_planted(topk, q, recall="near_dup_recall_ok")


# ---------------------------------------------------------------------------
# S4 — per-label centroid + dispersion statistics: the distributed vector
# AGGREGATION counterpart to the s1-s3 searches (the shape behind IVF
# training, embedding-drift monitors, and cluster quality reports).
#
# Order-independent float arithmetic: a per-dimension mean over thousands
# of rows is double summation whose value depends on reduction order —
# unusable for a cross-engine hash check and nondeterministic across
# partitionings. Every cross-row sum here therefore runs in exact DECIMAL
# (element values cast to DECIMAL(12,8) first; products widen to
# (25,16) — inside both engines' 38-digit limit), with ONE double
# division at the end. That also makes the physical plan fully
# partial-aggregatable: decimal sums are associative-exact, so map-side
# combine never changes the answer. Two shuffles total at any scale
# (label×dim centroid agg, per-vector distance agg). The centroid table
# is |labels|·dim rows — it scales with label cardinality, so it carries
# NO broadcast hint (thousands of labels × high dim is GBs): the planner
# broadcasts it while it fits under the 64 MB threshold and falls back to
# a shuffle hash join on (label, pos) beyond that.
# ---------------------------------------------------------------------------
@register(
    "s4_label_centroids",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
dims AS (
  SELECT vec_id, label, i - 1 AS pos, v[i] AS x
  FROM e, unnest(generate_series(1, len(v))) AS t(i)
),
cent AS (
  SELECT label, pos,
         CAST(sum(CAST(x AS DECIMAL(12,8))) AS DOUBLE) / count(*) AS c
  FROM dims GROUP BY label, pos
),
pv AS (
  SELECT d.vec_id, d.label,
         sum(CAST(d.x - c.c AS DECIMAL(12,8))
             * CAST(d.x - c.c AS DECIMAL(12,8))) AS d2
  FROM dims d JOIN cent c ON d.label = c.label AND d.pos = c.pos
  GROUP BY d.vec_id, d.label
),
nrm AS (
  SELECT label, CAST(sum(CAST(c * c AS DECIMAL(20,16))) AS DOUBLE) AS norm2
  FROM cent GROUP BY label
)
SELECT p.label,
       count(*) AS n_vecs,
       round(max(n.norm2), {_R}) AS centroid_norm2,
       round(CAST(sum(p.d2) AS DOUBLE) / count(*), {_R}) AS avg_dist2
FROM pv p JOIN nrm n ON p.label = n.label
GROUP BY p.label
ORDER BY p.label
""",
    doc="S4: per-label centroid norm + mean squared dispersion, exact sums",
)
def s4_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_embeddings(spark, sf_dir, "vec_id", "label", repartition=True)
    dims = e.select(
        "vec_id", "label", F.posexplode("v").alias("pos", "x")
    )
    xd = F.col("x").cast("decimal(12,8)")
    cent = dims.groupBy("label", "pos").agg(
        (F.sum(xd).cast("double") / F.count("*")).alias("c")
    )
    joined = dims.join(cent, ["label", "pos"])
    dxd = (F.col("x") - F.col("c")).cast("decimal(12,8)")
    per_vec = joined.groupBy("vec_id", "label").agg(
        F.sum(dxd * dxd).alias("d2")
    )
    norm = cent.groupBy("label").agg(
        F.sum((F.col("c") * F.col("c")).cast("decimal(20,16)"))
        .cast("double")
        .alias("norm2")
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            (F.sum("d2").cast("double") / F.count("*")).alias("avg_d2"),
        )
        .join(norm, "label")
        .select(
            "label",
            "n_vecs",
            fround(F.col("norm2"), _R).alias("centroid_norm2"),
            fround(F.col("avg_d2"), _R).alias("avg_dist2"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# D9 — semantic dedup via IVF cells (SemDeDup-style): the SCALE PATH for
# embedding near-duplicate removal. d6 (dedup.py) is the exact
# within-label all-pairs ANCHOR, deliberately capped to a deterministic
# slice because its candidate count is Σ per-label n² — unbounded at
# corpus scale. d9 replaces the blocking key with the IVF cell structure
# s2 already trains: vectors are coarse-quantized into nlist k-means
# cells (map-only kernel against broadcast centroids), candidate pairs
# are generated ONLY within a cell, and a vector is dropped when a
# smaller-id neighbor in its cell has cosine ≥ τ.
#
# Why this scales where d6 cannot: cell count is a free knob — pick
# nlist ∝ corpus size and per-cell population stays bounded, so candidate
# pairs are Σ n_cell² ≈ n·(n/nlist) = O(n) per unit cell size. The cell
# id doubles as the storage partition key (as in s2), making each cell's
# pair generation a partition-local join with no global shuffle of
# vectors. The miss mode vs the exact anchor is pairs that straddle a
# cell boundary — the standard SemDeDup trade, quantified locally by the
# planted near-duplicate recall test (test_similarity: ≥0.8 required on
# cosine-0.9997 perturbed copies; exact copies are never missed).
#
# Certificate (same contract as s2/s3): an exact copy normalizes to the
# identical unit vector → identical argmax cell → cosine 1.0 ≥ τ with its
# original → the copy (larger id) MUST be dropped. The oracle states that
# guarantee per planted id; any regression in cell assignment, pair
# generation, or the τ filter flips a boolean and fails the hash gate.
# ---------------------------------------------------------------------------
D9_TAU = 0.99
_N_PLANT_D9 = 50


def semantic_dedup_dropped(e: DataFrame, tau: float = D9_TAU, nlist: int = 16) -> DataFrame:
    """vec_ids removed by within-cell semantic dedup (keep-smallest-id).

    The per-cell work is dense linear algebra — per the repo's Python
    boundary policy it runs as ONE Arrow kernel per cell (applyInPandas:
    normalize, one n_c×n_c matmul, keep-smallest-id mask) instead of a
    self-join materializing n_c² pair ROWS through the JVM (measured 4 s
    → 0.2 s at sf0.1 for the same output). The groupBy("cell") shuffle
    moves each vector exactly once; kernel memory is n_c² doubles —
    bounded by the cell-size knob (nlist ∝ corpus keeps n_c ~10³ even at
    100 TB, i.e. ~MB-scale matrices per task)."""
    import pandas as pd

    np = _np()
    e = track(e.persist())  # kmeans seed + iteration + assignment all re-read it
    cent = kmeans_centroids(e, nlist=nlist, iters=1)
    if cent.shape[0] == 0:
        return e.sparkSession.createDataFrame([], "vec_id long")
    indexed = assign_cells(e, cent).select("vec_id", "v", "cell")

    def drop_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        m = _normalize_rows(np.stack(pdf["v"].to_numpy()).astype(np.float64))
        sims = m @ m.T
        # dropped[j] ⟺ ∃ i<j (smaller vec_id, same cell) with cos ≥ τ
        dropped = (np.tril(sims >= tau, k=-1)).any(axis=1)
        return pdf.loc[dropped, ["vec_id"]]

    return indexed.groupBy("cell").applyInPandas(drop_kernel, "vec_id long")


@register(
    "d9_semantic_dedup",
    # planted_removed (exact copies) is structural — always TRUE. The
    # near_dup_recall_ok column hashes the APPROXIMATE guarantee: ≥ 80%
    # of planted perturbed near-copies (cosine ≈ 0.9997 ≥ τ with their
    # originals) must also be removed — the cell-straddle miss rate IS
    # the SemDeDup trade this operator documents, and the driver now pins
    # it (the property test that motivated this bound lives in
    # tests/test_similarity.py::test_d9_near_duplicate_recall_vs_exact).
    oracle=f"""
SELECT vec_id AS orig_id, TRUE AS planted_removed,
       TRUE AS near_dup_recall_ok
FROM embeddings WHERE vec_id < {_N_PLANT_D9}
ORDER BY orig_id
""",
    doc="D9: SemDeDup via IVF cells — exact-removal + near-dup-recall certificate",
)
def d9_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_embeddings(spark, sf_dir, "vec_id")
    # plant/perturbed/expected all come from the memoized driver-local
    # plant rows (one collect per session, shared with s2/s3)
    planted = planted_exact_copies(spark, sf_dir, _N_PLANT_D9)
    pert = perturbed_plants(spark, sf_dir, _N_PLANT_D9)
    dropped = semantic_dedup_dropped(
        e.unionByName(planted).unionByName(pert)
    )
    expected = plant_queries(spark, sf_dir, _N_PLANT_D9).select(
        F.col("query_id").alias("orig_id")
    )
    # every plant's id is its original's plus a multiple of _PLANT_OFFSET,
    # so the modulus recovers the original; a dropped CORPUS id keeps its
    # own id and can only add FALSE flags to its group
    found = dropped.select(
        (F.col("vec_id") % _PLANT_OFFSET).alias("orig_id"), "vec_id"
    )
    return certify_planted(
        found,
        expected,
        key="orig_id",
        hit="planted_removed",
        recall="near_dup_recall_ok",
    )


# ---------------------------------------------------------------------------
# S5 — scalar-quantization calibration + error audit: the embedding
# STORAGE-compression step. At 100 TB an fp32/fp64 embedding column is
# the dominant byte cost; per-dimension 8-bit scalar quantization (the
# faiss SQ8 layout) cuts it 4-8× and is what the IVF/LSH indexes (s2/s3)
# would store per cell. This query computes the per-dimension calibration
# (min/max over the corpus) and the EXACT worst-case reconstruction error
# per dimension — which must sit within half a quantization step, the
# defining guarantee of uniform SQ.
#
# Everything is elementwise double arithmetic + order-independent min/max,
# so the whole audit is SQL-expressible and carries a full-value oracle
# (no certificate indirection needed). Rounding to the code grid uses
# floor(v + 0.5) on BOTH sides — the same cross-engine-stable formula as
# functions/rounding.py (bare round() differs between engines on .5).
#
# Plan: posexplode → (vec_id, pos, x) rows, one 64-group map-side-combined
# min/max aggregate, calibration joined back with an explicit broadcast —
# sanctioned: |dims| is fixed-cardinality, independent of corpus size —
# then a second 64-group max. No shuffle ever carries vectors.
# ---------------------------------------------------------------------------
_SQ_LEVELS = 255


@register(
    "s5_scalar_quantization",
    oracle=f"""
WITH x AS (
  SELECT vec_id,
         CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
cal AS (
  SELECT pos, min(x) AS dmin, max(x) AS dmax FROM x GROUP BY pos
),
q AS (
  SELECT x.pos, x.x, cal.dmin, cal.dmax,
         (cal.dmax - cal.dmin) / {_SQ_LEVELS} AS step,
         CASE WHEN cal.dmax = cal.dmin THEN 0.0
              ELSE floor((x.x - cal.dmin) / ((cal.dmax - cal.dmin) / {_SQ_LEVELS}) + 0.5)
         END AS code
  FROM x JOIN cal USING (pos)
)
SELECT pos,
       round(dmin, {_R}) AS dmin,
       round(dmax, {_R}) AS dmax,
       round(max(abs(x - (dmin + code * step))), 9) AS max_abs_err,
       bool_and(abs(x - (dmin + code * step)) <= step * 0.5000001) AS within_half_step
FROM q
GROUP BY pos, dmin, dmax
""",
    doc="S5: per-dim SQ8 calibration + exact worst-case reconstruction error",
)
def s5_scalar_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    x = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.posexplode(V.to_double("embedding")).alias("pos", "x"))
    )
    x = track(x.persist())  # calibration + audit branches share the scan
    cal = x.groupBy("pos").agg(F.min("x").alias("dmin"), F.max("x").alias("dmax"))
    step = (F.col("dmax") - F.col("dmin")) / _SQ_LEVELS
    code = F.when(F.col("dmax") == F.col("dmin"), F.lit(0.0)).otherwise(
        F.floor((F.col("x") - F.col("dmin")) / step + 0.5)
    )
    q = (
        x.join(F.broadcast(cal), "pos")  # |dims| rows — fixed cardinality
        .withColumn("step", step)
        .withColumn("code", code)
    )
    err = F.abs(F.col("x") - (F.col("dmin") + F.col("code") * F.col("step")))
    return q.groupBy("pos", "dmin", "dmax").agg(
        fround(F.max(err), 9).alias("max_abs_err"),
        F.bool_and(err <= F.col("step") * 0.5000001).alias("within_half_step"),
    ).select(
        "pos",
        fround("dmin", _R).alias("dmin"),
        fround("dmax", _R).alias("dmax"),
        "max_abs_err",
        "within_half_step",
    )


# ---------------------------------------------------------------------------
# S6 — quantized ANN: the s2 IVF coarse index searched over s5's SQ8
# CODES instead of raw vectors — the composed production stack (faiss
# IVF-SQ8): the corpus is stored as cell-partitioned int8 codes (4-8×
# smaller scans), probes rerank against DEQUANTIZED vectors. Quantization
# perturbs every cosine by ≤ the per-dim half-step, so exact-duplicate
# retrieval must survive it — which is precisely what the planted
# certificate asserts: an exact copy quantizes to the identical codes,
# lands in the identical argmax cell, and reranks at (quantized) cosine
# ~1.0, deterministically ahead of unrelated vectors.
#
# Plan shape = s2's with one extra map-side stage: codes are computed
# from the broadcast per-dim calibration (fixed |dims|-row table), and
# dequantization happens inside the candidate scan — nothing new
# shuffles. At 100 TB the stored table is (vec_id, cell, codes int8[]).
# ---------------------------------------------------------------------------
def quantize_vectors(e: DataFrame) -> DataFrame:
    """(vec_id, v, …) → (vec_id, …, dv): per-dim SQ8 round-trip
    (quantize to the 0..255 grid, dequantize back) against corpus min/max
    calibration. ``dv`` is what an IVF-SQ8 index actually scores.

    The calibration DELIBERATELY stays posexplode + 64-group hash
    aggregate: one wide ungrouped aggregate of 2·dim min/max expressions
    was measured SLOWER warm (0.69-0.95 s → 1.14-1.24 s at sf0.1) — 128
    agg expressions with per-element null checks lose to the exploded
    hash aggregate's tight loop."""
    cal = (
        e.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("dmin"), F.max("x").alias("dmax"))
        .orderBy("pos")
    )
    rows = cal.collect()  # |dims| rows — bounded
    dmin = [r.dmin for r in rows]
    dstep = [
        (r.dmax - r.dmin) / _SQ_LEVELS if r.dmax != r.dmin else 0.0
        for r in rows
    ]
    mins = F.array(*[F.lit(m) for m in dmin])
    steps = F.array(*[F.lit(s) for s in dstep])
    # codes = floor((x-min)/step + .5); dequant = min + code*step — same
    # floor-based grid as s5 (cross-engine-stable, certificate-exact)
    dv = F.zip_with(
        F.zip_with(F.col("v"), mins, lambda x, m: x - m),
        steps,
        lambda xm, s: F.when(s == 0.0, xm * 0.0).otherwise(
            F.floor(xm / s + 0.5) * s
        ),
    )
    return e.withColumn(
        "dv", F.zip_with(dv, mins, lambda q, m: q + m)
    )


@register(
    "s6_knn_ivf_sq8",
    oracle=_ANN_CERT_ORACLE,
    doc="S6: IVF-SQ8 ANN — planted-duplicate certificate over the quantized stack",
)
def s6_knn_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, _ = _corpus_queries_planted(spark, sf_dir)
    quant = quantize_vectors(corpus).select(
        "vec_id", F.col("dv").alias("v")
    )
    # the QUERY vectors go through the same quantization (they are corpus
    # rows of the quantized table, so query qv == planted dv bit-for-bit):
    # probe cells ranked from the raw vector could, near a Voronoi
    # boundary, exclude the cell the quantized copy was assigned to —
    # with identical vectors the copy's argmax cell IS the top-1 probe,
    # restoring the structural s2-style guarantee
    q = query_set(quant)
    return certify_planted(ivf_topk(quant, q), q)


# ---------------------------------------------------------------------------
# S7 — filtered ANN: top-k restricted to rows matching a metadata
# predicate (here: label == the query's own label) — the
# vector+predicate search every production retrieval system needs
# (tenant isolation, language-restricted retrieval, source filters).
# The predicate applies BETWEEN the cell scan and the rerank
# (ivf_probe_search(match_label=True)): post-rerank filtering is wrong
# (returns < k survivors), and pre-index per-predicate partitions don't
# compose across predicates. At 100 TB the corpus is partitioned by
# `cell` and the label predicate pushes into the probed-cell parquet
# scan — the filter costs candidate-set work, never a corpus pass.
#
# Certificate: the planted exact copy carries the query's OWN label, so
# it must still be retrieved (planted_dup_found); and every returned
# row must satisfy the predicate (results_respect_filter — joins the
# top-k back to the corpus labels, so a pipeline that drops the filter
# flips it FALSE on any query whose probed cells are label-mixed).
# ---------------------------------------------------------------------------
@register(
    "s7_knn_filtered",
    oracle=f"""
SELECT vec_id AS query_id, TRUE AS planted_dup_found,
       TRUE AS results_respect_filter
FROM embeddings WHERE vec_id < {N_QUERIES}
ORDER BY query_id
""",
    doc="S7: filtered ANN — label predicate rides the probed-cell scan; planted-copy + filter-respect certificate",
)
def s7_knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the plant rows carry their label, so the planted copies and the
    # query set both take it from the one memoized collect
    plant = _plant_rows(spark, sf_dir, N_QUERIES)
    planted = spark.createDataFrame(
        [(vid + _PLANT_OFFSET, lab, v) for vid, v, lab in plant],
        "vec_id long, label int, v array<double>",
    )
    q = spark.createDataFrame(
        [(vid, v, lab) for vid, v, lab in plant],
        "query_id long, qv array<double>, qlabel long",
    )
    e = load_embeddings(spark, sf_dir, "vec_id", "label")
    corpus = track(e.unionByName(planted).persist())
    cent = kmeans_centroids(corpus)
    topk = ivf_probe_search(assign_cells(corpus, cent), cent, q, match_label=True)
    # filter-respect: every top-k row's corpus label must equal qlabel
    labeled = topk.join(
        corpus.select("vec_id", "label"), "vec_id"
    ).join(q.select("query_id", "qlabel"), "query_id")
    return certify_planted(
        labeled,
        q,
        results_respect_filter=F.min(F.col("label") == F.col("qlabel")),
    )


# ---------------------------------------------------------------------------
# S8 — incremental IVF delta-add: the ANN counterpart of d10's delta
# dedup, and the shape a daily embedding ingest actually runs. The base
# corpus's centroids are trained ONCE ("yesterday's index"); the new
# batch is assigned to cells with those same centroids — one map-only
# Arrow pass over the delta, zero retraining, zero base-corpus work —
# and search probes the unioned index. At 100 TB this is the difference
# between an O(|delta|) nightly job and an O(corpus) rebuild; the known
# cost is drift (cells go stale as the distribution moves), repaired by
# periodic retrains exactly like compaction repairs a17's state growth.
#
# Certificate: the planted exact copies live ONLY in the delta batch, so
# retrieving them (planted_dup_found) proves delta rows entered the
# probed index through the no-retrain path — a pipeline that forgets to
# union the delta, or assigns it against different centroids than the
# probe ranking uses, strands the plants in unprobed cells and flips
# the boolean.
# ---------------------------------------------------------------------------
_S8_N_DELTA = 100  # "today's ingest": the first 100 vec_ids + the plants


@register(
    "s8_knn_ivf_delta_add",
    oracle=_ANN_CERT_ORACLE,
    doc="S8: incremental IVF delta-add — new batch indexed map-only with yesterday's centroids; planted-copy certificate",
)
def s8_knn_ivf_delta_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_embeddings(spark, sf_dir, "vec_id", "label")
    base = track(e.filter(F.col("vec_id") >= _S8_N_DELTA).persist())
    delta = e.filter(F.col("vec_id") < _S8_N_DELTA).unionByName(
        planted_exact_copies(spark, sf_dir, N_QUERIES),
        allowMissingColumns=True,
    )
    cent = kmeans_centroids(base)  # yesterday's index — never retrained
    indexed = assign_cells(base, cent).unionByName(
        assign_cells(delta, cent)  # map-only delta add
    )
    q = plant_queries(spark, sf_dir, N_QUERIES)
    return certify_planted(ivf_probe_search(indexed, cent, q), q)


# ---------------------------------------------------------------------------
# S9 — IVF index persist + reload: the index LIFECYCLE the docstrings
# above keep promising ("at 100 TB the corpus is stored partitioned by
# cell id") actually exercised end to end. The trained index is two
# tables: the centroid matrix (nlist·dim rows — tiny) and the cell
# assignments, written `partitionBy("cell")` — the physical layout that
# turns a probe into a partition-pruned scan of nprobe/nlist of the
# corpus. A fresh lineage then RELOADS both from parquet and serves the
# same search; nothing from the build side (no memo, no cached frame,
# no driver numpy) may leak into the serving side.
#
# Certificate: planted_dup_found from the RELOADED search, plus
# index_roundtrip_exact — the reloaded index must CONTAIN exactly what
# was built: same centroid matrix (driver-side array equality; doubles
# round-trip parquet bit-exactly) and same assignment rows (count +
# order-independent XOR of xxhash64(vec_id, cell, vector) computed on
# both sides — one map-side aggregate each, no second search). Search
# equality follows: ivf_probe_search is a deterministic function of
# (index, centroids, queries), so equal inputs give the identical
# top-k — proven once by the planted certificate on the reloaded side.
# (An earlier form ran the search twice and set-compared the top-k;
# same guarantee, but the second search doubled the query's wall.)
# ---------------------------------------------------------------------------
def _index_fingerprint(df: DataFrame) -> tuple:
    """(row count, order-independent XOR of per-row hashes) of an index
    table — content equality of two index tables for one map-side
    aggregate each (s9's reload, s11's compaction). XOR, not sum:
    overflow-free under ANSI mode, order-independent by construction;
    the vector participates via its string form, deterministic within
    Spark on both sides. cell is cast long BEFORE hashing because
    xxhash64 is input-type-sensitive: a reload that round-trips the
    partition column as INT would otherwise false-alarm on identical row
    contents."""
    return tuple(
        df.agg(
            F.count("*").alias("n"),
            F.expr(
                "bit_xor(xxhash64(vec_id, cast(cell AS long),"
                " cast(v AS string)))"
            ).alias("h"),
        ).collect()[0]
    )


@register(
    "s9_knn_index_reload",
    oracle=f"""
SELECT vec_id AS query_id, TRUE AS planted_dup_found,
       TRUE AS index_roundtrip_exact
FROM embeddings WHERE vec_id < {N_QUERIES}
ORDER BY query_id
""",
    doc="S9: IVF index persisted partitionBy(cell) + centroid table, reloaded in a fresh lineage — search identical",
)
def s9_knn_index_reload(spark: SparkSession, sf_dir: str) -> DataFrame:
    np = _np()
    corpus, q = _corpus_queries_planted(spark, sf_dir)
    corpus = track(corpus.persist())
    cent = kmeans_centroids(corpus)
    # persisted: consumed by the partitioned write AND the build-side
    # fingerprint — one Arrow assignment pass, not two
    indexed = track(assign_cells(corpus, cent).persist())
    with scratch_dir("iotx_s9_") as tmp:
        assign_path = os.path.join(tmp, "assignments")
        cent_path = os.path.join(tmp, "centroids")
        # cluster by cell BEFORE the partitioned write: without it every
        # upstream task contributes a sliver file to every cell directory
        # (tasks × cells tiny files — measured 2.5× the whole query's
        # wall); with it each cell directory is written by the task that
        # owns the cell. This shuffle IS the one-time index-build cost
        # the layout story assumes.
        indexed.repartition("cell").write.partitionBy("cell").parquet(
            assign_path
        )
        spark.createDataFrame(
            [(i, [float(x) for x in row]) for i, row in enumerate(cent)],
            "cell long, centroid array<double>",
        ).write.parquet(cent_path)

        # ---- serving side: everything below reads only the two tables ----
        # both reloads are SCHEMA-PINNED (the a17c/st1 pattern): an
        # all-empty corpus writes zero data files, and schema inference
        # over an empty directory raises UNABLE_TO_INFER_SCHEMA — the
        # serving side must come up (empty) regardless. The centroid pin
        # is the literal write schema; the assignments pin is captured
        # from the pre-write frame so it tracks the source's actual
        # physical types (an empty-corpus audit finding).
        cent_rows = (
            spark.read.schema("cell long, centroid array<double>")
            .parquet(cent_path)
            .orderBy("cell")
            .collect()
        )  # nlist rows — bounded
        cent2 = np.asarray([r.centroid for r in cent_rows], dtype=np.float64)
        indexed2 = spark.read.schema(indexed.schema).parquet(assign_path)

        matches = (
            _index_fingerprint(indexed) == _index_fingerprint(indexed2)
            and cent.shape == cent2.shape
            and bool(np.array_equal(cent, cent2))
        )
        topk_reload = ivf_probe_search(indexed2, cent2, q)
        out = certify_planted(topk_reload, q).withColumn(
            "index_roundtrip_exact", F.lit(matches)
        )
        # nq rows — the plan reads the reloaded parquet lazily
        return collect_local(out)


# ---------------------------------------------------------------------------
# S10 — PRODUCT QUANTIZATION ANN (ADC): the third leg of the
# quantization family — s5 proves scalar (SQ8) calibration, s6 composes
# IVF over SQ8 codes, s10 adds the PQ codebook form that production
# vector stores (faiss IVF-PQ) actually ship at billion-vector scale:
# each vector is m=8 one-byte codes (32× smaller than the raw float64
# row), and search scores candidates WITHOUT reconstructing them, by
# per-query lookup tables (asymmetric distance computation).
#
# Scale shape: codebooks train driver-side on a BOUNDED deterministic
# sample (vec_id < 2048 — a pushed-down scan predicate; rows are sorted
# by vec_id after collect so Lloyd's is order-deterministic). Encoding
# is one map-only Arrow kernel pass (argmin against the broadcast
# (m, ks, sub) codebooks). Search broadcasts per-query (m × ks) LUTs —
# k·m doubles per query — and each Arrow batch scores n·m table lookups
# with zero shuffle; only the top-k window shuffles (query_id, vec_id,
# adc) rows. At 100 TB the corpus pass reads CODES (8 B/vector), not
# vectors — the entire point of PQ.
#
# Certificate: a planted exact copy normalizes identically to its
# query, therefore quantizes to the IDENTICAL codes, and its ADC
# distance equals the query's own quantization error — the global
# minimum over the corpus (any other vector's per-subspace codeword is
# at-best-equal by argmin construction). Exact-code ties share that
# minimum, so the top-k window breaks ADC ties by vec_id DESCENDING —
# the plant holds the largest id, so it ranks FIRST among its ties and
# rank-1 retrieval is STRUCTURAL with no corpus-shape caveat. A wrong
# codebook broadcast, encode/LUT disagreement, or subspace
# misalignment breaks the guarantee and flips the hashed boolean.
# ---------------------------------------------------------------------------
_PQ_M = 8        # subspaces (64-dim embeddings → 8 dims each)
_PQ_KS = 16      # codewords per subspace (4-bit codes here)
_PQ_TRAIN = 2048  # deterministic training sample: vec_id < _PQ_TRAIN
_PQ_ITERS = 5    # Lloyd's iterations per subspace (driver-side numpy)


def pq_train_codebooks(e: DataFrame, m: int = _PQ_M, ks: int = _PQ_KS):
    """(m, ks, dim/m) codebooks from a bounded, order-deterministic
    sample. Returns None on an empty corpus."""
    np = _np()
    rows = (
        e.filter(F.col("vec_id") < _PQ_TRAIN)  # pushed to the scan
        .select("vec_id", "v")
        .collect()
    )
    if not rows:
        return None
    rows.sort(key=lambda r: r.vec_id)  # fix float-sum order
    X = _normalize_rows(
        np.stack([np.asarray(r.v) for r in rows]).astype(np.float64)
    )
    n, dim = X.shape
    sub = dim // m
    # effective k = min(ks, n): with a training sample smaller than ks,
    # the books are SLICED to the k trained codewords rather than padded
    # with zero vectors — an untrained zero codeword can win argmin for
    # real vectors near the origin, silently degrading quantization;
    # every consumer reads ks from books.shape, so encode
    # and the ADC LUTs stay aligned automatically
    k = min(ks, n)
    books = np.zeros((m, k, sub))
    for s in range(m):
        Xs = X[:, s * sub : (s + 1) * sub]
        cb = Xs[:k].copy()  # deterministic seed: first k sample rows
        for _ in range(_PQ_ITERS):
            d2 = ((Xs[:, None, :] - cb[None, :, :]) ** 2).sum(-1)
            a = np.argmin(d2, axis=1)  # ties → lowest codeword id
            for j in range(k):
                mask = a == j
                if mask.any():
                    cb[j] = Xs[mask].mean(0)
        books[s] = cb
    return books


def pq_encode(e: DataFrame, books) -> DataFrame:
    """(vec_id, codes array<int>) — one map-only Arrow kernel pass."""
    import pandas as pd

    np = _np()
    bc = e.sparkSession.sparkContext.broadcast(books)

    def kernel(batches):
        B = bc.value
        m, ks, sub = B.shape
        sq = (B**2).sum(-1)  # (m, ks) codeword norms, hoisted
        for pdf in batches:
            if not len(pdf):
                continue
            Mx = _normalize_rows(
                np.stack(pdf["v"].to_numpy()).astype(np.float64)
            )
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for s in range(m):
                Xs = Mx[:, s * sub : (s + 1) * sub]
                d2 = sq[s][None, :] - 2.0 * (Xs @ B[s].T)
                codes[:, s] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "codes": [row.tolist() for row in codes],
                }
            )

    return e.select("vec_id", "v").mapInPandas(
        kernel, schema="vec_id long, codes array<int>"
    )


def pq_adc_topk(codes_df: DataFrame, books, queries: DataFrame, k: int = K) -> DataFrame:
    """ADC search over an encoded corpus: per-query (m × ks) distance
    LUTs broadcast; each Arrow batch scores by table lookup only."""
    import pandas as pd

    np = _np()
    spark = codes_df.sparkSession
    qrows = queries.collect()
    if not qrows or books is None:
        return spark.createDataFrame(
            [], "query_id long, vec_id long, adc double, rank int"
        )
    m, ks, sub = books.shape
    qids = [int(r.query_id) for r in qrows]
    Q = _normalize_rows(np.asarray([r.qv for r in qrows], dtype=np.float64))
    luts = np.empty((len(qids), m, ks))
    for s in range(m):
        Qs = Q[:, s * sub : (s + 1) * sub]
        luts[:, s, :] = ((Qs[:, None, :] - books[s][None, :, :]) ** 2).sum(-1)
    bc = spark.sparkContext.broadcast((qids, luts))

    def kernel(batches):
        ids, L = bc.value
        nq, mm, _ = L.shape
        cols = np.arange(mm)[None, :]
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["codes"].to_numpy())  # (n, m)
            vecs = pdf["vec_id"].to_numpy()
            scores = np.empty((nq, len(pdf)))
            for qi in range(nq):
                scores[qi] = L[qi][cols, C].sum(1)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(ids, len(pdf)),
                    "vec_id": np.tile(vecs, nq),
                    "adc": scores.reshape(-1),
                }
            )

    scored = codes_df.mapInPandas(
        kernel, schema="query_id long, vec_id long, adc double"
    )
    # ties broken by vec_id DESCENDING, deliberately: exact-code ties
    # all sit at the minimum ADC distance, and the planted certificate
    # copy carries the LARGEST vec_id (query_id + plant offset) — an
    # ascending tie-break would let >= k same-code corpus vectors evict
    # the plant and fail the certificate on a correct implementation.
    # Descending ranks the plant first among its ties; ordering is still
    # total and deterministic.
    return _topk(
        scored.filter(F.col("vec_id") != F.col("query_id")).select(
            "query_id", "vec_id", fround("adc", 9).alias("adc")
        ),
        k,
        order=(F.col("adc").asc(), F.col("vec_id").desc()),
    )


@register(
    "s10_knn_pq",
    oracle=_ANN_CERT_ORACLE,
    doc=(
        "S10: product-quantization ANN (ADC over m=8/ks=16 codebooks) — "
        "structural planted-copy certificate (identical codes → minimum "
        "ADC distance)"
    ),
)
def s10_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, q = _corpus_queries_planted(spark, sf_dir)
    corpus = track(corpus.persist())  # train sample + encode share the scan
    # an empty corpus trains no books (None) and plants no queries;
    # pq_adc_topk then returns the empty top-k and the certificate is
    # empty with its stable schema
    books = pq_train_codebooks(corpus)
    return certify_planted(pq_adc_topk(pq_encode(corpus, books), books, q), q)


# ---------------------------------------------------------------------------
# S11 — tombstone deletes + compaction transparency: the third piece of
# the index lifecycle (s8 adds, s9 persist/serve, s11 deletes). Vector
# stores never rewrite index files per delete: deletes append to a
# TOMBSTONE set and search excludes it at read time (merge-on-read);
# periodic compaction physically drops tombstoned rows — the exact
# contract a17c certifies for rollup state, applied to the ANN index.
# The tombstone set is bounded by deletes-since-last-compaction, so the
# exclusion is a broadcast anti-join riding the probed-cell scan, never
# a corpus pass.
#
# Certificate, two halves:
# - deletion semantics: every query gets TWO planted exact copies — the
#   kept twin (_PLANT_OFFSET) and a DOOMED twin (_S11_TOMB_OFFSET)
#   tombstoned after the index is built. Both tie at cosine 1.0, so a
#   pipeline that loses the exclusion MUST surface the doomed twin in
#   the top-k (deleted_absent flips FALSE; non-vacuity proven by
#   running the unfiltered pipeline in tests/test_similarity.py), and
#   the kept twin must still be retrieved (planted_dup_found).
# - compaction: the live view is materialized into a fresh lineage
#   (localCheckpoint — a physical rewrite) and certified content-equal
#   by s9's count + order-independent XOR-of-xxhash64 fingerprint,
#   computed independently on the anti-join PLAN and on the compacted
#   COPY (compaction_preserves_index). Search equality follows without
#   a second search: ivf_probe_search is a deterministic function of
#   (index rows, centroids, queries) — s9's argument — so the ONE
#   search here runs against the compacted index and certifies the
#   post-compaction serving path directly.
# ---------------------------------------------------------------------------
_S11_TOMB_OFFSET = 3 * _PLANT_OFFSET  # doomed twins, disjoint from all plants


@register(
    "s11_knn_tombstone_delete",
    oracle=f"""
SELECT vec_id AS query_id, TRUE AS planted_dup_found,
       TRUE AS deleted_absent, TRUE AS compaction_preserves_index
FROM embeddings WHERE vec_id < {N_QUERIES}
ORDER BY query_id
""",
    doc=(
        "S11: ANN tombstone deletes — doomed-twin exclusion + "
        "compacted-index content-fingerprint certificate"
    ),
)
def s11_knn_tombstone_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_embeddings(spark, sf_dir, "vec_id")
    kept = planted_exact_copies(spark, sf_dir, N_QUERIES)
    doomed = planted_exact_copies(
        spark, sf_dir, N_QUERIES, offset=_S11_TOMB_OFFSET
    )
    corpus = track(
        e.unionByName(kept).unionByName(doomed).persist()
    )
    # index built BEFORE the deletes arrive (the realistic order): the
    # doomed twins participate in training and hold cell assignments
    cent = kmeans_centroids(corpus)
    indexed = track(assign_cells(corpus, cent).persist())
    tombs = doomed.select("vec_id")
    # merge-on-read view: index files untouched, tombstones excluded at
    # scan time by a broadcast anti-join
    live = indexed.join(F.broadcast(tombs), "vec_id", "left_anti")
    # compaction: PHYSICAL rewrite of the live view into a fresh lineage
    compacted = live.localCheckpoint(eager=True)
    preserved = _index_fingerprint(live) == _index_fingerprint(compacted)
    q = plant_queries(spark, sf_dir, N_QUERIES)
    # the ONE search runs against the COMPACTED index — the serving path
    # after compaction; merge-on-read equality follows from content
    # equality + search determinism (module comment)
    topk = ivf_probe_search(compacted, cent, q)
    # every tombstoned id sits at or above _S11_TOMB_OFFSET
    return certify_planted(
        topk, q, deleted_absent=F.min(F.col("vec_id") < _S11_TOMB_OFFSET)
    ).withColumn("compaction_preserves_index", F.lit(preserved))


# ---------------------------------------------------------------------------
# S12 — MAXIMUM-INNER-PRODUCT SEARCH (MIPS): the recommender-serving
# workload (user embedding × item catalog, score = ⟨q, x⟩ — NOT cosine:
# item popularity lives in the vector NORM, which cosine normalizes
# away). The registered query is the exact brute-force IP top-k — the
# ordering every approximate MIPS index is measured against — computed
# with the same broadcast-query / fold-dot / rank-window machinery as
# s1, scores folded left-to-right in double on both engines (V.dot ≡
# list_sum) and rounded via the shared floor formula before ranking.
#
# The 100 TB path is the ORDER-PRESERVING REDUCTION to cosine (Bachrach
# et al., RecSys'14): append one coordinate, x' = [x, sqrt(M² − ‖x‖²)]
# with M = max corpus norm and q' = [q, 0]; then every x' has norm
# exactly M, so cos(q', x') = ⟨q, x⟩ / (‖q‖·M) — a per-query MONOTONE
# transform of the inner product. Top-k by augmented cosine IS top-k by
# IP, which means THE ENTIRE EXISTING ANN STACK (s2 IVF, s5/s6 SQ8, s10
# PQ, s7 filtered, s8 delta-add, s9 persist, s11 deletes) serves MIPS
# unchanged after a one-pass map-only augmentation (one MAX aggregate
# for M, then x → x' per row, no shuffle). The equivalence is
# property-tested on seeded random vectors (test_similarity); it is
# deliberately NOT a hash-compared column — near-tied products can
# collapse under the monotone division at different ulps per engine,
# the exact float-boundary class the engine keeps off the gate surface.
#
# Ref parity anchor: the reference ranks entities by a computed score
# with a deterministic tie-break (vehicle top-k,
# src/api/sensor_api.py:323-335); s12 is the
# same TakeOrdered shape where the score is a vector inner product.
# ---------------------------------------------------------------------------
@register(
    "s12_mips_topk",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id,
         round({V.sql_dot("q.qv", "e.v")}, {_R}) AS ip
  FROM q JOIN e ON e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, ip,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY ip DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, ip, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {K}
""",
    doc=(
        "S12: exact maximum-inner-product top-10 for 5 query vectors — "
        "the recommender-serving ordering; the order-preserving "
        "augmentation reduction to cosine is the documented ANN path"
    ),
)
def s12_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_embeddings(spark, sf_dir, "vec_id", "label", repartition=True)
    return _topk(_score_pairs(e.crossJoin(F.broadcast(query_set(e))), "ip", V.dot))


def mips_augment(e: DataFrame) -> DataFrame:
    """The order-preserving MIPS→cosine reduction: one MAX aggregate for
    M = max corpus norm (1-row broadcast), then a map-only append of the
    sqrt(M² − ‖x‖²) coordinate. Every augmented vector has norm exactly
    M, so cosine against an augmented query [q, 0] is a per-query
    monotone transform of ⟨q, x⟩ and the cosine ANN stack serves MIPS
    unchanged. greatest(…, 0) guards the max-norm row itself against a
    negative-zero sqrt under floating-point roundoff."""
    m2 = e.agg(
        F.max(V.dot(F.col("v"), F.col("v"))).alias("m2")
    )
    return (
        e.crossJoin(F.broadcast(m2))  # 1-row scalar aggregate
        .select(
            "vec_id",
            F.concat(
                "v",
                F.array(
                    F.sqrt(
                        F.greatest(
                            F.col("m2") - V.dot(F.col("v"), F.col("v")),
                            F.lit(0.0),
                        )
                    )
                ),
            ).alias("v"),
        )
    )


# ---------------------------------------------------------------------------
# S13 — RANGE SEARCH (radius query): ALL corpus vectors within cosine
# distance of each query — FAISS range_search semantics, the other half
# of the vector-serving API next to top-k (s1/s2): top-k answers "the
# 10 closest", range answers "everything closer than τ" — the primitive
# behind near-duplicate candidate pull, RAG retrieval floors, and
# fixed-radius clustering. d6 is the corpus×corpus SELF-sweep; s13 is
# the query-anchored serving form.
#
# Exactness contract: cosine is the shared V.cosine expression (s1's
# pipeline), floor-rounded 6 dp BEFORE the τ comparison on BOTH engines
# — a value landing exactly on τ passes or fails identically because
# the compared quantity is the rounded one. The result is the COMPLETE
# match set (no rank, no limit), so there is no ordering to disagree
# on: the driver's hash compare is order-insensitive.
#
# Plan shape at 100 TB: |Q|-row broadcast into a map-only scan-filter —
# embarrassingly parallel, no shuffle at all (the τ filter discards
# non-matches inside the scan stage). The IVF-bucketed scale path for
# huge query sets reuses s2's cells: route each query to its probe
# cells and range-scan only those partitions (s2's machinery verbatim,
# with the τ filter replacing the top-k).
#
# Ref parity anchor: the reference's serving layer returns the records
# passing a score-threshold predicate (anomaly listing over the
# score>0-filtered table, src/api/sensor_api.py:356-380); s13 is that
# predicate scan where the score is a vector distance.
# ---------------------------------------------------------------------------
_S13_TAU = 0.2  # cosine floor: ~25-35 matches/query at the gate SFs

# Shared by s13 (brute force) and s13b (IVF cell-pruned): the pruning
# bound is exact, so BOTH forms are value-compared against the same
# full match set — the approximate-index query with an exact answer.
_S13_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id,
         round({V.sql_cosine("q.qv", "e.v")}, {_R}) AS cosine
  FROM q JOIN e ON e.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine
FROM scored WHERE cosine >= {_S13_TAU}
"""


@register(
    "s13_range_search",
    oracle=_S13_ORACLE,
    doc=(
        "S13: cosine range search (radius query) for 5 query vectors — "
        "the complete match set above the threshold, no rank/limit"
    ),
)
def s13_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_embeddings(spark, sf_dir, "vec_id", "label", repartition=True)
    return range_search(e, query_set(e))


def range_search(
    e: DataFrame, q: DataFrame, tau: float = _S13_TAU
) -> DataFrame:
    """s13 core: all (query, corpus) pairs with rounded cosine ≥ tau —
    separated so tests can plant near-copies and replay brute force."""
    # |Q|-row broadcast, map-only scan
    return _score_pairs(e.crossJoin(F.broadcast(q))).filter(
        F.col("cosine") >= tau
    )


# ---------------------------------------------------------------------------
# S13B — IVF CELL-PRUNED RANGE SEARCH (s13's 100 TB serving path): s13's
# exact anchor scans the WHOLE corpus per radius query — correct, but at
# 100 TB the serving path must skip the cells that provably cannot
# contain a match. s13b reuses s2's IVF
# machinery (k-means cells, map-only Arrow assignment) plus one extra
# per-cell statistic: the cell's ANGULAR RADIUS r_c = max over members
# of angle(v, centroid_c). The spherical triangle inequality then gives
# an exact per-cell bound — for any member v of cell c,
#   angle(q, v) ≥ angle(q, centroid_c) − r_c
#   ⇒ cos(q, v) ≤ cos(max(0, angle(q, centroid_c) − r_c))
# — so any cell whose bound falls below τ (minus a float-slack margin
# dwarfing the fround boundary width) is skipped with ZERO recall loss.
# The pruning is exact, not heuristic: s13b registers against s13's own
# full-match-set oracle and is set-equality-tested against brute force
# (recall ≡ 1.0, trivially clearing a ≥ 0.8 recall bar).
#
# Plan shape at 100 TB: index build is s2's (one kernel pass assigning
# cell + ccos, amortized across queries; `cell` becomes the storage
# partition key); the per-cell radius is a |cells|-row aggregate with
# map-side partials; probe selection is driver-side over the collected
# query set (|Q|·nlist doubles — ANN query sets are small by
# construction, the corpus never is); the candidate scan is a broadcast
# join on cell — at real scale a partition-pruned read of only the
# surviving cells, each scanned with s13's identical filter. Tight
# corpora (near-dup shards, clustered embeddings) prune hardest; an
# isotropic-random corpus (the gate data) has wide cells and prunes
# little — the certificate there is correctness, the win is structural.
#
# Ref parity anchor: same serving-layer predicate scan as s13
# (src/api/sensor_api.py:356-380), with the index-backed access path.
# ---------------------------------------------------------------------------
# float-slack margin for the cell bound: the final filter admits rows
# down to cos ≈ τ − 5e-7 (fround's half-quantum), and the driver-side
# arccos/cos round-trip carries ~1e-12 of libm error — 1e-6 dominates
# both with an order of magnitude to spare, and over-keeping a cell
# costs only a wasted scan, never a wrong row (the exact filter runs
# inside every probed cell).
_S13B_TAU_MARGIN = 1e-6


def _range_probe_cells(cent, min_ccos, qn, tau: float):
    """Boolean (nq, ncells) keep-matrix: cell c survives for query q iff
    cos(max(0, angle(q, centroid_c) − r_c)) ≥ τ − margin, with
    r_c = arccos(min member ccos) plus an angular epsilon. Pure driver
    numpy over (|Q|, nlist) — unit-testable without a corpus."""
    np = _np()
    radius = np.arccos(np.clip(min_ccos, -1.0, 1.0)) + 1e-9
    theta = np.arccos(np.clip(qn @ cent.T, -1.0, 1.0))  # (nq, ncells)
    best = np.cos(np.maximum(theta - radius[None, :], 0.0))
    return best >= (tau - _S13B_TAU_MARGIN)


def ivf_range_search(
    e: DataFrame,
    q: DataFrame,
    tau: float = _S13_TAU,
    nlist: int = 16,
    iters: int = 1,
) -> DataFrame:
    """s13b core: the exact τ-match set through the cell-pruned access
    path — bit-identical rows to :func:`range_search` on any corpus
    (the bound proof in the header). `q` must carry (query_id, qv)."""
    np = _np()
    empty = e.sparkSession.createDataFrame(
        [], "query_id long, vec_id long, cosine double"
    )
    index = _ivf_index(e, q, nlist, iters)
    if index is None:
        return empty
    qrows, cent, indexed = index
    # two consumers (radius aggregate + candidate scan) — persist, or
    # the kernel assignment pass runs twice
    indexed = track(indexed.persist())
    min_ccos = _min_ccos_array(cell_min_ccos(indexed).collect(), cent.shape[0])
    qn = _normalize_rows(
        np.asarray([r.qv for r in qrows], dtype=np.float64)
    )
    keep = _range_probe_cells(cent, min_ccos, qn, tau)
    probe_rows = [
        (r.query_id, list(r.qv), int(c))
        for i, r in enumerate(qrows)
        for c in np.nonzero(keep[i])[0]
    ]
    if not probe_rows:
        return empty
    probes = e.sparkSession.createDataFrame(
        probe_rows, "query_id long, qv array<double>, cell long"
    )
    # partition-pruned at scale (cell is the storage partition key); the
    # IDENTICAL exact filter as s13 — pruning only ever removes whole
    # cells the bound proves empty of matches
    return _score_pairs(indexed.join(F.broadcast(probes), "cell")).filter(
        F.col("cosine") >= tau
    )


@register(
    "s13b_range_search_ivf",
    oracle=_S13_ORACLE,
    doc=(
        "S13B: s13's cosine range search through the IVF cell-pruned "
        "access path — exact pruning bound, same full match set"
    ),
)
def s13b_range_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no repartition: the Arrow kernels want task count to track input
    # splits (load_embeddings)
    e = load_embeddings(spark, sf_dir, "vec_id")
    return ivf_range_search(e, query_set(e))


# ---------------------------------------------------------------------------
# S14 — HYBRID RETRIEVAL (BM25 ∪ cosine → reciprocal-rank fusion): the
# serving op every hybrid RAG stack actually runs — a lexical candidate
# list (t18's Okapi BM25, fixed 3-term query) fused with a semantic
# candidate list (s1's exact cosine against a fixed query embedding; the
# documents and embeddings tables are id-aligned) by RRF:
# score(d) = Σ_channels 1/(K + rank_c(d)), K = 60 (the standard constant).
#
# Exactness contract: each channel ranks its own 6-dp-rounded score with
# a doc_id tiebreak (exactly t18's / s1's certified orderings);
# 1/(60 + rank) is an exact IEEE division of small integers, and the
# two-channel total is a FIXED-ORDER two-term add (lex + sem, textually,
# coalesce(–, 0.0) for single-channel docs) — bit-identical across
# engines; the fused rank breaks 6-dp ties by doc_id. RRF scores are
# strictly positive, so DuckDB's native round ≡ fround here (the
# negative-boundary divergence class cannot occur).
#
# Plan shape at 100 TB: each channel is its certified
# TakeOrderedAndProject top-C (t18: the isin filter prunes the exploded
# token stream before any shuffle, nothing vocabulary-sized moves; the
# semantic channel is a map-only broadcast scan — swap in s2's IVF
# partition-pruned probe for the sublinear serving path). Fusion joins
# two ≤C-row lists — broadcast-sized by construction — and every rank
# window runs over ≤C (channel) or ≤2C (fused) surviving rows, never
# a global sort of the corpus. The corpus is scanned exactly twice
# (once per modality), never joined against itself.
#
# Ref parity anchor: the reference's serving layer ranks filtered
# per-entity aggregates with LIMIT (src/api/sensor_api.py:197,
# :283-284, :333-334); s14 composes two such certified rankers and
# fuses their ranks.
# ---------------------------------------------------------------------------
_S14_TERMS = ["spark", "join", "stream"]  # = t18's fixed query (pinned by test)
_S14_C = 50  # per-channel candidate depth
_S14_K = 60  # RRF rank constant
_S14_TOPN = 20  # fused list depth
_S14_QVEC = 0  # query embedding: vec_id 0 (id-aligned with documents)
_S14_TERMS_SQL = ", ".join(f"'{t}'" for t in _S14_TERMS)


# Shared by s14 (exact channels) and s16 (IVF-pruned semantic channel):
# s16's pruning bound proves its fused output row-identical to s14's, so
# both register against the SAME oracle — the s13 → s13b twin discipline.
_S14_ORACLE = f"""
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
  FROM tok WHERE w IN ({_S14_TERMS_SQL}) GROUP BY doc_id, w
),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
sc AS (
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
         coalesce(sum(CASE WHEN term = '{_S14_TERMS[0]}' THEN s END), 0.0) AS s0,
         coalesce(sum(CASE WHEN term = '{_S14_TERMS[1]}' THEN s END), 0.0) AS s1,
         coalesce(sum(CASE WHEN term = '{_S14_TERMS[2]}' THEN s END), 0.0) AS s2
  FROM sc GROUP BY doc_id
),
lexr AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY round(s0 + s1 + s2, {_R}) DESC,
                                 doc_id ASC) AS INTEGER) AS lex_rank
  FROM agg
  QUALIFY lex_rank <= {_S14_C}
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qv AS (SELECT v AS qv FROM e WHERE vec_id = {_S14_QVEC}),
semsc AS (
  -- round() here is rewritten to the floor half-up formula (fround on
  -- the Spark side) by registry._rewrite_rounds at registration, so the
  -- negative-cosine half-boundary class is excluded by construction: the
  -- native DuckDB half-away-from-zero round never runs on this oracle.
  SELECT e.vec_id AS doc_id,
         round({V.sql_cosine("qv.qv", "e.v")}, {_R}) AS cosine
  FROM e CROSS JOIN qv
),
semr AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY cosine DESC, doc_id ASC)
              AS INTEGER) AS sem_rank
  FROM semsc
  QUALIFY sem_rank <= {_S14_C}
),
fused AS (
  SELECT coalesce(lexr.doc_id, semr.doc_id) AS doc_id,
         lexr.lex_rank, semr.sem_rank,
         round(coalesce(1.0 / ({_S14_K} + lexr.lex_rank), 0.0)
               + coalesce(1.0 / ({_S14_K} + semr.sem_rank), 0.0),
               {_R}) AS rrf_score
  FROM lexr FULL OUTER JOIN semr ON lexr.doc_id = semr.doc_id
)
SELECT doc_id, lex_rank, sem_rank, rrf_score,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC)
            AS INTEGER) AS fused_rank
FROM fused
QUALIFY fused_rank <= {_S14_TOPN}
"""


@register(
    "s14_hybrid_rrf",
    oracle=_S14_ORACLE,
    doc=(
        "S14: hybrid retrieval — BM25 top-50 ∪ cosine top-50 fused by "
        "reciprocal-rank fusion (K=60), fused top-20"
    ),
)
def s14_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rrf_fuse(
        _s14_lex_channel(spark, sf_dir),
        _s14_sem_channel_exact(spark, sf_dir),
    )


def _s14_query(e: DataFrame) -> DataFrame:
    """(qv): the fixed s14/s15/s16 query embedding, corpus row _S14_QVEC."""
    return e.filter(F.col("vec_id") == _S14_QVEC).select(F.col("v").alias("qv"))


def _top_c(scored: DataFrame, by: str = "cosine") -> DataFrame:
    """The top-C rows of a single-query (doc_id, ``by``) list, ``by``
    DESC with NULLs last, doc_id ASC — a distributed
    TakeOrderedAndProject, never a global sort of the corpus."""
    return scored.orderBy(
        F.col(by).desc_nulls_last(), F.col("doc_id").asc()
    ).limit(_S14_C)


def _rank_c(df: DataFrame, by: str, rank: str) -> DataFrame:
    """Adds ``rank`` (int) = row_number by ``by`` DESC, doc_id ASC — an
    unpartitioned window, run only over a ≤C (channel) or ≤2C (fused)
    row list."""
    w = Window.orderBy(F.col(by).desc_nulls_last(), F.col("doc_id").asc())
    return df.withColumn(rank, F.row_number().over(w).cast("int"))


def _sem_channel(scored: DataFrame) -> DataFrame:
    """(doc_id, sem_rank): the ranked top-C of (doc_id, cosine)
    candidates."""
    return _rank_c(_top_c(scored), "cosine", "sem_rank").drop("cosine")


def _s14_lex_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lex_rank): t18's certified BM25 pipeline, depth C; the
    rank window runs over the ≤C TakeOrderedAndProject survivors only."""
    from .dedup import _docs_par
    from .textstats import bm25_topk

    lex = bm25_topk(_docs_par(spark, sf_dir), terms=_S14_TERMS, topn=_S14_C)
    return _rank_c(lex.select("doc_id", "bm25"), "bm25", "lex_rank").drop("bm25")


def _s14_sem_channel_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sem_rank): s1's exact map-only broadcast scan, depth C —
    the registered form's semantic channel (the anchor)."""
    e = load_embeddings(spark, sf_dir, "vec_id")
    return _sem_channel(
        e.crossJoin(F.broadcast(_s14_query(e))).select(
            F.col("vec_id").alias("doc_id"), _score().alias("cosine")
        )
    )


def rrf_fuse(
    lexr: DataFrame,
    semr: DataFrame,
    topn: int = _S14_TOPN,
    k_rrf: int = _S14_K,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked candidate lists —
    (doc_id, lex_rank) ⊕ (doc_id, sem_rank) → fused top-n. The fusion
    join's inputs are channel top-C lists (broadcast-sized by
    construction); 1/(K+rank) is exact IEEE small-integer division and
    the two-term add is in FIXED textual order (lex + sem)."""
    fused = lexr.join(semr, "doc_id", "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(k_rrf) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(k_rrf) + F.col("sem_rank")), F.lit(0.0)
    )
    scored = fused.select(
        "doc_id", "lex_rank", "sem_rank", fround(rrf, _R).alias("rrf_score")
    )
    return _rank_c(scored, "rrf_score", "fused_rank").filter(
        F.col("fused_rank") <= topn
    )


# ---------------------------------------------------------------------------
# S16 — HYBRID RRF THROUGH THE EXACT-BOUND IVF ACCESS PATH. The semantic
# channel reads the corpus through IVF cell pruning, with s13b's angular
# bound making the pruned top-C PROVABLY equal to the exact channel's:
#
#   phase 1 — probe the query's nprobe closest cells; the candidate
#     C-th rounded cosine τr is a LOWER bound on the true C-th (a
#     subset's k-th best never exceeds the full set's);
#   phase 2 — keep every cell the s13b bound admits at τ = τr − 1e-6
#     (cos(max(0, θ(q, centroid) − radius)) ≥ τ − margin). Every doc
#     whose ROUNDED cosine ≥ τr has unrounded cosine ≥ τr − 5e-7 > τ,
#     so it lives in a kept cell; every true top-C doc has rounded
#     cosine ≥ τr (the phase-1 bound) — therefore the top-C over the
#     kept-cell scan, ranked by the identical (fround cosine DESC,
#     doc_id ASC) order, is row-identical to the full-scan top-C, and
#     no excluded doc can even tie at τr (its rounded value is < τr by
#     the margin arithmetic). Fewer than C phase-1 candidates → τ = −2
#     keeps every cell (degenerates to the exact scan, still correct).
#
# At 100 TB: `cell` is the storage partition key, so phase 1 reads
# nprobe/nlist of the corpus and phase 2 only the admitted cells —
# clustered real-world embeddings prune hard, the isotropic gate corpus
# prunes little (s13b's documented structural-win/correctness-certificate
# split). All driver-side state is (nlist × dim) centroids, |cells| radius
# rows, and two ≤C candidate lists — bounded by constants, never corpus
# size. Same fused output as s14 ⇒ same oracle (_S14_ORACLE).
#
# Ref parity anchor: src/api/sensor_api.py:197, :283-284, :333-334 —
# ranked filtered LIMIT serving, here through an index-backed access path.
# ---------------------------------------------------------------------------
_S16_NLIST = 16
_S16_NPROBE = 4


def _desc_nulls_last_key(val: float | None, doc_id: int) -> tuple:
    """Python sort key for Spark's ``val DESC NULLS LAST, doc_id ASC``:
    NaN above every double (Spark orders NaN greater than +Inf and equal
    to itself), NULL after everything. A bare ``-val`` key leaves NaN
    unordered, which breaks the sort's total order."""
    if val is None:
        return (2, 0.0, doc_id)
    if val != val:  # NaN
        return (0, 0.0, doc_id)
    return (1, -val, doc_id)


def _s14_sem_channel_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sem_rank): the exact top-C through the cell-pruned access
    path — row-identical to _s14_sem_channel_exact by the bound above."""
    np = _np()
    e = load_embeddings(spark, sf_dir, "vec_id")
    qv = _s14_query(e)
    index = _ivf_index(e, qv, _S16_NLIST, 1)
    if index is None:
        # empty corpus, or a missing query embedding: an empty semantic
        # channel, so the fused output degrades to lexical-only EXACTLY
        # like s14's exact channel (and the shared oracle, whose semsc
        # CTE goes empty) — raising here would diverge from the certified
        # degradation path
        return spark.createDataFrame([], "doc_id long, sem_rank int")
    qrows, cent, indexed = index
    # two consumers (radius aggregate + both phase scans)
    indexed = track(indexed.persist())
    qn = _normalize_rows(np.asarray([qrows[0].qv], dtype=np.float64))
    order = np.argsort(-(qn @ cent.T), axis=1, kind="stable")[0]
    probe1 = [int(c) for c in order[:_S16_NPROBE]]

    def _cell_scored(cells: list[int]) -> DataFrame:
        """(doc_id, cosine) over the given cells — the scored projection
        both probe phases rank."""
        return (
            indexed.filter(F.col("cell").isin(cells))
            .crossJoin(F.broadcast(qv))
            .select(F.col("vec_id").alias("doc_id"), _score().alias("cosine"))
        )

    # phase 1's scored cells persist and feed phase 2 directly, so the
    # cosine fold runs ONCE per probed cell; and the phase-1 top-C + the
    # per-cell radius aggregate — two independent subtrees both needed
    # before phase 2 — ride ONE tagged union action (two sequential
    # driver barriers → one job whose branches schedule concurrently).
    # The phase-1 exactness gate below reads the C-th cosine and relies
    # on any NULL cosine sorting after every real value (_top_c's
    # NULLS LAST).
    scored1 = track(_cell_scored(probe1).persist())
    merged_rows = (
        _top_c(scored1)
        .select(
            F.lit(0).alias("t"),
            F.col("doc_id").alias("k"),
            F.col("cosine").alias("val"),
        )
        .unionAll(
            cell_min_ccos(indexed).select(
                F.lit(1).alias("t"), F.col("cell").alias("k"),
                F.col("m").alias("val"),
            )
        )
        .collect()
    )
    # re-establish phase-1 candidate order driver-side (≤C rows): cosine
    # DESC with NULLs last, doc_id ASC — the same total order _top_c states
    cand1 = sorted(
        (r for r in merged_rows if r.t == 0),
        key=lambda r: _desc_nulls_last_key(r.val, r.k),
    )
    last = cand1[-1].val if len(cand1) == _S14_C else None
    if last is not None and last == last:  # neither NULL nor NaN
        tau = last - _S13B_TAU_MARGIN
    else:
        tau = -2.0  # keep every cell — exact by trivial inclusion
    min_ccos = _min_ccos_array(
        ((r.k, r.val) for r in merged_rows if r.t == 1), cent.shape[0]
    )
    keep = _range_probe_cells(cent, min_ccos, qn, tau)[0]
    cells = [int(c) for c in np.nonzero(keep)[0]]
    # phase 2 scans ONLY the admitted cells phase 1 did not already score;
    # the union covers probe1 ∪ kept ⊇ kept, and a top-C over ANY superset
    # of the kept-cell scan that stays inside the corpus is row-identical
    # to the exact full-scan top-C (every true top-C doc lives in a kept
    # cell — the s13b bound above — and cells partition docs, so no
    # duplicates enter)
    probe1_set = set(probe1)
    rest = [c for c in cells if c not in probe1_set]
    sem_scored = scored1.unionAll(_cell_scored(rest)) if rest else scored1
    return _sem_channel(sem_scored)


@register(
    "s16_hybrid_rrf_ivf",
    oracle=_S14_ORACLE,
    doc=(
        "S16: s14's hybrid RRF with the semantic channel through the "
        "exact-bound IVF cell-pruned access path — same fused rows"
    ),
)
def s16_hybrid_rrf_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rrf_fuse(
        _s14_lex_channel(spark, sf_dir),
        _s14_sem_channel_ivf_exact(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# S15 — MMR DIVERSIFIED RERANK: Maximal Marginal Relevance over the
# bounded candidate list the retrieval stack already serves —
# score(d) = λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s), greedily for
# k picks. The rerank
# every retrieval stack applies when near-duplicate hits crowd out
# coverage (Carbonell & Goldstein 1998).
#
# Distribution contract: relevance top-C and the C×C candidate
# similarity matrix are computed DISTRIBUTED (the corpus is scanned
# once for the top-C TakeOrderedAndProject, candidates self-join at C²
# = 2,500 rows); only the ≤C²-row ROUNDED similarity table and the ≤C
# candidate list are collected for the greedy loop — bounded by the
# constant C, never by the corpus (the same bounded-collect contract as
# ivf_topk's probe selection).
#
# Exactness contract: every similarity is fround-6dp'd IN SPARK before
# the greedy loop, so python and DuckDB iterate over bit-identical
# doubles; λ and (1−λ) are the separate literals 0.7 and 0.3 on both
# engines (1−0.7 in double is 0.30000000000000004 — never computed);
# the per-step argmax compares the same unrounded double expression
# with a doc_id tiebreak; scores can be negative (rel ∈ [−1,1]), so the
# output rounds through the oracle's round(), which registration rewrites
# into fround's floor formula, never DuckDB's half-away-from-zero round
# (the t17b discipline). The oracle unrolls the k greedy steps as
# generated CTEs — no recursion, no engine iteration semantics to match.
# ---------------------------------------------------------------------------
_S15_K = 10      # picks
_S15_LAM = 0.7   # relevance weight (λ); diversity weight is the
_S15_OML = 0.3   # SEPARATE literal 0.3, never 1−λ (double 1−0.7 ≠ 0.3)


def _s15_oracle() -> str:
    cand_cos = f"round({V.sql_cosine('qv.qv', 'e.v')}, {_R})"
    pair_cos = f"round({V.sql_cosine('a.v', 'b.v')}, {_R})"
    steps = []
    finals = []
    for i in range(1, _S15_K + 1):
        if i == 1:
            steps.append(
                f"s1 AS MATERIALIZED (SELECT doc_id, rel, v, ({_S15_LAM} * rel - "
                f"{_S15_OML} * 0.0) AS score FROM cand "
                f"ORDER BY score DESC, doc_id LIMIT 1)"
            )
        else:
            prev = " UNION ALL ".join(
                f"SELECT doc_id FROM s{j}" for j in range(1, i)
            )
            steps.append(
                f"s{i} AS MATERIALIZED (SELECT c.doc_id, c.rel, c.v, ({_S15_LAM} * c.rel"
                f" - {_S15_OML} * (SELECT max(sim) FROM sims WHERE"
                f" da = c.doc_id AND db IN ({prev}))) AS score"
                f" FROM cand c WHERE c.doc_id NOT IN ({prev})"
                f" ORDER BY score DESC, doc_id LIMIT 1)"
            )
        finals.append(
            f"SELECT CAST({i} AS INTEGER) AS mmr_rank, doc_id,"
            f" rel AS relevance, round(score, {_R}) AS mmr_score"
            f" FROM s{i}"
        )
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n"
        f"qv AS (SELECT v AS qv FROM e WHERE vec_id = {_S14_QVEC}),\n"
        "cand AS MATERIALIZED (\n"
        f"  SELECT e.vec_id AS doc_id, {cand_cos} AS rel, e.v\n"
        "  FROM e CROSS JOIN qv\n"
        f"  ORDER BY rel DESC, doc_id LIMIT {_S14_C}\n"
        "),\n"
        "sims AS MATERIALIZED (\n"
        f"  SELECT a.doc_id AS da, b.doc_id AS db, {pair_cos} AS sim\n"
        "  FROM cand a JOIN cand b ON a.doc_id <> b.doc_id\n"
        "),\n"
        + ",\n".join(steps)
        + "\n"
        + "\nUNION ALL ".join(finals)
    )


_S15_ORACLE = _s15_oracle()


@register(
    "s15_mmr_rerank",
    oracle=_S15_ORACLE,
    doc=(
        "S15: MMR diversified rerank — λ·rel − (1−λ)·max-sim greedy "
        "top-10 over the relevance top-50, oracle = unrolled CTE steps"
    ),
)
def s15_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR top-k for the fixed query embedding over the top-C relevance
    candidates (registered-shape signature; oracle = _S15_ORACLE)."""
    import math

    e = load_embeddings(spark, sf_dir, "vec_id")
    cand = _top_c(
        e.crossJoin(F.broadcast(_s14_query(e))).select(
            F.col("vec_id").alias("doc_id"), _score().alias("rel"), "v"
        ),
        by="rel",
    )
    cand = track(cand.persist())  # feeds the pair join twice + collect
    pair = (
        cand.alias("a")
        .join(cand.alias("b"), F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            _score(a="a.v", b="b.v").alias("sim"),
        )
    )
    # bounded collects: ≤C candidates and ≤C² rounded sims (C = 50)
    rel = {r.doc_id: r.rel for r in cand.select("doc_id", "rel").collect()}
    sim = {(r.da, r.db): r.sim for r in pair.collect()}
    selected: list[int] = []
    out = []
    remaining = set(rel)
    for rank in range(1, _S15_K + 1):
        if not remaining:
            break
        best = None
        for d in remaining:
            maxsim = max(
                (sim[(d, s)] for s in selected if sim.get((d, s)) is not None),
                default=0.0,
            )
            score = _S15_LAM * rel[d] - _S15_OML * maxsim
            # argmax with doc_id tiebreak — the same total order as the
            # oracle's ORDER BY score DESC, doc_id LIMIT 1
            if best is None or score > best[0] or (
                score == best[0] and d < best[1]
            ):
                best = (score, d)
        score, d = best
        selected.append(d)
        remaining.discard(d)
        out.append(
            (rank, d, rel[d], math.floor(score * 1e6 + 0.5) / 1e6)
        )
    return spark.createDataFrame(
        out,
        "mmr_rank int, doc_id long, relevance double, mmr_score double",
    )
