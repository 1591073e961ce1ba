"""Property tests for the approximate dedup operators (no SQL oracle):
MinHash-LSH recall against the exact-Jaccard anchor, signature sanity,
SimHash bit-level properties."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_big_data_engineering_spark.operators.dedup import (
    N_PERM,
    lsh_candidate_pairs,
    minhash_signatures,
)
from iot_big_data_engineering_spark.sources.tables import load_table

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMOKE, "documents")


def test_minhash_signature_shape(spark, docs):
    sigs = minhash_signatures(docs)
    row = sigs.select(F.size("sig").alias("n")).distinct().collect()
    assert [r.n for r in row] == [N_PERM]


def test_minhash_identical_docs_identical_sigs(spark, docs):
    """A duplicated doc must produce an identical signature (minhash is a
    pure function of the shingle set)."""
    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    sigs = minhash_signatures(docs.limit(5).unionAll(dup))
    pairs = (
        sigs.alias("a")
        .join(
            sigs.alias("b"),
            F.col("a.doc_id") + 100000 == F.col("b.doc_id"),
        )
        .select((F.col("a.sig") == F.col("b.sig")).alias("eq"))
        .collect()
    )
    assert pairs and all(r.eq for r in pairs)


def test_lsh_recall_on_planted_duplicates(spark, docs):
    """Plant exact + near duplicates; LSH candidate generation must
    recover them (identical docs collide in every band; near-identical in
    at least one with overwhelming probability)."""
    base = docs.limit(20)
    exact_dup = base.withColumn("doc_id", F.col("doc_id") + 100000)
    near_dup = base.withColumn("doc_id", F.col("doc_id") + 200000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" tail token"))
    )
    corpus = docs.unionAll(exact_dup).unionAll(near_dup)
    cands = lsh_candidate_pairs(minhash_signatures(corpus))
    cand_set = {(r.doc_a, r.doc_b) for r in cands.collect()}
    exact_found = sum(1 for i in range(20) if (i, i + 100000) in cand_set)
    near_found = sum(1 for i in range(20) if (i, i + 200000) in cand_set)
    assert exact_found == 20, f"exact dups missed: {20 - exact_found}"
    assert near_found >= 16, f"near-dup recall too low: {near_found}/20"


def test_simhash_duplicate_distance_zero(spark, docs):
    from iot_big_data_engineering_spark.functions import text as X
    from iot_big_data_engineering_spark.operators.dedup import simhash_col

    base = docs.limit(10)
    dup = base.withColumn("doc_id", F.col("doc_id") + 100000)
    sims = (
        base.unionAll(dup)
        .select(
            "doc_id",
            F.transform(
                X.distinct_tokens("text"), lambda t: F.xxhash64(t)
            ).alias("th"),
        )
        .withColumn("simhash", simhash_col())
    )
    a, b = sims.alias("a"), sims.alias("b")
    rows = (
        a.join(b, F.col("a.doc_id") + 100000 == F.col("b.doc_id"))
        .select(
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming")
        )
        .collect()
    )
    assert rows and all(r.hamming == 0 for r in rows)


def test_registered_dedup_certificates_all_true(spark):
    """The registered d4/d5 forms are planted-duplicate certificates —
    every boolean must be TRUE on any corpus (the property the driver's
    hash gate pins against the SQL oracle)."""
    from iot_big_data_engineering_spark.operators.dedup import (
        d4_minhash_lsh_dedup,
        d5_simhash_neardup,
    )

    r4 = d4_minhash_lsh_dedup(spark, SF_SMOKE).collect()
    assert r4 and all(r.planted_dup_found for r in r4), r4
    r5 = d5_simhash_neardup(spark, SF_SMOKE).collect()
    assert r5 and all(r.planted_zero_hamming for r in r5), r5


def test_connected_components_chain_and_clusters(spark):
    """A~B, B~C must land in one component (pair-level dedup would miss
    A~C); disjoint pairs stay separate."""
    from iot_big_data_engineering_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "src long, dst long",
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20, 23: 20,
    }


def test_connected_components_driver_vs_distributed_random_graphs(spark):
    """The driver union-find fast path (default for small graphs) must be
    observationally identical to the distributed min-label loop on
    arbitrary graphs — seeded random edges, both paths, exact equality."""
    import random

    from iot_big_data_engineering_spark.operators.dedup import (
        connected_components,
    )

    for seed in (7, 42, 99):
        rng = random.Random(seed)
        edges = [
            (rng.randrange(30), rng.randrange(30)) for _ in range(25)
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        fast = {
            r.node: r.component for r in connected_components(df).collect()
        }
        slow = {
            r.node: r.component
            for r in connected_components(df, driver_cap=0).collect()
        }
        assert fast == slow, f"seed {seed}: driver path diverged"


def test_connected_components_checkpointed_input_identical(spark):
    """connected_components reads its input as given (near_dup_edges
    checkpoints the edge list where it is built): a localCheckpointed
    edge frame and a raw one give the same labels, on BOTH the driver
    union-find and the distributed min-label loop."""
    from iot_big_data_engineering_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "src long, dst long",
    )
    checked = edges.localCheckpoint()
    for cap in (1_000_000, 0):  # driver path, then distributed path
        raw = {
            r.node: r.component
            for r in connected_components(edges, driver_cap=cap).collect()
        }
        pre = {
            r.node: r.component
            for r in connected_components(checked, driver_cap=cap).collect()
        }
        assert raw == pre, f"driver_cap={cap}: checkpointed input diverged"


def test_near_dup_clustering_lives_only_in_its_builder():
    """The near-dup edge list has one builder, ``near_dup_edges``, which
    checkpoints it once where it is built. ``prefix_jaccard_pairs`` is
    called only there and in d8b (which returns the pairs themselves),
    and every ``connected_components`` call in the package clusters the
    builder's output: passed directly, or through a name bound only to
    it in the calling function."""
    import ast
    from pathlib import Path

    import iot_big_data_engineering_spark as pkg

    def callee(call):
        f = call.func
        return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)

    def is_builder_call(node):
        return isinstance(node, ast.Call) and callee(node) == "near_dup_edges"

    pair_callers, cc_args, builder_defs = [], [], []
    root = Path(pkg.__file__).parent
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text())
        funcs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
        builder_defs += [rel for f in funcs if f.name == "near_dup_edges"]

        def owner(node):  # the innermost def around node
            inside = [f for f in funcs if f.lineno <= node.lineno <= f.end_lineno]
            return max(inside, key=lambda f: f.lineno, default=None)

        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = owner(node)
            if callee(node) == "prefix_jaccard_pairs":
                pair_callers.append((rel, fn and fn.name))
            elif callee(node) == "connected_components":
                arg = node.args[0] if node.args else None
                if isinstance(arg, ast.Name) and fn is not None:
                    bound = [
                        a.value
                        for a in ast.walk(fn)
                        if isinstance(a, ast.Assign)
                        and any(getattr(t, "id", None) == arg.id for t in a.targets)
                    ]
                    ok = bool(bound) and all(map(is_builder_call, bound))
                else:
                    ok = is_builder_call(arg)
                cc_args.append((rel, fn and fn.name, ok))
    assert sorted(pair_callers) == [
        ("operators/dedup.py", "d8b_jaccard_join_df_prefix"),
        ("operators/dedup.py", "near_dup_edges"),
    ], pair_callers
    assert cc_args, "no connected_components call found"
    assert [c for c in cc_args if not c[2]] == [], cc_args
    assert builder_defs == ["operators/dedup.py"], builder_defs


def test_connected_components_raises_instead_of_partial_labels(spark):
    """A chain longer than max_iters must RAISE, not silently return
    non-converged labels (which would emit wrong cluster ids)."""
    import pytest

    from iot_big_data_engineering_spark.operators.dedup import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "src long, dst long"
    )
    # driver_cap=0 forces the distributed path — the driver union-find
    # (default for graphs this small) has no iteration cap to test
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iters=2, driver_cap=0)
    # and with enough rounds the same chain converges to one component
    comp = {
        r.node: r.component
        for r in connected_components(chain, max_iters=15, driver_cap=0).collect()
    }
    assert set(comp.values()) == {0}
    # the driver path must agree with the distributed path exactly
    comp2 = {
        r.node: r.component for r in connected_components(chain).collect()
    }
    assert comp2 == comp


# ---------------------------------------------------------------------------
# d8 prefix-filter correctness: the prefix-filtered join must return
# EXACTLY the brute-force Jaccard >= tau pairs on arbitrary corpora (the
# filter is an optimization, never a semantics change).
# ---------------------------------------------------------------------------
def _brute_force_pairs(texts, tau):
    """Python reference: distinct word-trigram Jaccard over all pairs."""
    def shingles(t):
        toks = t.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {i: shingles(t) for i, t in enumerate(texts)}
    sets = {i: s for i, s in sets.items() if s}
    out = set()
    for a in sets:
        for b in sets:
            if a < b:
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if union and inter / union >= tau:
                    out.add((a, b))
    return out


def test_prefix_join_equals_brute_force(spark):
    """Adversarial corpus: exact dups, prefix-sharing docs, suffix-sharing
    docs, subsets, tiny docs, and unrelated docs — the prefix join must
    agree pair-for-pair with the brute-force reference."""
    from iot_big_data_engineering_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog",        # 0
        "the quick brown fox jumps over the lazy dog",        # 1 = dup of 0
        "the quick brown fox jumps over a sleepy cat",        # 2 shares prefix
        "a very different opening but jumps over the lazy dog",  # 3 shares suffix
        "the quick brown fox",                                # 4 subset, tiny
        "completely unrelated text with no overlap at all here",  # 5
        "one two",                                            # 6 too short (no shingles)
        "alpha beta gamma delta epsilon zeta eta theta",      # 7
        "alpha beta gamma delta epsilon zeta eta iota",       # 8 near-dup of 7
    ]
    # 0.55 / 0.7: taus whose tau·|s| products land on exact integers for
    # round set sizes — the FP-overshoot class the guarded ceil in
    # prefix_jaccard_pairs exists for (ceil(55.000000000000007) = 56
    # would shorten the prefix by one and silently drop pairs)
    for tau in (0.3, 0.5, 0.55, 0.7, 0.8):
        want = _brute_force_pairs(texts, tau)
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        for order_by_df in (False, True):
            got = {
                (r.doc_a, r.doc_b)
                for r in prefix_jaccard_pairs(
                    docs, tau, order_by_df=order_by_df
                ).collect()
            }
            assert got == want, (tau, order_by_df, got ^ want)


# ---------------------------------------------------------------------------
# d13 containment near-dup: the prefix-filtered containment join must return
# EXACTLY the brute-force max-containment >= tau pairs (the filter is
# an optimization, never a semantics change — the d8 discipline,
# asymmetric form).
# ---------------------------------------------------------------------------
def _brute_force_containment(texts, tau):
    """Python reference: distinct word-trigram max-containment over all
    pairs — (doc_a, doc_b) -> (overlap, sz_a, sz_b)."""
    def shingles(t):
        toks = t.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {i: s for i, s in ((i, shingles(t)) for i, t in enumerate(texts)) if s}
    out = {}
    for a in sets:
        for b in sets:
            if a < b:
                o = len(sets[a] & sets[b])
                if o and o / min(len(sets[a]), len(sets[b])) >= tau:
                    out[(a, b)] = (o, len(sets[a]), len(sets[b]))
    return out


def test_containment_join_equals_brute_force(spark):
    """Adversarial corpus: exact dups, a verbatim-inclusion subset, a
    partial-overlap pair, prefix/suffix sharers, tiny docs — the
    prefix-filtered containment join must agree pair-for-pair (and
    count-for-count) with the brute-force reference at several taus,
    including tau values whose tau·|s| lands on exact integers (the
    guarded-ceil FP-overshoot class) and tau = 1.0 (prefix length 1)."""
    from iot_big_data_engineering_spark.operators.dedup import (
        containment_pairs,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog",        # 0
        "the quick brown fox jumps over the lazy dog",        # 1 = dup of 0
        "the quick brown fox jumps over a sleepy cat",        # 2 shares prefix
        "the quick brown fox jumps over the lazy dog and then "
        "runs far away into the deep dark quiet ancient wood",  # 3 ⊇ 0
        "the quick brown fox",                                # 4 too short
        "completely unrelated text with no overlap at all here",  # 5
        "alpha beta gamma delta epsilon zeta eta theta",      # 7-ish
        "alpha beta gamma delta epsilon zeta eta iota",       # near-dup
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for tau in (0.5, 0.75, 0.8, 1.0):
        want = _brute_force_containment(texts, tau)
        got = {
            (r.doc_a, r.doc_b): (r.overlap, r.sz_a, r.sz_b)
            for r in containment_pairs(docs, tau).collect()
        }
        assert got == want, (tau, got, want)


def test_d13_flags_subset_that_jaccard_misses(spark):
    """The header's reason-to-exist: a short doc quoted verbatim inside
    a much longer one has containment 1.0 but Jaccard far below any
    useful threshold — d13 must flag the pair, d8's symmetric join at
    the same tau must not."""
    from iot_big_data_engineering_spark.operators.dedup import (
        containment_pairs,
        prefix_jaccard_pairs,
    )

    snippet = "one two three four five six seven eight nine ten eleven twelve"
    tail = " ".join(f"w{i} x{i} y{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, snippet), (2, snippet + " " + tail)],
        "doc_id long, text string",
    )
    got = containment_pairs(docs, 0.8).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.overlap == r.sz_a == 10          # all of doc 1 is inside doc 2
    assert r.c_a == 1.0 and r.c_b < 0.1
    assert prefix_jaccard_pairs(docs, 0.8).collect() == []


def test_d13_empty_null_and_short_text_excluded(spark):
    """NULL text, empty text and <3-token docs shingle to nothing and
    drop out on both engines; an empty corpus returns the empty frame
    with the pinned schema."""
    from iot_big_data_engineering_spark.operators.dedup import (
        d13_containment_neardup,
    )
    import pandas as pd

    out_cols = [
        "doc_a", "doc_b", "overlap", "sz_a", "sz_b",
        "containment_a", "containment_b",
    ]
    with __import__("tempfile").TemporaryDirectory() as td:
        pd.DataFrame(
            [
                (1, None, "en", "s", 0),
                (2, "", "en", "s", 0),
                (3, "one two", "en", "s", 7),
                (4, "a proper document with enough tokens to shingle", "en", "s", 47),
                (5, "a proper document with enough tokens to shingle", "en", "s", 47),
            ],
            columns=["doc_id", "text", "lang", "source", "n_chars"],
        ).to_parquet(td + "/documents.parquet")
        got = d13_containment_neardup(spark, td).collect()
        assert [tuple(r)[:2] for r in got] == [(4, 5)]  # only the dup pair
        assert got[0].containment_a == got[0].containment_b == 1.0

        pd.DataFrame(
            [], columns=["doc_id", "text", "lang", "source", "n_chars"]
        ).astype(
            {"doc_id": "int64", "text": "object", "lang": "object",
             "source": "object", "n_chars": "int64"}
        ).to_parquet(td + "/documents.parquet")
        empty = d13_containment_neardup(spark, td)
        assert empty.columns == out_cols and empty.collect() == []


def test_d13_matches_oracle_on_gate_data(spark):
    """Gate-data parity in the REGISTERED oracle form: the d13 oracle
    uses round(), which registration rewrites to the shared floor
    formula — run the rewritten text (what the driver would execute) so
    this certificate covers the rewrite too (the dp18/u5 dry-run
    discipline)."""
    import duckdb

    from iot_big_data_engineering_spark import registry
    from iot_big_data_engineering_spark.operators.dedup import (
        _D13_ORACLE,
        d13_containment_neardup,
    )

    from .conftest import SF_SMOKE

    sp = sorted(map(tuple, d13_containment_neardup(spark, SF_SMOKE).collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    du = sorted(
        map(tuple, con.execute(registry._rewrite_rounds(_D13_ORACLE)).fetchall())
    )
    assert sp == du
    assert sp  # planted dup cliques guarantee non-empty containment


def test_band_table_shape_and_copy_collision(spark, docs):
    """band_table emits exactly N_BANDS rows per signed doc, and an
    exact text copy collides with its original in EVERY band — the
    invariant both d4's self-join and d10's delta-vs-state lookup rely
    on."""
    from iot_big_data_engineering_spark.operators.dedup import (
        N_BANDS,
        band_table,
        minhash_signatures,
    )

    base = docs.limit(5)
    dup = base.withColumn("doc_id", F.col("doc_id") + 100000)
    bands = band_table(minhash_signatures(base.unionAll(dup)))
    per_doc = bands.groupBy("doc_id").count().collect()
    assert all(r["count"] == N_BANDS for r in per_doc), per_doc
    joined = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.doc_id") + 100000 == F.col("b.doc_id"))
            & (F.col("a.band") == F.col("b.band")),
        )
        .filter(F.col("a.bucket") == F.col("b.bucket"))
    )
    # every (orig, copy) pair collides in all N_BANDS bands
    assert joined.count() == len(per_doc) // 2 * N_BANDS


# d11 near-dup keep-best (round-8 addition)

def test_d11_keeps_highest_quality_member(spark, tmp_path):
    """A planted 3-doc near-dup cluster (pairwise trigram Jaccard >= 0.5)
    with one clearly higher-quality member: keep-best must choose it
    over the min-id canonical and report a positive gain."""
    import pandas as pd

    from iot_big_data_engineering_spark.operators.dedup import (
        d11_neardup_keep_best,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    rows = [
        # doc 0: the min-id canonical, truncated (lower length quality)
        (0, base.rsplit(" ", 6)[0]),
        # doc 1: the full, longest variant -> highest quality score
        (1, base + " phi chi psi omega extra tokens appended here now"),
        # doc 2: mid-length variant
        (2, base),
    ]
    pd.DataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(str(tmp_path / "documents.parquet"))

    out = d11_neardup_keep_best(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.cluster_id == 0 and r.cluster_size == 3
    assert r.kept_doc_id == 1
    assert r.kept_quality > r.canonical_quality
    assert r.quality_gain > 0


def test_d11_gain_nonnegative_and_nonvacuous(spark):
    """Structurally, the argmax member's quality can never be below the
    min-id member's; and on the real corpus at least one cluster must
    show a strictly positive gain (else the policy certificate is
    vacuous)."""
    from iot_big_data_engineering_spark.operators.dedup import (
        d11_neardup_keep_best,
    )

    from .conftest import SF_SMOKE

    rows = d11_neardup_keep_best(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.quality_gain >= 0, r
        assert r.kept_quality >= r.canonical_quality, r
        assert r.cluster_size >= 2, r
    assert any(r.quality_gain > 0 for r in rows)


# ---------------------------------------------------------------------------
# d12 duplicated-span coverage: planted overlaps, hand-checked ppm
# ---------------------------------------------------------------------------
def test_d12_planted_span_overlap(spark):
    from iot_big_data_engineering_spark.operators.dedup import (
        duplicate_span_ratio,
    )

    shared = "s1 s2 s3 s4 s5 s6 s7 s8"  # exactly one 8-gram
    docs = [
        (0, shared + " a1 a2 a3"),       # 4 grams, 1 shared → 250000 ppm
        (1, shared + " b1 b2 b3"),       # 4 grams, 1 shared → 250000 ppm
        (2, "c1 c2 c3 c4 c5 c6 c7 c8"),  # 1 gram, unshared → 0 ppm
        (3, "too short"),                # < 8 tokens → no grams, excluded
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in duplicate_span_ratio(d, topn=10).collect()}
    assert set(got) == {0, 1, 2}
    assert (got[0].n_grams, got[0].dup_grams, got[0].dup_ppm) == (4, 1, 250000)
    assert (got[1].n_grams, got[1].dup_grams, got[1].dup_ppm) == (4, 1, 250000)
    assert (got[2].n_grams, got[2].dup_grams, got[2].dup_ppm) == (1, 0, 0)


def test_d12_within_doc_repeat_is_not_cross_doc_dup(spark):
    """A gram repeated inside ONE doc only (df = 1) must not count as
    duplicated — d12 measures cross-document coverage; within-doc
    repetition is t10's job."""
    from iot_big_data_engineering_spark.operators.dedup import (
        duplicate_span_ratio,
    )

    d = spark.createDataFrame(
        [(0, "x1 x2 x3 x4 x5 x6 x7 x8 " * 2)], "doc_id long, text string"
    )
    r = duplicate_span_ratio(d, topn=10).collect()[0]
    assert r.dup_grams == 0 and r.dup_ppm == 0
    assert r.n_grams == 9  # 16 tokens → 9 eight-gram positions
