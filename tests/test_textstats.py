"""Semantic + plan tests for the repetition profile (t10) and the
benchmark-contamination scan (dc1) — hand-computed expectations on tiny
frames, and the plan shapes that make them viable at 100 TB. Value-level
oracle parity for the registered forms is covered by test_oracle_parity.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_big_data_engineering_spark.operators.dedup import contamination_scan
from iot_big_data_engineering_spark.operators.textstats import (
    repetition_profile,
    t10_repetition_profile,
)
from iot_big_data_engineering_spark.operators.dedup import (
    dc1_benchmark_contamination,
)
from iot_big_data_engineering_spark.plans.checks import (
    assert_broadcast_join,
    assert_no_cartesian,
    plan_str,
)

from .conftest import SF_CORRECT, SF_SMOKE


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_repetition_profile_hand_case(spark):
    d = _docs(
        spark,
        [
            # 4 words, 2 distinct -> dup_word_frac 0.5; bigrams
            # {"x x": 2, "x y": 1} -> top 2/3, dup-occurrences 2/3
            (0, "en", "x x x y"),
            # 10 distinct words -> all fractions at their floors
            (1, "en", "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"),
        ],
    )
    rows = {r.doc_id: r for r in repetition_profile(d).collect()}
    r0 = rows[0]
    assert r0.n_words == 4
    assert abs(r0.dup_word_frac - 0.5) < 1e-12
    assert abs(r0.top_bigram_frac - 0.666667) < 1e-6
    assert abs(r0.dup_bigram_frac - 0.666667) < 1e-6
    assert r0.repetitive  # top-bigram fraction over threshold
    r1 = rows[1]
    assert r1.dup_word_frac == 0.0
    assert abs(r1.top_bigram_frac - 1.0 / 9.0) < 1e-6
    assert r1.dup_bigram_frac == 0.0
    assert not r1.repetitive


def test_repetition_profile_drops_sub_bigram_docs(spark):
    d = _docs(spark, [(0, "en", "solo"), (1, "en", "two words")])
    got = {r.doc_id for r in repetition_profile(d).collect()}
    assert got == {1}


def test_contamination_scan_hand_case(spark):
    d = _docs(
        spark,
        [
            (0, "en", "a b c d e f g h i j"),  # benchmark doc
            (1, "en", "a b c d e f g h x y"),  # shares one 8-gram
            (2, "en", "p q r s t u v w x y"),  # no overlap
        ],
    )
    rows = contamination_scan(d, F.col("doc_id") == 0, n=8).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_id, r.n_shared_grams, r.n_bench_docs) == (1, 1, 1)


def test_t10_plan_single_scan_no_join(spark):
    df = t10_repetition_profile(spark, SF_SMOKE)
    p = plan_str(df)
    # one column-pruned scan; the per-doc scalars ride the grouping keys,
    # so there is no second scan and no join back
    assert p.count("Location: InMemoryFileIndex") == 1, p
    assert "Join" not in p, p
    assert "struct<doc_id:bigint,text:string,lang:string>" in p, p


def test_dc1_plan_broadcast_no_cartesian(spark):
    df = dc1_benchmark_contamination(spark, SF_SMOKE)
    assert_no_cartesian(df)
    assert_broadcast_join(df)


def test_inverted_index_hand_case(spark):
    from iot_big_data_engineering_spark.operators.textstats import (
        t11_inverted_index,
    )

    df = t11_inverted_index(spark, SF_SMOKE)
    # spot-invariants on the real corpus: doc_freq never exceeds champion
    # cap semantics (postings length = min(doc_freq, K)), total >= df
    rows = df.collect()
    assert rows
    for r in rows[:50]:
        n_postings = len(r.top_doc_ids.split(","))
        assert n_postings == min(r.doc_freq, 20)
        assert r.total_occurrences >= r.doc_freq
        ids = [int(x) for x in r.top_doc_ids.split(",")]
        assert ids == sorted(ids)


def test_dp3_plan_broadcast_no_cartesian(spark):
    from iot_big_data_engineering_spark.operators.textstats import (
        dp3_training_mix,
    )

    df = dp3_training_mix(spark, SF_SMOKE)
    assert_no_cartesian(df)
    assert_broadcast_join(df)
    # gate semantics: achieved rate tracks target/count per source
    for r in df.collect():
        assert 0 < r.sampled_docs <= r.source_docs
        assert r.target_docs <= r.source_docs


def test_t11_plan_no_cartesian(spark):
    from iot_big_data_engineering_spark.operators.textstats import (
        t11_inverted_index,
    )

    assert_no_cartesian(t11_inverted_index(spark, SF_SMOKE))


def test_dp4_reconciles_with_dp1(spark):
    """The audit ledger's kept-count must equal dp1's surviving rows —
    same gates, same order, by construction."""
    from iot_big_data_engineering_spark.operators.textstats import (
        dp1_corpus_clean,
        dp4_cleaning_audit,
    )

    audit = dp4_cleaning_audit(spark, SF_SMOKE)
    kept = (
        audit.filter(F.col("reason") == "kept")
        .agg(F.sum("doc_count"))
        .collect()[0][0]
    )
    assert kept == dp1_corpus_clean(spark, SF_SMOKE).count()
    total = audit.agg(F.sum("doc_count")).collect()[0][0]
    from iot_big_data_engineering_spark.sources.tables import load_table

    assert total == load_table(spark, SF_SMOKE, "documents").count()


def test_dp5_packing_invariants(spark):
    """Conservation + exact-fill: every sequence except each language's
    last is filled to exactly B tokens, and total filled tokens equal the
    corpus token count (nothing lost or double-counted at boundaries)."""
    from pyspark.sql import functions as F

    from iot_big_data_engineering_spark.functions import text as X
    from iot_big_data_engineering_spark.operators.textstats import (
        _DP5_SEQ_TOKENS,
        dp5_sequence_packing,
    )
    from iot_big_data_engineering_spark.sources.tables import load_table

    from .conftest import SF_SMOKE

    plan = dp5_sequence_packing(spark, SF_SMOKE).collect()
    last_seq = {}
    for r in plan:
        last_seq[r.lang] = max(last_seq.get(r.lang, -1), r.seq_id)
    for r in plan:
        if r.seq_id < last_seq[r.lang]:
            assert r.filled_tokens == _DP5_SEQ_TOKENS, r
        else:
            assert 0 < r.filled_tokens <= _DP5_SEQ_TOKENS, r
        assert r.n_starts <= r.n_docs
        # a carry-less sequence must begin with a doc start
        if not r.starts_with_carry:
            assert r.n_starts >= 1, r

    total_filled = sum(r.filled_tokens for r in plan)
    corpus_tokens = (
        load_table(spark, SF_SMOKE, "documents")
        .select(X.bpe_token_count("text").alias("tok"))
        .agg(F.sum("tok"))
        .first()[0]
    )
    assert total_filled == corpus_tokens


def test_knuth_hash32_overflow_exact(spark):
    """The shared chunked Knuth hash (functions/hashing.py, used by
    dp3/mm7/adv8/dp9) must equal arbitrary-precision
    (id * MULT) % 2^32 for ids far past the ~3.5e9 point where the
    naive int64 multiply overflows (VERDICT r6 demand #3, extended to
    all samplers by r7 demand #3) — on the Spark side, and
    term-for-term on the DuckDB oracle fragment."""
    import duckdb

    from iot_big_data_engineering_spark.functions import hashing
    from iot_big_data_engineering_spark.operators.textstats import (
        _DP9_MOD,
        _DP9_MULT,
        _dp9_hash_sql,
        _dp9_split_hash,
    )

    # dp9's historical names must stay bound to the ONE shared
    # implementation — a re-divergence would silently un-share the fix
    assert _dp9_split_hash is hashing.knuth_hash32
    assert _dp9_hash_sql is hashing.knuth_hash32_sql
    assert (_DP9_MULT, _DP9_MOD) == (hashing.HASH32_MULT, hashing.HASH32_MOD)

    ids = [
        0,
        1,
        2**31 - 1,
        2**32 - 1,
        2**32,
        2**32 + 1,
        3_500_000_000,          # right at the naive-overflow boundary
        2**35 + 12345,          # the planted 2^35-scale id the demand names
        2**40 + 7,
        2**52 + 999_999_937,
        2**62 + 3,
    ]
    expected = {i: (i * _DP9_MULT) % _DP9_MOD for i in ids}  # Python bigint

    got = {
        r.cid: r.h
        for r in spark.createDataFrame([(i,) for i in ids], "cid long")
        .select("cid", _dp9_split_hash(F.col("cid")).alias("h"))
        .collect()
    }
    assert got == expected

    con = duckdb.connect()
    frag = _dp9_hash_sql("cid")
    duck = dict(
        con.execute(
            f"SELECT cid, {frag} AS h FROM (SELECT unnest(?::BIGINT[]) AS cid)",
            [ids],
        ).fetchall()
    )
    assert duck == expected


# ---------------------------------------------------------------------------
# dp10 boilerplate removal — dedicated edge-case tests (VERDICT r7
# demand #1: short docs, all-segments-removed docs, the df threshold
# boundary) plus the gated-broadcast behavior (demand #4).
# ---------------------------------------------------------------------------
_MD5_EMPTY = "d41d8cd98f00b204e9800998ecf8427e"  # md5('')

# segment A in 6 distinct docs (removed), D in exactly 5 (removed — the
# >= boundary), B in exactly 4 (kept — one below), uniques df=1 (kept)
_DP10_CORPUS = [
    (1, "aa bb cc dd mm nn oo pp ee ff gg hh u1 v1 w1 x1"),
    (2, "aa bb cc dd mm nn oo pp ee ff gg hh u2 v2 w2 x2"),
    (3, "aa bb cc dd mm nn oo pp ee ff gg hh u3 v3 w3 x3"),
    (4, "aa bb cc dd mm nn oo pp ee ff gg hh u4 v4 w4 x4"),
    (5, "aa bb cc dd mm nn oo pp u5 v5 w5 x5"),
    (6, "tiny doc"),          # shorter than one 4-token segment
    (7, "aa bb cc dd"),       # every segment boilerplate -> md5('')
]


def _dp10_expected():
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    exp = {}
    for i in range(1, 5):
        exp[i] = (4, 2, 8, md5(f"ee ff gg hh u{i} v{i} w{i} x{i}"))
    exp[5] = (3, 2, 4, md5("u5 v5 w5 x5"))
    exp[6] = (1, 0, 2, md5("tiny doc"))
    exp[7] = (1, 1, 0, _MD5_EMPTY)
    return exp


def _dp10_rows_to_dict(rows):
    return {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in rows
    }


def test_dp10_edge_cases_spark(spark):
    from iot_big_data_engineering_spark.operators.textstats import (
        boilerplate_removal,
    )

    d = spark.createDataFrame(_DP10_CORPUS, "doc_id long, text string")
    got = _dp10_rows_to_dict(
        boilerplate_removal(d)
        .select(
            "doc_id", "n_segments", "n_removed", "retained_tokens",
            "retained_md5",
        )
        .collect()
    )
    assert got == _dp10_expected()


def test_dp10_edge_cases_oracle():
    """The registered DuckDB oracle must make the identical calls on the
    same synthetic corpus — including the md5('') all-removed path."""
    import duckdb
    import pandas as pd

    from iot_big_data_engineering_spark.registry import all_queries

    oracle = all_queries()["dp10_boilerplate_removal"].oracle
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(_DP10_CORPUS, columns=["doc_id", "text"]),
    )
    got = _dp10_rows_to_dict(con.execute(oracle).fetchall())
    assert got == _dp10_expected()


def test_dp10_df_threshold_boundary(spark):
    """min_df is a >= gate: at min_df=4 segment B (df exactly 4) must
    flip from kept to removed while nothing else changes."""
    from iot_big_data_engineering_spark.operators.textstats import (
        boilerplate_removal,
    )

    d = spark.createDataFrame(_DP10_CORPUS, "doc_id long, text string")
    got = _dp10_rows_to_dict(
        boilerplate_removal(d, min_df=4)
        .select(
            "doc_id", "n_segments", "n_removed", "retained_tokens",
            "retained_md5",
        )
        .collect()
    )
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    exp = _dp10_expected()
    for i in range(1, 5):  # docs 1-4 lose segment B too
        exp[i] = (4, 3, 4, md5(f"u{i} v{i} w{i} x{i}"))
    assert got == exp


def test_dp10_broadcast_gate(spark):
    """bcast_max=0 must drop the broadcast hint (no ResolvedHint in the
    analyzed plan) and still produce identical rows — the runtime
    fallback VERDICT r7 demand #4 asked the code to actually implement."""
    from iot_big_data_engineering_spark.operators.textstats import (
        boilerplate_removal,
    )

    d = spark.createDataFrame(_DP10_CORPUS, "doc_id long, text string")
    hinted = boilerplate_removal(d)
    gated = boilerplate_removal(d, bcast_max=0)
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()
    assert (
        "ResolvedHint"
        not in gated._jdf.queryExecution().analyzed().toString()
    )
    cols = ["doc_id", "n_segments", "n_removed", "retained_tokens",
            "retained_md5"]
    assert _dp10_rows_to_dict(
        hinted.select(*cols).collect()
    ) == _dp10_rows_to_dict(gated.select(*cols).collect())


def test_t14_zipf_hand_case(spark, tmp_path):
    """Exact power-law frequencies -> closed-form least-squares slope;
    compare against numpy's polyfit on the same (ln rank, ln freq)
    points. A lang with one distinct term yields a NULL slope (no
    regression from a single point). The registered DuckDB oracle runs
    on the same corpus and must agree."""
    import duckdb
    import numpy as np
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        t14_zipf_profile,
    )
    from iot_big_data_engineering_spark.registry import all_queries

    # freq: a=8, b=4, c=2, d=1 in lang en; lang xx has one term only
    text_en = " ".join(["a"] * 8 + ["b"] * 4 + ["c"] * 2 + ["d"])
    corpus = [(0, text_en, "en", "s", len(text_en)), (1, "solo", "xx", "s", 4)]
    pd.DataFrame(
        corpus, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(str(tmp_path / "documents.parquet"))
    rows = {
        r.lang: r for r in t14_zipf_profile(spark, str(tmp_path)).collect()
    }

    x = np.log([1, 2, 3, 4])
    y = np.log([8, 4, 2, 1])
    slope, _ = np.polyfit(x, y, 1)
    assert rows["en"].n_terms == 4
    assert abs(rows["en"].zipf_slope - round(float(slope), 6)) < 1e-6
    assert 0 <= rows["en"].zipf_r2 <= 1
    assert rows["xx"].n_terms == 1
    assert rows["xx"].zipf_slope is None  # single point: no regression

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            corpus, columns=["doc_id", "text", "lang", "source", "n_chars"]
        ),
    )
    duck = {
        r[0]: r
        for r in con.execute(all_queries()["t14_zipf_profile"].oracle).fetchall()
    }
    assert duck["en"][1:] == (
        rows["en"].n_terms, rows["en"].zipf_slope, rows["en"].zipf_r2
    )
    assert duck["xx"][2] is None


def test_dp11_planted_contamination(spark, tmp_path):
    """A train doc sharing one 8-gram with an eval doc must be removed;
    a disjoint train doc must survive; the zero-overlap certificate
    holds. Split sides are chosen by computing the split hash in
    Python, so the plant is deterministic."""
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        _DP9_TRAIN_CUT,
        dp11_split_decontamination,
    )

    def is_train(doc_id: int) -> bool:
        return (doc_id * 2654435761) % (2**32) < _DP9_TRAIN_CUT

    train_ids = [i for i in range(100) if is_train(i)][:2]
    eval_ids = [i for i in range(100) if not is_train(i)][:1]
    assert len(train_ids) == 2 and len(eval_ids) == 1

    leak = "l1 l2 l3 l4 l5 l6 l7 l8"
    rows = [
        (train_ids[0], f"prefix {leak} suffix tail pad pad2 pad3"),
        (train_ids[1], "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),  # clean
        (eval_ids[0], f"{leak} e9 e10 e11"),
    ]
    pd.DataFrame(rows, columns=["doc_id", "text"]).assign(
        lang="en", source="s", n_chars=10
    ).to_parquet(str(tmp_path / "documents.parquet"))

    got = {
        r.split: r
        for r in dp11_split_decontamination(spark, str(tmp_path)).collect()
    }
    assert got["train"].n_docs_before == 2
    assert got["train"].n_removed == 1
    assert got["train"].n_docs_after == 1
    assert got["eval"].n_docs_before == 1
    assert got["eval"].n_removed == 0
    assert got["train"].clean_no_overlap and got["eval"].clean_no_overlap


def test_dp12_uniform_tier_exact_hash_replay(spark, tmp_path):
    """100 identical docs land in ONE quality tier; the kept count must
    equal a Python big-int replay of the shared Knuth stream's
    h32(id) % 100 < keep_pct rule — any drift in the chunked multiply,
    the tier expression, or the pct formula flips this exact count."""
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        dp12_quality_weighted_sample,
    )

    text = " ".join(["word"] * 200)  # tc=200, sw=0, avg_len 4: tier 8
    rows = [(i, text, "en", "s", len(text)) for i in range(100)]
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(str(tmp_path / "documents.parquet"))

    out = dp12_quality_weighted_sample(spark, str(tmp_path)).collect()
    assert len(out) == 1  # identical docs -> one tier
    r = out[0]
    # score = 0.4 (length, saturated) + 0.3 (no stopwords) + 0.15
    # (avg_len 4/8) = 0.85 -> tier 8
    assert r.q10 == 8
    assert r.keep_pct == 10 + 9 * r.q10
    expected = sum(
        1
        for i in range(100)
        if (i * 2654435761) % (2**32) % 100 < r.keep_pct
    )
    assert r.n_docs == 100
    assert r.kept_docs == expected
    assert r.kept_tokens == expected * 200


def test_dp12_clamps_saturated_score_to_tier_nine(spark, tmp_path):
    """A doc whose quality score computes to exactly 1.0 (long text,
    zero stopwords, long words) must land in tier 9 with keep_pct 91 —
    the un-clamped floor(1.0 * 10) = 10 would otherwise mint an
    eleventh tier with a 100% keep-rate."""
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        dp12_quality_weighted_sample,
    )

    text = " ".join(["abcdefghij"] * 200)  # avg_len 10 > 8: all terms max
    rows = [(7, text, "en", "s", len(text))]
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(str(tmp_path / "documents.parquet"))
    out = dp12_quality_weighted_sample(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0].q10 == 9
    assert out[0].keep_pct == 91


def test_dp12_empty_corpus_stable_schema(spark, tmp_path):
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        dp12_quality_weighted_sample,
    )

    pd.DataFrame(
        [], columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).astype(
        {"doc_id": "int64", "text": "str", "lang": "str", "source": "str",
         "n_chars": "int64"}
    ).to_parquet(str(tmp_path / "documents.parquet"))
    df = dp12_quality_weighted_sample(spark, str(tmp_path))
    assert df.columns == [
        "q10", "keep_pct", "n_docs", "kept_docs", "kept_tokens",
        "achieved_rate",
    ]
    assert df.count() == 0


def _dp13_python_replay(doc_ids, n_shards=8):
    """Exact big-int replay of dp13's shuffle rule."""
    M, MOD = 2654435761, 2**32
    h1 = {i: (i * M) % MOD for i in doc_ids}
    h2 = {i: ((h1[i] + (i % MOD)) * M) % MOD for i in doc_ids}
    out = {}
    for s in range(n_shards):
        members = sorted(
            (i for i in doc_ids if h1[i] % n_shards == s),
            key=lambda i: (h2[i], i),
        )
        if not members:
            continue
        fp = 0
        for pos, i in enumerate(members, start=1):
            fp ^= (pos % 9973) * (h2[i] % 9973) + pos
        out[s] = (len(members), members[0], fp)
    return out


def test_dp13_matches_python_bigint_replay(spark, tmp_path):
    """Shard assignment, in-shard order, first doc and the positional
    XOR fingerprint must all equal an exact Python big-int replay —
    the cross-engine reproducibility claim, checked end to end."""
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        dp13_reproducible_shuffle,
    )

    ids = list(range(0, 400, 3))
    pd.DataFrame(
        [(i, f"doc {i}", "en", "s", 7) for i in ids],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(str(tmp_path / "documents.parquet"))

    got = {
        r.shard: (r.n_docs, r.first_doc, r.order_fingerprint)
        for r in dp13_reproducible_shuffle(spark, str(tmp_path)).collect()
    }
    assert got == _dp13_python_replay(ids)


def test_dp13_invariant_to_input_order(spark, tmp_path):
    """The same corpus written in two different physical row orders
    (ascending ids vs a deterministic scramble, split across two files)
    must produce IDENTICAL shuffle output — the whole point of a seeded
    permutation is independence from scan order and partitioning."""
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        dp13_reproducible_shuffle,
    )

    ids = list(range(200))
    rows = [(i, f"doc {i}", "en", "s", 7) for i in ids]
    cols = ["doc_id", "text", "lang", "source", "n_chars"]

    a = tmp_path / "ordered"
    a.mkdir()
    pd.DataFrame(rows, columns=cols).to_parquet(str(a / "documents.parquet"))

    b = tmp_path / "scrambled"
    (b / "documents.parquet").mkdir(parents=True)
    scrambled = sorted(rows, key=lambda r: (r[0] * 48271) % 65537)
    pd.DataFrame(scrambled[:97], columns=cols).to_parquet(
        str(b / "documents.parquet" / "part-0.parquet")
    )
    pd.DataFrame(scrambled[97:], columns=cols).to_parquet(
        str(b / "documents.parquet" / "part-1.parquet")
    )

    key = lambda r: r.shard  # noqa: E731
    ra = sorted(dp13_reproducible_shuffle(spark, str(a)).collect(), key=key)
    rb = sorted(dp13_reproducible_shuffle(spark, str(b)).collect(), key=key)
    assert ra == rb and len(ra) > 0


def test_dp13_empty_corpus_stable_schema(spark, tmp_path):
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        dp13_reproducible_shuffle,
    )

    pd.DataFrame(
        [], columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).astype(
        {"doc_id": "int64", "text": "str", "lang": "str", "source": "str",
         "n_chars": "int64"}
    ).to_parquet(str(tmp_path / "documents.parquet"))
    df = dp13_reproducible_shuffle(spark, str(tmp_path))
    assert df.columns == ["shard", "n_docs", "first_doc", "order_fingerprint"]
    assert df.count() == 0


def test_dp12_empty_text_doc_same_tier_on_both_engines(spark, tmp_path):
    """An empty-text doc exercises the tier expression's division terms:
    token_count('') is 1 by construction in the shared text helpers (no
    0/0 path exists), so both engines must agree on its tier — pinned
    here so a future text-helper change that reintroduces a zero token
    count (NaN score -> NULL tier on Spark, CAST error on DuckDB) fails
    loudly."""
    import duckdb
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        dp12_quality_weighted_sample,
    )
    from iot_big_data_engineering_spark.registry import all_queries

    df = pd.DataFrame(
        [(1, "", "en", "s", 0), (2, "ok words here", "en", "s", 13)],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    df.to_parquet(str(tmp_path / "documents.parquet"))
    got = sorted(
        (r.q10, r.n_docs)
        for r in dp12_quality_weighted_sample(spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.register("documents", df)
    duck = sorted(
        (r[0], r[2])
        for r in con.execute(
            all_queries()["dp12_quality_weighted_sample"].oracle
        ).fetchall()
    )
    assert got == duck == [(3, 1), (4, 1)]


def test_dp14_matches_python_bigint_replay(spark, tmp_path):
    """Two hand-built sources; weights, the overflow-decomposed integer
    targets, and the hash-order prefix picks are replayed exactly in
    Python big-int arithmetic and compared whole-row."""
    import math

    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        dp14_temperature_mix,
    )

    # token count == word count for simple space-joined words
    docs = [(i, " ".join(["w"] * (5 + i % 7)), "A" if i % 3 else "B")
            for i in range(60)]
    pd.DataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in docs],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(str(tmp_path / "documents.parquet"))

    tok = {i: 5 + i % 7 for i, _, _ in docs}
    src = {i: s for i, _, s in docs}
    avail = {}
    for i in tok:
        avail[src[i]] = avail.get(src[i], 0) + tok[i]
    w = {s: math.isqrt(v) for s, v in avail.items()}
    sw, b = sum(w.values()), sum(avail.values()) // 2
    target = {
        s: min(avail[s], (b // sw) * w[s] + ((b % sw) * w[s]) // sw)
        for s in avail
    }

    def h(i):
        return (i * 2654435761) % (2**32)

    expected = {}
    for s in avail:
        members = sorted((i for i in tok if src[i] == s),
                         key=lambda i: (h(i), i))
        cum, nd, nt = 0, 0, 0
        for i in members:
            if cum < target[s]:
                nd, nt = nd + 1, nt + tok[i]
            cum += tok[i]
        expected[s] = (avail[s], w[s], target[s], nd, nt)

    got = {
        r.source: (r.avail_tokens, r.weight, r.target_tokens,
                   r.picked_docs, r.picked_tokens)
        for r in dp14_temperature_mix(spark, str(tmp_path)).collect()
    }
    assert got == expected


def test_dp14_allocation_invariants_real_corpus(spark):
    """On the real corpus: target <= avail always; the greedy prefix
    reaches its target (picked_tokens >= target) whenever target > 0;
    and the total allocation stays within budget + one weight-rounding
    unit per source."""
    from iot_big_data_engineering_spark.operators.textstats import (
        dp14_temperature_mix,
    )

    from .conftest import SF_SMOKE

    rows = dp14_temperature_mix(spark, SF_SMOKE).collect()
    assert rows
    total_avail = sum(r.avail_tokens for r in rows)
    b = total_avail // 2
    assert sum(r.target_tokens for r in rows) <= b + len(rows)
    for r in rows:
        assert r.target_tokens <= r.avail_tokens
        if r.target_tokens > 0:
            assert r.picked_tokens >= r.target_tokens
            assert r.picked_docs >= 1


def test_dp14_empty_corpus_stable_schema(spark, tmp_path):
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        dp14_temperature_mix,
    )

    pd.DataFrame(
        [], columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).astype(
        {"doc_id": "int64", "text": "str", "lang": "str", "source": "str",
         "n_chars": "int64"}
    ).to_parquet(str(tmp_path / "documents.parquet"))
    df = dp14_temperature_mix(spark, str(tmp_path))
    assert df.columns == ["source", "avail_tokens", "weight",
                          "target_tokens", "picked_docs", "picked_tokens"]
    assert df.count() == 0


def test_dp11_one_sided_split_emits_both_rows(spark, tmp_path):
    """A corpus whose every doc hashes into the train side must still
    report BOTH split rows (eval with zero counts), exactly as the
    oracle's scalar-subquery counts do — a bare groupBy drops the empty
    side and fails the driver's row-count gate (r8 review finding,
    reproduced empirically before the fix)."""
    import duckdb
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        _DP9_TRAIN_CUT,
        dp11_split_decontamination,
    )
    from iot_big_data_engineering_spark.registry import all_queries

    train_ids = [
        i for i in range(500)
        if (i * 2654435761) % (2**32) < _DP9_TRAIN_CUT
    ][:4]
    assert len(train_ids) == 4
    df = pd.DataFrame(
        [(i, f"t{i} a b c d e f g h", "en", "s", 20) for i in train_ids],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    df.to_parquet(str(tmp_path / "documents.parquet"))

    got = {
        r.split: r
        for r in dp11_split_decontamination(spark, str(tmp_path)).collect()
    }
    assert set(got) == {"train", "eval"}
    assert got["eval"].n_docs_before == 0
    assert got["eval"].n_docs_after == 0
    assert got["train"].n_docs_before == 4
    assert got["train"].n_removed == 0  # nothing to leak into
    assert got["train"].clean_no_overlap

    con = duckdb.connect()
    con.register("documents", df)
    duck = {
        r[0]: r
        for r in con.execute(
            all_queries()["dp11_split_decontamination"].oracle
        ).fetchall()
    }
    assert set(duck) == set(got)
    for k in got:
        assert (got[k].n_docs_before, got[k].n_docs_after,
                got[k].n_removed, got[k].clean_no_overlap) == duck[k][1:]


def test_t15_coverage_hand_case_with_boundary_tie(spark, tmp_path):
    """Known term frequencies with a TIE at the k=1 boundary ('zz' and
    'aa' both x3): the (cnt DESC, term ASC) cut must pick 'aa' on both
    engines; coverages are exact small-integer ratios."""
    import duckdb
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        t15_vocab_coverage,
    )
    from iot_big_data_engineering_spark.registry import all_queries

    # zz x3, aa x3, bb x2, cc x1, dd x1  -> total 10
    text = "zz zz zz aa aa aa bb bb cc dd"
    df = pd.DataFrame(
        [(0, text, "en", "s", len(text))],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    df.to_parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.vocab_k: r for r in t15_vocab_coverage(spark, str(tmp_path)).collect()
    }
    assert got[1].covered_tokens == 3  # 'aa' wins the tie, not 'zz'
    assert got[1].coverage == 0.3
    assert got[5].covered_tokens == 10 and got[5].coverage == 1.0
    assert got[10000].coverage == 1.0

    con = duckdb.connect()
    con.register("documents", df)
    duck = {
        r[0]: r
        for r in con.execute(
            all_queries()["t15_vocab_coverage"].oracle
        ).fetchall()
    }
    for k, r in got.items():
        assert (r.covered_tokens, r.total_tokens, r.coverage) == duck[k][1:], k


def test_t15_empty_corpus_null_coverage(spark, tmp_path):
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        _T15_KS,
        t15_vocab_coverage,
    )

    pd.DataFrame(
        [], columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).astype(
        {"doc_id": "int64", "text": "str", "lang": "str", "source": "str",
         "n_chars": "int64"}
    ).to_parquet(str(tmp_path / "documents.parquet"))
    rows = t15_vocab_coverage(spark, str(tmp_path)).collect()
    assert sorted(r.vocab_k for r in rows) == sorted(_T15_KS)
    for r in rows:
        assert r.covered_tokens == 0 and r.total_tokens == 0
        assert r.coverage is None


def test_dp11_broadcast_gate(spark):
    """bcast_max=0 must drop the broadcast hint on BOTH eval-gram joins
    (no ResolvedHint in the analyzed plan) and still produce identical
    rows — the dp10-pattern runtime fallback the r8 advice asked dp11 to
    adopt (eval here is a hash slice of the corpus, so the eval-gram
    relation is NOT bounded by design on gate data)."""
    from iot_big_data_engineering_spark.operators.textstats import (
        _DP9_TRAIN_CUT,
        split_decontamination,
    )

    def is_train(doc_id: int) -> bool:
        return (doc_id * 2654435761) % (2**32) < _DP9_TRAIN_CUT

    train_ids = [i for i in range(100) if is_train(i)][:2]
    eval_ids = [i for i in range(100) if not is_train(i)][:1]
    leak = "l1 l2 l3 l4 l5 l6 l7 l8"
    rows = [
        (train_ids[0], f"prefix {leak} suffix tail pad pad2 pad3"),
        (train_ids[1], "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
        (eval_ids[0], f"{leak} e9 e10 e11"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    # the eval joins are materialized EAGERLY inside dp11 (the counts
    # drive the report), so the gate is plan-asserted on the helper both
    # joins build against, and the wiring on end-to-end value equality
    from iot_big_data_engineering_spark.operators.textstats import (
        _dp11_gated_eval_side,
    )

    eg = spark.createDataFrame([("g1",), ("g2",)], "gram string")
    probe = spark.createDataFrame([("g1", 1)], "gram string, doc_id long")
    hinted_join = probe.join(_dp11_gated_eval_side(eg, 2, 10), "gram")
    gated_join = probe.join(_dp11_gated_eval_side(eg, 2, 0), "gram")
    assert (
        "ResolvedHint"
        in hinted_join._jdf.queryExecution().analyzed().toString()
    )
    assert (
        "ResolvedHint"
        not in gated_join._jdf.queryExecution().analyzed().toString()
    )
    key = ["split", "n_docs_before", "n_docs_after", "n_removed",
           "clean_no_overlap"]
    hinted = split_decontamination(d)
    gated = split_decontamination(d, bcast_max=0)
    assert sorted(map(tuple, hinted.select(*key).collect())) == sorted(
        map(tuple, gated.select(*key).collect())
    )


# ---------------------------------------------------------------------------
# dp15 bigram-LM screen (round-9 addition)
# ---------------------------------------------------------------------------
def test_dp15_hand_case_rare_threshold_and_unk(spark):
    """Tiny vocabulary (v=2) by hand: tokens x, y survive, everything
    else pools into '<unk>'. Corpus: 'x y' repeated 150x in doc 1 (its
    transitions are COMMON), doc 2 is 'x q' (q -> '<unk>', and the
    smoothed p(<unk>|x) is far below 1/theta -> rare), doc 3 is a
    single token (no bigram -> absent from the report)."""
    from iot_big_data_engineering_spark.operators.textstats import (
        bigram_lm_screen,
    )

    d = spark.createDataFrame(
        [
            (1, "en", " ".join(["x y"] * 150)),
            (2, "en", "x q"),
            (3, "en", "solo"),
        ],
        "doc_id long, lang string, text string",
    )
    rows = {r.doc_id: r for r in bigram_lm_screen(d, v=2, theta=100).collect()}
    assert set(rows) == {1, 2}
    # doc 1: bigrams (x,y) x150 + (y,x) x149; c1(x)=151, c1(y)=149.
    # (x,y): (150+1)*100 = 15100 >= 151+3 -> common; (y,x): same -> 0 ppm
    assert rows[1].n_bigrams == 299
    assert rows[1].n_rare == 0 and rows[1].rare_ppm == 0
    # doc 2: one bigram (x,<unk>), c12=1, c1(x)=151:
    # (1+1)*100 = 200 >= 151+3 = 154 -> NOT rare?! -> recompute:
    # threshold is (c12+1)*theta < (c1 + v + 1); 200 < 154 is false ->
    # common. The doc is still reported with 0 rare.
    assert rows[2].n_bigrams == 1
    assert rows[2].rare_ppm in (0, 1_000_000)
    # cross-engine: replay the exact integer rule in Python
    expected_rare = (1 + 1) * 100 < (151 + 2 + 1)
    assert (rows[2].n_rare == 1) == expected_rare


def test_dp15_rare_transition_detected(spark):
    """A genuinely rare transition inside a large-context corpus: 'a b'
    dominates (c1(a) huge), a single 'a z' bigram must flag rare —
    (1+1)*theta < c1(a) + v + 1 once c1(a) > 2*theta - v - 1."""
    from iot_big_data_engineering_spark.operators.textstats import (
        bigram_lm_screen,
    )

    # c1(a) = 300 from 'a b' x300, plus 1 from 'a z' = 301
    # rare iff 200 < 301 + 3 -> True with v=2, theta=100
    docs = [(i, "en", "a b") for i in range(300)] + [(999, "en", "a z")]
    d = spark.createDataFrame(docs, "doc_id long, lang string, text string")
    rows = {r.doc_id: r for r in bigram_lm_screen(d, v=2, theta=100).collect()}
    assert rows[999].n_rare == 1 and rows[999].rare_ppm == 1_000_000
    # the report is worst-first: doc 999 leads
    ordered = bigram_lm_screen(d, v=2, theta=100).collect()
    assert ordered[0].doc_id == 999


def test_dp15_empty_corpus_stable_schema(spark, tmp_path):
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        dp15_bigram_lm_screen,
    )

    pd.DataFrame(
        [], columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).astype(
        {"doc_id": "int64", "text": "str", "lang": "str", "source": "str",
         "n_chars": "int64"}
    ).to_parquet(str(tmp_path / "documents.parquet"))
    df = dp15_bigram_lm_screen(spark, str(tmp_path))
    assert df.columns == ["doc_id", "lang", "n_bigrams", "n_rare", "rare_ppm"]
    assert df.count() == 0


# ---------------------------------------------------------------------------
# t16 script-mix profile (round-9 addition)
# ---------------------------------------------------------------------------
def test_t16_hand_counts(spark, tmp_path):
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        t16_script_mix,
    )

    rows = [
        (1, "en", "ab 12"),          # 2 letter, 2 digit, 1 space, 0 other
        (2, "en", "a!!!!"),          # 1 letter, 4 other -> mixed (4*5>5)
        (3, "fr", ""),               # empty doc
    ]
    pd.DataFrame(rows, columns=["doc_id", "lang", "text"]).assign(
        source="s", n_chars=5
    ).to_parquet(str(tmp_path / "documents.parquet"))
    got = {r.lang: r for r in t16_script_mix(spark, str(tmp_path)).collect()}
    en = got["en"]
    assert (en.n_docs, en.total_chars) == (2, 10)
    assert (en.letter_chars, en.digit_chars, en.space_chars,
            en.other_chars) == (3, 2, 1, 4)
    assert en.mixed_docs == 1
    assert en.letter_ratio == 0.3 and en.other_ratio == 0.4
    fr = got["fr"]
    assert (fr.n_docs, fr.total_chars, fr.mixed_docs) == (1, 0, 0)
    assert fr.letter_ratio is None and fr.other_ratio is None


def test_t16_matches_oracle_on_edge_corpus(spark, tmp_path):
    """Whitespace classes (tab/newline/CR) and non-ASCII chars must
    count identically on both engines — the exact regex-semantics
    boundary the operator's class choice is scoped to."""
    import duckdb
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        t16_script_mix,
    )
    from iot_big_data_engineering_spark.registry import all_queries

    rows = [
        (1, "en", "a\tb\nc\rd e"),
        (2, "de", "Grüße 123 — ok"),
        (3, "en", "no4spaces"),
    ]
    df = pd.DataFrame(rows, columns=["doc_id", "lang", "text"]).assign(
        source="s", n_chars=9
    )
    df.to_parquet(str(tmp_path / "documents.parquet"))
    sp = sorted(
        map(tuple, t16_script_mix(spark, str(tmp_path)).collect())
    )
    con = duckdb.connect()
    con.register("documents", df)
    du = sorted(map(tuple, con.execute(
        all_queries()["t16_script_mix"].oracle
    ).fetchall()))
    assert sp == du


def test_t16_all_null_text_lang_group_matches_oracle(spark, tmp_path):
    """A lang group whose docs are ALL NULL-text must emit mixed_docs=0
    on BOTH engines — Spark's sum over all-NULL cast booleans yields
    NULL while the oracle's CASE ... ELSE 0 sums to 0 (r9 code-review,
    reproduced; fixed with a per-row coalesce)."""
    import duckdb
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        t16_script_mix,
    )
    from iot_big_data_engineering_spark.registry import all_queries

    df = pd.DataFrame(
        [(1, None, "xx"), (2, "ab 12", "en")],
        columns=["doc_id", "text", "lang"],
    ).assign(source="s", n_chars=5)
    df.to_parquet(str(tmp_path / "documents.parquet"))
    sp = sorted(map(tuple, t16_script_mix(spark, str(tmp_path)).collect()))
    con = duckdb.connect()
    con.register("documents", df)
    du = sorted(map(tuple, con.execute(
        all_queries()["t16_script_mix"].oracle
    ).fetchall()))
    assert sp == du
    xx = next(r for r in sp if r[0] == "xx")
    assert xx[7] == 0  # mixed_docs: 0, not NULL


# ---------------------------------------------------------------------------
# t17 collocations: hand corpus through the support floor + exact PMI
# ---------------------------------------------------------------------------
def test_t17_hand_case_support_floor_and_pmi(spark):
    import math

    from iot_big_data_engineering_spark.operators.textstats import (
        collocations_pmi,
    )

    # "a b" ×5 (meets the floor), "a c" ×4 (below), "b a" ×1
    docs = [(0, " ".join(["a b"] * 5 + ["a c"] * 4)), (1, "b a")]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    rows = collocations_pmi(d, min_support=5, topn=10).collect()
    got = {(r.w1, r.w2): r for r in rows}
    # unigrams: "a b"×5 = a,b ×5; "a c"×4 = a,c ×4; doc1 = b,a
    #   → a:10, b:6, c:4 → N1 = 20
    # bigrams (within-doc adjacency across the repeated pairs):
    # doc0 seq a b a b a b a b a b a c a c a c a c → 17 bigrams:
    #   (a,b)×5 (b,a)×5 (a,c)×4 (c,a)×3 ; doc1: (b,a)×1 → N2 = 18
    # floor 5 keeps (a,b)×5 and (b,a)×6; kills (a,c)×4, (c,a)×3
    assert set(got) == {("a", "b"), ("b", "a")}
    r = got[("a", "b")]
    assert r.pair_count == 5
    assert got[("b", "a")].pair_count == 6
    exp = math.log((5 * 20 * 20) / (18 * 10 * 6))
    assert abs(r.pmi - round(math.floor(exp * 1e6 + 0.5) / 1e6, 6)) < 1e-12


def test_t17_support_floor_keeps_ba(spark):
    from iot_big_data_engineering_spark.operators.textstats import (
        collocations_pmi,
    )

    docs = [(0, " ".join(["a b"] * 5 + ["a c"] * 4)), (1, "b a")]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    rows = collocations_pmi(d, min_support=4, topn=10).collect()
    pairs = {(r.w1, r.w2) for r in rows}
    assert pairs == {("a", "b"), ("b", "a"), ("a", "c")}


def test_t17_empty_and_null_text_stable(spark):
    from iot_big_data_engineering_spark.operators.textstats import (
        collocations_pmi,
    )

    d = spark.createDataFrame(
        [(0, ""), (1, None), (2, "x")], "doc_id long, text string"
    )
    rows = collocations_pmi(d, min_support=1, topn=10).collect()
    assert rows == []


def _assert_rank_equiv(ids_got, scored, topn):
    """Shared rank-equivalence certificate for the log-space twins
    (t17b/j23b, VERDICT r9 Next #5). ``scored``: {id: (key, ratio)}
    over the full counted relation using the QUERY'S OWN Spark-computed
    6-dp key plus the exact Python-Fraction ratio.

    1. strict: the returned order IS sort-by(-key, id) of the counted
       relation — rank faithfully reflects the log-space ordering;
    2. equivalence: any inversion vs the exact-ratio order happens only
       within a key tie (the quantized log score cannot distinguish the
       two), and tied keys always carry ratios whose logs differ by
       < 2e-6 — i.e. the log rank equals the exact rank except for
       sub-quantum near-ties.
    """
    import math

    expect = sorted(scored, key=lambda i: (-scored[i][0], i))[:topn]
    assert ids_got == expect, "rank does not reflect the log-space key order"
    for (ia, ib) in zip(ids_got, ids_got[1:]):
        (ka, ra), (kb, rb) = scored[ia], scored[ib]
        assert ka >= kb
        if ra < rb:  # inversion vs the exact-ratio order
            assert ka == kb, (ia, ib)
        if ka == kb and ra != rb:
            assert abs(math.log(ra / rb)) < 2e-6, (ia, ib)


def _assert_boundary_margin(raws, margin=1e-7):
    """Cross-engine rank stability certificate (round-10 review finding
    #2): fround(x, 6) is bit-identical only on bit-identical x, but the
    twins' x is a sum of ln() outputs from two different libms. A flip
    needs x·10⁶ + 0.5 within ~libm-spread (≲1e-8) of an integer; this
    asserts every counted pair on current data clears a 10× wider
    margin, so the 6-dp keys — and therefore the hashed ranks — are
    provably identical across engines. Loud on regeneration if the new
    data lands a score on a boundary."""
    for rid, x in raws.items():
        d = (x * 1e6 + 0.5) % 1.0
        d = min(d, 1.0 - d)
        assert d > margin, (rid, x, d)


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_CORRECT])
def test_t17b_log_rank_equals_exact_ratio_rank(spark, sf_dir):
    """t17b's compared surface is the RANK the five-term ln sum induces;
    this certifies it against the overflow-prone exact form it replaces
    (VERDICT r9 Next #5), with the exact side computed in Python
    Fraction — no float anywhere — at both gate SFs."""
    from fractions import Fraction

    from iot_big_data_engineering_spark.operators.dedup import _docs_par
    from iot_big_data_engineering_spark.operators.textstats import (
        _T17_MIN_SUPPORT,
        _T17_TOPN,
        _pmi_counted,
        _t17b_key,
        collocations_pmi_log,
    )

    counted = (
        _pmi_counted(_docs_par(spark, sf_dir), _T17_MIN_SUPPORT)
        .withColumn("k", _t17b_key())
        .collect()
    )
    scored = {
        (r.w1, r.w2): (
            r.k,
            Fraction(r.pair_count * r.n1 * r.n1, r.n2 * r.c_w1 * r.c_w2),
        )
        for r in counted
    }
    got = (
        collocations_pmi_log(_docs_par(spark, sf_dir))
        .orderBy("rank")
        .collect()
    )
    assert [r.rank for r in got] == list(range(1, len(got) + 1))
    _assert_rank_equiv([(r.w1, r.w2) for r in got], scored, _T17_TOPN)
    import math

    _assert_boundary_margin(
        {
            (r.w1, r.w2): (
                (
                    (
                        (math.log(r.pair_count) + math.log(r.n1))
                        + math.log(r.n1)
                    )
                    - math.log(r.n2)
                )
                - math.log(r.c_w1)
            )
            - math.log(r.c_w2)
            for r in counted
        }
    )


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_CORRECT])
def test_j23b_log_rank_equals_exact_ratio_rank(spark, sf_dir):
    """j23b's log-lift ordering vs the exact rational pair_n·N/(c1·c2)
    (Python Fraction), at both gate SFs — t17b's certificate for the
    basket domain, where equal-ratio key ties genuinely occur."""
    from fractions import Fraction

    from iot_big_data_engineering_spark.operators.joins import (
        _J23_ITEM_SUPPORT,
        _J23_PAIR_SUPPORT,
        _J23_TOPN,
        _frequent_pair_counts,
        _j23b_key,
        frequent_pairs_log,
    )
    from iot_big_data_engineering_spark.sources.tables import load_table

    l = load_table(spark, sf_dir, "lineitem")
    counted = (
        _frequent_pair_counts(l, _J23_ITEM_SUPPORT, _J23_PAIR_SUPPORT)
        .withColumn("k", _j23b_key())
        .collect()
    )
    scored = {
        (r.p1, r.p2): (r.k, Fraction(r.pair_n * r.n, r.c1 * r.c2))
        for r in counted
    }
    got = frequent_pairs_log(l).orderBy("rank").collect()
    assert [r.rank for r in got] == list(range(1, len(got) + 1))
    _assert_rank_equiv([(r.p1, r.p2) for r in got], scored, _J23_TOPN)
    import math

    _assert_boundary_margin(
        {
            (r.p1, r.p2): (
                (math.log(r.pair_n) + math.log(r.n)) - math.log(r.c1)
            )
            - math.log(r.c2)
            for r in counted
        }
    )


# ---------------------------------------------------------------------------
# t18 BM25: pure-Python replay on a hand corpus + edge cases
# ---------------------------------------------------------------------------
def test_t18_matches_python_replay(spark):
    import math

    from iot_big_data_engineering_spark.operators.textstats import bm25_topk

    corpus = {
        0: "spark join spark filter table",
        1: "join stream join join",
        2: "table scan filter",
        3: "stream",
        4: "spark spark spark spark spark spark",
    }
    terms = ["spark", "join", "stream"]
    d = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    got = {r.doc_id: r for r in bm25_topk(d, topn=10).collect()}

    toks = {i: t.split() for i, t in corpus.items()}
    n = len(corpus)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    exp = {}
    for i, v in toks.items():
        s_parts = []
        for t in terms:
            tf = v.count(t)
            if tf == 0:
                s_parts.append(0.0)
                continue
            idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            s_parts.append(
                idf * (tf * 2.2)
                / (tf + 1.2 * (0.25 + (0.75 * len(v)) / avgdl))
            )
        total = s_parts[0] + s_parts[1] + s_parts[2]
        if total > 0:
            exp[i] = math.floor(total * 1e6 + 0.5) / 1e6
    assert set(got) == set(exp)
    for i, e in exp.items():
        assert got[i].bm25 == e, (i, got[i].bm25, e)
    assert got[0].n_hit_terms == 2 and got[3].n_hit_terms == 1


def test_t18_no_hits_and_null_text(spark):
    from iot_big_data_engineering_spark.operators.textstats import bm25_topk

    d = spark.createDataFrame(
        [(0, "table scan"), (1, None), (2, "")], "doc_id long, text string"
    )
    assert bm25_topk(d, topn=10).collect() == []


def test_t18_requires_three_terms(spark):
    import pytest as _pytest

    from iot_big_data_engineering_spark.operators.textstats import bm25_topk

    d = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        bm25_topk(d, terms=["a", "b"])
    # a duplicated term would double-count in the positional pivot sum
    with _pytest.raises(ValueError):
        bm25_topk(d, terms=["a", "a", "b"])


# ---------------------------------------------------------------------------
# dp16 dataset card: hand corpus through dup/null/lang/quality edges
# ---------------------------------------------------------------------------
def test_dp16_hand_card(spark):
    from iot_big_data_engineering_spark.operators.textstats import (
        dataset_card,
    )

    # quality = 0.4·min(tok/200,1) + 0.3·(1-sw/tok) + 0.3·min(avg_len/8,1):
    # 240 non-stopword tokens of avg length 4.75 → 0.4 + 0.3 + 0.178 ≈ 0.88
    hq = ("alpha beta gamma delta " * 60).strip()
    rows = [
        ("s1", "en", "dup dup dup"),
        ("s1", "en", "dup dup dup"),   # exact duplicate
        ("s1", "de", "unique text here"),
        ("s1", "en", None),            # null text
        ("s2", "fr", hq),
    ]
    d = spark.createDataFrame(rows, "source string, lang string, text string")
    got = {r.source: r for r in dataset_card(d).collect()}
    s1 = got["s1"]
    assert (s1.doc_count, s1.null_text_docs) == (4, 1)
    assert s1.distinct_texts == 2
    # 3 non-null docs, 2 distinct → 1 dup → 333333 ppm
    assert s1.exact_dup_ppm == 333333
    assert s1.n_langs == 2
    assert (s1.top_lang, s1.top_lang_docs) == ("en", 3)  # ties? en=3 > de=1
    assert s1.token_sum == 3 + 3 + 3  # 3 docs × 3 tokens
    s2 = got["s2"]
    assert s2.high_quality_docs == 1
    assert s2.exact_dup_ppm == 0
    assert s1.token_share_ppm + s2.token_share_ppm <= 1_000_000
    total = s1.token_sum + s2.token_sum
    assert s1.token_share_ppm == s1.token_sum * 1_000_000 // total


def test_dp16_all_null_text_source_reported(spark):
    """A source whose documents are ALL NULL-text must appear on the
    card with zeroed text counters — the r9 ADVICE fix: the old inner
    join on the distinct-texts leg dropped exactly the most degenerate
    source, reading as 'source absent' instead of 'source
    pathological'."""
    from iot_big_data_engineering_spark.operators.textstats import (
        dataset_card,
    )

    rows = [
        ("bad", "en", None),
        ("bad", "en", None),
        ("bad", None, None),
        ("ok", "en", "some real text here"),
    ]
    d = spark.createDataFrame(rows, "source string, lang string, text string")
    got = {r.source: r for r in dataset_card(d).collect()}
    assert set(got) == {"bad", "ok"}, "all-NULL source dropped from card"
    bad = got["bad"]
    assert (bad.doc_count, bad.null_text_docs) == (3, 3)
    assert bad.distinct_texts == 0
    assert bad.exact_dup_ppm == 0  # guarded division, not NULL/error
    assert bad.token_sum == 0  # coalesced, not NULL
    assert bad.token_share_ppm == 0
    assert (bad.top_lang, bad.top_lang_docs) == ("en", 2)
    assert got["ok"].token_share_ppm == 1_000_000


def test_dp16_plan_no_expand(spark):
    """The distinct-text leg must use the two-level aggregate, never a
    countDistinct Expand (dq6's lesson)."""
    from iot_big_data_engineering_spark.operators.textstats import (
        dp16_dataset_card,
    )

    from iot_big_data_engineering_spark.plans.checks import plan_str

    from .conftest import SF_SMOKE

    p = plan_str(dp16_dataset_card(spark, SF_SMOKE))
    assert "Expand" not in p, p


# ---------------------------------------------------------------------------
# dp17 DSIR: pure-Python replay of the hashed-bucket importance weights
# ---------------------------------------------------------------------------
def _py_fp(s: str) -> int:
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % 1_000_000_007
    return h


def test_dp17_matches_python_replay(spark):
    import math

    from iot_big_data_engineering_spark.operators.textstats import (
        _DP17_B,
        dsir_importance,
    )

    corpus = [
        (0, "en", "alpha beta alpha gamma"),
        (1, "en", "beta beta delta"),
        (2, "de", "alpha zeta zeta zeta"),
        (3, "de", "omega"),
    ]
    d = spark.createDataFrame(corpus, "doc_id long, lang string, text string")
    got = {r.doc_id: r for r in dsir_importance(d, topn=10).collect()}

    buckets = {}
    for _, lang, text in corpus:
        for w in text.split():
            buckets.setdefault(w, _py_fp(w) % _DP17_B)
    ct, cr = {}, {}
    nt = nr = 0
    for _, lang, text in corpus:
        for w in text.split():
            b = buckets[w]
            cr[b] = cr.get(b, 0) + 1
            nr += 1
            if lang == "en":
                ct[b] = ct.get(b, 0) + 1
                nt += 1
    exp = {}
    for doc_id, lang, text in corpus:
        per = {}
        for w in text.split():
            per[buckets[w]] = per.get(buckets[w], 0) + 1
        acc = 0.0
        for b in sorted(per):  # the ordered fold
            acc += per[b] * (
                math.log((ct.get(b, 0) + 1) / (nt + _DP17_B))
                - math.log((cr[b] + 1) / (nr + _DP17_B))
            )
        exp[doc_id] = (sum(per.values()), math.floor(acc * 1e6 + 0.5) / 1e6)
    assert set(got) == set(exp)
    for doc_id, (n_tok, w) in exp.items():
        assert got[doc_id].n_tokens == n_tok
        assert got[doc_id].dsir_logweight == w, (
            doc_id, got[doc_id].dsir_logweight, w
        )
    # directional sanity: target-slice docs outweigh off-target docs
    assert got[0].dsir_logweight > got[3].dsir_logweight


def test_dp17_no_target_slice_still_defined(spark):
    """With an empty target slice every bucket smooths to 1/(0+B): the
    weights stay finite and defined (Laplace smoothing's job)."""
    from iot_big_data_engineering_spark.operators.textstats import (
        dsir_importance,
    )

    d = spark.createDataFrame(
        [(0, "de", "a b"), (1, "fr", "c")], "doc_id long, lang string, text string"
    )
    rows = dsir_importance(d, topn=10).collect()
    assert len(rows) == 2
    assert all(r.dsir_logweight is not None for r in rows)


def test_dp16_null_lang_tie_breaks_nulls_last(spark):
    """A NULL lang tying the top count must lose the tiebreak on BOTH
    engines (Spark asc_nulls_last ≡ DuckDB default NULLS LAST)."""
    from iot_big_data_engineering_spark.operators.textstats import (
        dataset_card,
    )

    rows = [
        ("s1", None, "one doc"),
        ("s1", "zz", "other doc"),
    ]
    d = spark.createDataFrame(rows, "source string, lang string, text string")
    r = dataset_card(d).collect()[0]
    assert r.top_lang == "zz"
    assert r.n_langs == 2


def test_t17b_rank_equiv_on_random_corpora(spark):
    """The t17b rank-equivalence certificate on seeded RANDOM corpora,
    not just gate data: for each trial, the returned rank must be the
    sort of the Spark-computed 6-dp keys, and any inversion vs the
    exact-Fraction ratio order must sit inside a key tie. Keys come
    from Spark itself (no Python-libm ln in the comparison), so the
    test cannot flake on cross-library ulps."""
    from fractions import Fraction

    import numpy as np

    from iot_big_data_engineering_spark.operators.textstats import (
        _pmi_counted,
        _t17b_key,
        collocations_pmi_log,
    )

    rng = np.random.default_rng(31)
    for trial in range(3):
        alphabet = [f"w{j}" for j in range(int(rng.integers(3, 8)))]
        docs = []
        for i in range(int(rng.integers(8, 25))):
            n = int(rng.integers(0, 14))
            docs.append(
                (i, " ".join(alphabet[int(rng.integers(0, len(alphabet)))]
                             for _ in range(n)))
            )
        support = int(rng.integers(1, 4))
        d = spark.createDataFrame(docs, "doc_id long, text string")
        counted = (
            _pmi_counted(d, support).withColumn("k", _t17b_key()).collect()
        )
        if not counted:
            continue
        scored = {
            (r.w1, r.w2): (
                r.k,
                Fraction(
                    r.pair_count * r.n1 * r.n1, r.n2 * r.c_w1 * r.c_w2
                ),
            )
            for r in counted
        }
        got = (
            collocations_pmi_log(d, min_support=support)
            .orderBy("rank")
            .collect()
        )
        _assert_rank_equiv([(r.w1, r.w2) for r in got], scored, 20)


def test_j23b_rank_equiv_on_random_baskets(spark):
    """j23b's certificate on seeded random order/part baskets — the
    domain where equal-ratio key ties are common (small integer
    counts), so the tie-collapse path is exercised heavily."""
    from fractions import Fraction

    import numpy as np

    from iot_big_data_engineering_spark.operators.joins import (
        _frequent_pair_counts,
        _j23b_key,
        frequent_pairs_log,
    )

    rng = np.random.default_rng(37)
    for trial in range(3):
        n_orders = int(rng.integers(6, 20))
        n_parts = int(rng.integers(3, 8))
        rows = []
        for o in range(n_orders):
            for p in rng.choice(
                n_parts, size=int(rng.integers(1, n_parts + 1)),
                replace=False,
            ):
                rows.append((o, int(p)))
        item_s = int(rng.integers(1, 4))
        pair_s = int(rng.integers(1, 3))
        l = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
        counted = (
            _frequent_pair_counts(l, item_s, pair_s)
            .withColumn("k", _j23b_key())
            .collect()
        )
        if not counted:
            continue
        scored = {
            (r.p1, r.p2): (r.k, Fraction(r.pair_n * r.n, r.c1 * r.c2))
            for r in counted
        }
        got = (
            frequent_pairs_log(
                l, item_support=item_s, pair_support=pair_s
            )
            .orderBy("rank")
            .collect()
        )
        _assert_rank_equiv([(r.p1, r.p2) for r in got], scored, 20)


# ---------------------------------------------------------------------------
# t8 ANSI fertility-division guard (round-13; queued by the r11 ANSI audit)
# ---------------------------------------------------------------------------
def test_t8_fertility_guard_zero_word_rows(spark):
    """Drive the ws_count == 0 branch of _fertility_ratio directly —
    unreachable through the text helpers today (token_count('') is 1 by
    construction), so this pins the guard against a helper change that
    reintroduces zero counts: under default-ANSI Spark 4 an unguarded
    bpe_count / ws_count would raise DIVIDE_BY_ZERO here."""
    from pyspark.sql import functions as F

    from iot_big_data_engineering_spark.operators.textstats import (
        _fertility_ratio,
    )

    df = spark.createDataFrame(
        [("a", 10, 5), ("a", 7, 0), ("b", 3, 0)],
        "grp string, bpe_count int, ws_count int",
    )
    rows = {
        r.grp: r.fertility
        for r in df.groupBy("grp")
        .agg(F.avg(_fertility_ratio()).alias("fertility"))
        .collect()
    }
    # zero-word row skipped from the mean; all-zero group -> NULL
    assert rows["a"] == 2.0
    assert rows["b"] is None


def test_t8_empty_and_null_text_cross_engine(spark, tmp_path):
    """Empty, whitespace-only, and NULL text documents through the full
    registered t8 form on both engines: empty/whitespace text tokenizes
    to [''] (count 1) in both, NULL text yields NULL counts skipped by
    avg() in both, and the guarded fertility CASE matches."""
    import duckdb
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        t8_bpe_token_stats,
    )
    from iot_big_data_engineering_spark.registry import all_queries

    df = pd.DataFrame(
        [
            (1, "hello world mix12", "en", "s", 17),
            (2, "", "en", "s", 0),
            (3, "   ", "en", "s", 3),
            (4, None, "en", "s", 0),
            (5, None, "fr", "s", 0),
        ],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    df.to_parquet(str(tmp_path / "documents.parquet"))
    sp = sorted(map(tuple, t8_bpe_token_stats(spark, str(tmp_path)).collect()))
    con = duckdb.connect()
    con.register("documents", df)
    du = sorted(
        map(tuple, con.execute(
            all_queries()["t8_bpe_token_stats"].oracle
        ).fetchall())
    )
    assert sp == du
    # the all-NULL-text group must survive with NULL aggregates, not drop
    assert any(r[0] == "fr" and r[6] is None for r in sp)


# ---------------------------------------------------------------------------
# dp18 PII redaction + t19 BPE merge step (round-13 library ops; r15
# registration candidates — oracle constants ready)
# ---------------------------------------------------------------------------
def test_dp18_hand_counts_and_sequential_semantics(spark, tmp_path):
    """Stage order is part of the semantics: the email inside a URL is
    masked by the EMAIL stage (it runs first), the digits-only id inside
    a URL is masked by the URL stage so the LONG_ID stage never sees it
    — neither double-counts."""
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        dp18_pii_redaction,
    )

    rows = [
        (1, "mail a@b.com or http://x.io/p?q=1 call 555-123-4567 id 1234567890"),
        (2, "http://a.com/999888777 plain 999888777"),
        (3, "nothing sensitive here"),
    ]
    pd.DataFrame(rows, columns=["doc_id", "text"]).assign(
        lang="en", source="s", n_chars=10
    ).to_parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r for r in dp18_pii_redaction(spark, str(tmp_path)).collect()}
    assert (got[1].emails, got[1].urls, got[1].phones, got[1].long_ids) == (
        1, 1, 1, 1,
    )
    # URL stage swallowed its embedded id; only the plain one remains
    assert (got[2].urls, got[2].long_ids) == (1, 1)
    assert (got[3].emails, got[3].urls, got[3].phones, got[3].long_ids) == (
        0, 0, 0, 0,
    )


def test_dp18_quote_bearing_stage_emits_valid_equivalent_sql(tmp_path):
    """A single quote in a stage pattern/replacement must NOT corrupt the
    single-quoted oracle literals (ADVICE r13 #1) — and must not raise at
    import either, which would take the whole operators package down with
    one bad stage (ADVICE r14 #1). The builder escapes by '' doubling at
    interpolation time; this pins that a quote-bearing stage round-trips
    through DuckDB with the quote treated as the literal regex char."""
    import duckdb
    import pandas as pd

    from iot_big_data_engineering_spark.operators import textstats as T

    saved = T._DP18_STAGES
    try:
        T._DP18_STAGES = [
            ("emails", "o'x", "<Q'R>"),
            ("urls", saved[1][1], saved[1][2]),
            ("phones", saved[2][1], saved[2][2]),
            ("long_ids", saved[3][1], saved[3][2]),
        ]
        sql = T._dp18_oracle()
        df = pd.DataFrame(
            {"doc_id": [1], "text": ["ao'x o'x plain"], "lang": ["en"]}
        )
        con = duckdb.connect()
        con.register("documents", df)
        row = con.execute(sql).fetchone()
        # both o'x occurrences matched and replaced with <Q'R>
        assert row[2] == 2
        assert row[7] == len("a<Q'R> <Q'R> plain")
    finally:
        T._DP18_STAGES = saved
    # the live stage set is quote-free, so escaping is a byte-level no-op
    assert T._dp18_oracle() == T._DP18_ORACLE


def test_dp18_matches_oracle_on_edge_corpus(spark, tmp_path):
    import duckdb
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        _DP18_ORACLE,
        dp18_pii_redaction,
    )

    rows = [
        (1, "a@b.com c@d.org http://x.io/a@b.com 555-123-4567", "en"),
        (2, "", "en"),
        (3, None, "fr"),
        (4, "ids 123456789 and 98765432100 over http://u.v/99", "de"),
    ]
    df = pd.DataFrame(rows, columns=["doc_id", "text", "lang"]).assign(
        source="s", n_chars=10
    )
    df.to_parquet(str(tmp_path / "documents.parquet"))
    sp = sorted(map(tuple, dp18_pii_redaction(spark, str(tmp_path)).collect()))
    con = duckdb.connect()
    con.register("documents", df)
    du = sorted(map(tuple, con.execute(_DP18_ORACLE).fetchall()))
    assert sp == du
    # NULL text flows through as NULL everywhere, never a crash or drop
    assert any(r[0] == 3 and r[6] is None for r in sp)


def test_t19_hand_counts(spark, tmp_path):
    """aba(×1) + ab(×2) → pair 'a b' weight 3, 'b a' weight 1; the
    1-char word, the non-alnum word and empty text are out of domain."""
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        t19_bpe_merge_step,
    )

    rows = [(1, "aba ab x a-b"), (2, "ab"), (3, "")]
    pd.DataFrame(rows, columns=["doc_id", "text"]).assign(
        lang="en", source="s", n_chars=10
    ).to_parquet(str(tmp_path / "documents.parquet"))
    got = [
        (r.pair, r.pair_count, r.merge_rank)
        for r in t19_bpe_merge_step(spark, str(tmp_path))
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == [("a b", 3, 1), ("b a", 1, 2)]


def test_t19_matches_oracle_on_gate_data(spark):
    import duckdb

    from iot_big_data_engineering_spark.operators.textstats import (
        _T19_ORACLE,
        t19_bpe_merge_step,
    )

    sp = sorted(map(tuple, t19_bpe_merge_step(spark, SF_SMOKE).collect()))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    du = sorted(map(tuple, con.execute(_T19_ORACLE).fetchall()))
    assert sp == du


def test_dp18_matches_oracle_on_gate_data(spark):
    import duckdb

    from iot_big_data_engineering_spark.operators.textstats import (
        _DP18_ORACLE,
        dp18_pii_redaction,
    )

    sp = sorted(map(tuple, dp18_pii_redaction(spark, SF_SMOKE).collect()))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    du = sorted(map(tuple, con.execute(_DP18_ORACLE).fetchall()))
    assert sp == du


# ---------------------------------------------------------------------------
# dp19 weighted reservoir
# ---------------------------------------------------------------------------
def test_dp19_salt_invariance_pins_two_stage_exactness(spark):
    """The header's load-bearing claim: the salted two-stage top-k is an
    OPTIMIZATION, never a semantics change — stage 1 can never evict a
    true global top-k member. Pin it by running the same corpus through
    salt widths 1 (single-stage), 8 (shipped), and 64 and demanding
    bit-identical outputs."""
    from iot_big_data_engineering_spark.operators.textstats import (
        _docs,
        weighted_reservoir,
    )

    docs = _docs(spark, SF_SMOKE)
    base = sorted(map(tuple, weighted_reservoir(docs, salt=1).collect()))
    for s in (8, 64):
        assert (
            sorted(map(tuple, weighted_reservoir(docs, salt=s).collect()))
            == base
        ), f"salt={s} changed the sample"
    # exactly k rows per source on gate data (every source has > k docs)
    from collections import Counter

    per_src = Counter(r[0] for r in base)
    assert all(v == 20 for v in per_src.values())


def test_dp19_matches_python_aes_replay_small_weights(spark, tmp_path):
    """Hand corpus with 1/2/3-token docs: replay A-ES in Python
    (u = (knuth+1)/2^32 exactly, key = u^(1/w) rounded half-up to 6 dp,
    rank by key desc then doc_id) and demand the same selection and
    ranks. Small weights keep keys far from the rounding grid so the
    replay is engine-stable."""
    import math

    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        dp19_weighted_reservoir,
    )

    texts = {1: "a", 2: "b b", 3: "c c c", 4: "d", 5: "e e e", 6: "f f"}
    rows = [
        (i, t, "en", "s%d" % (i % 2), len(t))
        for i, t in texts.items()
    ]
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(str(tmp_path / "documents.parquet"))

    def key(i: int) -> float:
        u = ((i * 2654435761) % 2**32 + 1) / 2**32
        w = len(texts[i].split())
        return math.floor(u ** (1.0 / w) * 1e6 + 0.5) / 1e6

    expect = []
    for src in ("s0", "s1"):
        members = [i for i in texts if "s%d" % (i % 2) == src]
        members.sort(key=lambda i: (-key(i), i))
        for rank, i in enumerate(members, 1):
            expect.append(
                (src, rank, i, len(texts[i].split()), key(i))
            )
    got = sorted(
        map(tuple, dp19_weighted_reservoir(spark, str(tmp_path)).collect())
    )
    assert got == sorted(expect)


def test_dp19_excludes_null_text_and_empty_corpus(spark, tmp_path):
    """w >= 1 is the domain gate: NULL text (NULL weight) never enters
    the draw — and the gate is what makes 1/w ANSI-safe. Empty corpus →
    empty result, schema pinned. (Empty-STRING text is not excluded —
    see test_dp19_empty_text_enters_with_weight_one.)"""
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        dp19_weighted_reservoir,
    )

    pd.DataFrame(
        [
            (1, "real words here", "en", "s", 15),
            (2, None, "en", "s", 0),
        ],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(str(tmp_path / "documents.parquet"))
    out = dp19_weighted_reservoir(spark, str(tmp_path)).collect()
    assert [r.doc_id for r in out] == [1]

    d2 = tmp_path / "empty"
    d2.mkdir()
    pd.DataFrame(
        [], columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).astype(
        {"doc_id": "int64", "text": "str", "lang": "str",
         "source": "str", "n_chars": "int64"}
    ).to_parquet(str(d2 / "documents.parquet"))
    df = dp19_weighted_reservoir(spark, str(d2))
    assert df.columns == [
        "source", "sel_rank", "doc_id", "token_count", "aes_key"
    ]
    assert df.count() == 0


def test_dp19_empty_text_enters_with_weight_one(spark, tmp_path):
    """ADVICE r15 #2, pinned: the shared whitespace tokenizer returns
    [''] for an empty (or whitespace-only) string on BOTH engines, so an
    empty-text doc has token_count = 1 and DOES enter the draw with
    weight 1 — the w >= 1 gate excludes only NULL text. Both engines
    must agree on the row and on its A-ES key (u^(1/1) = u)."""
    import duckdb
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        _DP19_ORACLE,
        dp19_weighted_reservoir,
    )

    pd.DataFrame(
        [
            (1, "real words here", "en", "s", 15),
            (2, "", "en", "s", 0),          # empty: weight 1
            (3, "   ", "en", "s", 3),       # whitespace-only: weight 1
            (4, None, "en", "s", 0),        # NULL: excluded
        ],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(str(tmp_path / "documents.parquet"))
    sp_rows = dp19_weighted_reservoir(spark, str(tmp_path)).collect()
    assert {r.doc_id for r in sp_rows} == {1, 2, 3}
    assert {
        r.doc_id: r.token_count for r in sp_rows
    }[2] == 1 and {r.doc_id: r.token_count for r in sp_rows}[3] == 1
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet'"
    )
    du = sorted(map(tuple, con.execute(_DP19_ORACLE).fetchall()))
    assert sorted(map(tuple, sp_rows)) == du


def test_dp19_matches_oracle_on_gate_data(spark):
    import duckdb

    from iot_big_data_engineering_spark.operators.textstats import (
        _DP19_ORACLE,
        dp19_weighted_reservoir,
    )

    sp = sorted(
        map(tuple, dp19_weighted_reservoir(spark, SF_SMOKE).collect())
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    du = sorted(map(tuple, con.execute(_DP19_ORACLE).fetchall()))
    assert sp == du


# ---------------------------------------------------------------------------
# t20 token entropy profile
# ---------------------------------------------------------------------------
def test_t20_closed_form_entropies(spark, tmp_path):
    """Hand corpus with analytically known entropies, computed through
    the SAME float expression shape (ln(n) − Σc·ln(c)/n, then the shared
    floor-half-up 6-dp rounding) so the expectation is bit-exact:
    uniform-one-token (H = 0, by convention norm = 0), uniform-distinct
    (H = ln n, norm = 1), half/half (H = ln 2), and a 3:1 skew. Empty
    and NULL text drop out (no non-empty token — the t10 convention)."""
    import math

    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        t20_token_entropy_profile,
    )

    def fr(x: float) -> float:
        return math.floor(x * 1e6 + 0.5) / 1e6

    texts = {
        1: "a a a a",   # n=4 d=1: H=0, norm=0, top=1
        2: "a b c d",   # n=4 d=4: H=ln4, norm=1, top=.25
        3: "a a b b",   # n=4 d=2: H=ln2, norm=1, top=.5
        4: "a a a b",   # n=4 d=2: H=ln4-(3ln3)/4, norm=H/ln2, top=.75
        5: "",          # excluded
        6: None,        # excluded
    }
    pd.DataFrame(
        [(i, t, "en", "s", len(t or "")) for i, t in texts.items()],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: tuple(r)[1:]
        for r in t20_token_entropy_profile(spark, str(tmp_path)).collect()
    }
    h4 = math.log(4.0) - (3.0 * math.log(3.0)) / 4.0
    assert got == {
        1: (4, 1, fr(math.log(4.0) - (4.0 * math.log(4.0)) / 4.0), 0.0, 1.0),
        2: (4, 4, fr(math.log(4.0)), fr(math.log(4.0) / math.log(4.0)), 0.25),
        3: (4, 2, fr(math.log(4.0) - (2 * (2.0 * math.log(2.0))) / 4.0),
            fr((math.log(4.0) - (2 * (2.0 * math.log(2.0))) / 4.0)
               / math.log(2.0)), 0.5),
        4: (4, 2, fr(h4), fr(h4 / math.log(2.0)), 0.75),
    }


def test_t20_concentration_is_not_repetition(spark):
    """The header's reason-to-exist: a doc that cycles five tokens
    uniformly has NO dominant bigram (t10's top_bigram_frac stays low)
    yet shows maximal concentration pressure in t20's signals as the
    cycle degenerates. Pin the separation on two hand docs."""
    from iot_big_data_engineering_spark.operators.textstats import (
        repetition_profile,
        token_entropy_profile,
    )

    docs = spark.createDataFrame(
        [
            (1, ("a b c d e " * 40).strip(), "en"),   # 5-token cycle
            (2, ("a " * 199 + "b").strip(), "en"),    # near-degenerate
        ],
        "doc_id long, text string, lang string",
    )
    ent = {r.doc_id: r for r in token_entropy_profile(docs).collect()}
    rep = {r.doc_id: r for r in repetition_profile(docs).collect()}
    # doc 1: every bigram in the cycle repeats equally -> repetitive by
    # t10's dup_bigram rule is fine, but its TOP-bigram share is tiny;
    # entropy sees a perfectly uniform 5-symbol law (norm = 1)
    assert rep[1].top_bigram_frac < 0.25
    assert ent[1].norm_entropy == 1.0 and ent[1].n_distinct == 5
    # doc 2: one token holds 199/200 of the mass -> near-zero normalized
    # entropy and top share ~ 1; THIS is the doc t20 exists to flag
    assert ent[2].norm_entropy < 0.05
    assert ent[2].top_token_share == 0.995


def test_t20_matches_oracle_on_gate_data(spark):
    import duckdb

    from iot_big_data_engineering_spark.operators.textstats import (
        _T20_ORACLE,
        t20_token_entropy_profile,
    )

    sp = sorted(
        map(tuple, t20_token_entropy_profile(spark, SF_SMOKE).collect())
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    du = sorted(map(tuple, con.execute(_T20_ORACLE).fetchall()))
    assert sp == du


# ---------------------------------------------------------------------------
# dp20 token-mass quantiles
# ---------------------------------------------------------------------------
def test_dp20_closed_form_deciles(spark, tmp_path):
    """Hand corpus with a closed-form mass CDF: ten 1-token docs plus
    one 90-token doc (total mass 100) puts exactly 10% of the token
    mass at length ≤ 1 and the rest at 90 — decile 1 must report
    tokens_le = 1 and every higher decile 90. NULL text drops (no
    weight); empty text enters with weight 1 (the dp19 convention) —
    adding one empty doc to a second source shifts its masses by
    exactly 1."""
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        dp20_token_mass_quantiles,
    )

    rows = [(i, "x " * 0 + "w", "en", "a", 1) for i in range(10)]  # 1 token
    rows.append((10, " ".join(f"t{j}" for j in range(90)), "en", "a", 500))
    rows.append((11, None, "en", "a", 0))          # NULL text: dropped
    rows.append((20, "", "en", "b", 0))            # empty text: weight 1
    rows.append((21, "u v w", "en", "b", 5))       # 3 tokens
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r.source, r.decile): r
        for r in dp20_token_mass_quantiles(spark, str(tmp_path)).collect()
    }
    assert got[("a", 1)].tokens_le == 1
    assert got[("a", 1)].cum_mass == 10 and got[("a", 1)].total_mass == 100
    for k in range(2, 10):
        assert got[("a", k)].tokens_le == 90, k
        assert got[("a", k)].cum_mass == 100
    # source b: masses {1: 1, 3: 3}, total 4; 10·1 >= k·4 only for k <= 2
    assert got[("b", 1)].tokens_le == 1 and got[("b", 2)].tokens_le == 1
    assert all(got[("b", k)].tokens_le == 3 for k in range(3, 10))
    assert got[("b", 9)].total_mass == 4


def test_dp20_empty_and_all_null_inputs(spark, tmp_path):
    import pandas as pd

    from iot_big_data_engineering_spark.operators.textstats import (
        dp20_token_mass_quantiles,
    )

    cols = ["source", "decile", "tokens_le", "cum_mass", "total_mass",
            "mass_share"]
    pd.DataFrame(
        [(1, None, "en", "s", 0), (2, None, "en", "s", 0)],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(str(tmp_path / "documents.parquet"))
    out = dp20_token_mass_quantiles(spark, str(tmp_path))
    assert out.columns == cols and out.collect() == []


def test_dp20_matches_oracle_on_gate_data(spark):
    import duckdb

    from iot_big_data_engineering_spark.operators.textstats import (
        _DP20_ORACLE,
        dp20_token_mass_quantiles,
    )

    sp = sorted(
        map(tuple, dp20_token_mass_quantiles(spark, SF_SMOKE).collect())
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    du = sorted(map(tuple, con.execute(_DP20_ORACLE).fetchall()))
    assert sp == du
    assert sp


def test_dp20_mass_invariants_on_gate_data(spark):
    """Integer-CDF structure on the gate data: per source the decile
    thresholds and cumulative masses are nondecreasing in k, every
    decile's PRE-ROUNDING share clears k/10 (check the exact integer
    inequality 10·cum ≥ k·total the op is defined by), and total_mass
    is constant within a source."""
    from iot_big_data_engineering_spark.operators.textstats import (
        dp20_token_mass_quantiles,
    )

    rows = dp20_token_mass_quantiles(spark, SF_SMOKE).collect()
    assert rows
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.decile)
        assert [r.decile for r in rs] == list(range(1, 10)), src
        assert len({r.total_mass for r in rs}) == 1, src
        for a, b in zip(rs, rs[1:]):
            assert a.tokens_le <= b.tokens_le, src
            assert a.cum_mass <= b.cum_mass, src
        for r in rs:
            assert 10 * r.cum_mass >= r.decile * r.total_mass, r


def test_t20_entropy_invariants_on_gate_data(spark):
    """Information-theoretic bounds, checked on every gate-data doc:
    0 ≤ H ≤ ln(n_tokens) (+ half a rounding grid), norm_entropy ∈
    [0, 1] exactly (the guard pins single-token docs to 0.0 and fround
    cannot push a true ratio past 1 by more than half a grid step —
    assert ≤ 1.0 since H/ln(d) ≤ ln(n)/ln(d) reaches 1 only when every
    count is equal, where the ratio is exact), and top_token_share ∈
    (0, 1] with share·n ≥ 1."""
    import math

    from iot_big_data_engineering_spark.operators.textstats import (
        t20_token_entropy_profile,
    )

    rows = t20_token_entropy_profile(spark, SF_SMOKE).collect()
    assert rows
    g = 0.5e-6  # half the shared 6-dp rounding grid
    for r in rows:
        assert 0.0 - g <= r.entropy <= math.log(r.n_tokens) + g, r
        assert 0.0 <= r.norm_entropy <= 1.0, r
        assert 0.0 < r.top_token_share <= 1.0, r
        assert r.n_distinct <= r.n_tokens, r
