"""Multimodal-column plumbing (training-data pipeline extension).

Media payloads are opaque ``binary`` columns + a typed metadata struct —
the 100 TB pattern: bytes never shuffle through Python except in
Arrow-batched ``mapInPandas`` kernels; all bookkeeping (lengths, checksums,
manifests) stays JVM-side.

The container has no image/audio libs, so the actual decode is STUBBED
(`decode_media` raises NotImplementedError unless a library import
succeeds; `fake_decode_stats` is the deterministic stand-in) — but the
Spark-side plumbing is real and tested: binary column construction, the
mapInPandas signature (iterator of pandas batches in/out), output schema,
and partition behavior. The testdata has no media files, so `documents.text`
encoded as UTF-8 bytes stands in for the payload.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import hashing
from ..functions.rounding import fround
from ..registry import register
from ..sources.tables import load_table

_R = 6


def media_type_col() -> F.Column:
    """The deterministic media-type assignment (doc_id mod 3) — ONE
    definition shared by every payload builder so the mapping cannot
    silently diverge between paths (r8 code-review).

    pmod, NOT `%` (r11 ANSI audit): Spark's `%` is signed (-4 % 3 = -1),
    so a negative doc_id fed the old `% 3 + 1` form either index 0 —
    which RAISES under ANSI — or index -1, which element_at silently
    reads as the LAST array element (the worse, wrong-answer mode).
    pmod wraps any int64 into [0, 2] so the mapping is total; the
    oracles' ((doc_id % 3) + 3) % 3 + 1 is the same function under
    DuckDB's truncating `%`. Unreachable on gate data (generated
    doc_ids >= 0) but a real hazard on arbitrary corpora."""
    return F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
    )


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, media_type, payload binary, meta struct).
    media_type is a deterministic assignment (doc_id mod 3)."""
    return docs.select(
        "doc_id",
        media_type_col().alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.col("source").alias("origin"),
            F.col("lang").alias("lang"),
            F.octet_length(F.encode("text", "UTF-8")).alias("n_bytes"),
            F.md5("text").alias("checksum"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# MM5 — payload dedup by header-block checksum: group assets whose first
# 64 payload bytes hash identically — the standard cheap first pass of a
# multimodal ingest (re-crawled/re-encoded assets share their header
# block long before any perceptual pass; full-content md5 is already in
# the mm1 manifest for the byte-identical case). One hash-groupBy; the
# bytes themselves never shuffle, only (checksum, doc_id, n_bytes) — at
# 100 TB this is the cheapest possible candidate grouping.
# ---------------------------------------------------------------------------
@register(
    "mm5_payload_dedup",
    oracle="""
SELECT md5(substr(hex(encode(text)), 1, 128)) AS header_checksum,
       count(*) AS n_copies,
       min(doc_id) AS canonical_doc_id,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS group_bytes
FROM documents
GROUP BY 1
HAVING count(*) > 1
""",
    doc="MM5: payload dedup candidates via header-block (64 B) checksum",
)
def mm5_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = with_binary_payload(load_table(spark, sf_dir, "documents"))
    # substring on BinaryType slices BYTES. The checksum is md5 of the hex
    # encoding of those 64 bytes (not of the raw bytes) because DuckDB
    # cannot slice a BLOB — hex() is byte-faithful and bit-identical in
    # both engines, so the oracle's substr(hex(encode(text)), 1, 128)
    # denotes the same 64 bytes even for multi-byte UTF-8 headers.
    header = F.md5(F.hex(F.expr("substring(payload, 1, 64)")))
    return (
        b.groupBy(header.alias("header_checksum"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
            F.sum(F.col("meta.n_bytes").cast("bigint")).alias("group_bytes"),
        )
        .filter(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# MM1 — manifest: typed metadata over binary payloads (oracle-checked)
# ---------------------------------------------------------------------------
@register(
    "mm1_media_manifest",
    oracle="""
SELECT doc_id,
       ['image', 'audio', 'video'][((doc_id % 3 + 3) % 3 + 1)] AS media_type,
       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
       md5(text) AS checksum
FROM documents
""",
    doc="MM1: binary payload manifest (type, size, checksum) per doc",
)
def mm1_media_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = with_binary_payload(load_table(spark, sf_dir, "documents"))
    return b.select(
        "doc_id",
        "media_type",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.checksum").alias("checksum"),
    )


# ---------------------------------------------------------------------------
# MM2 — per-type storage stats (oracle-checked)
# ---------------------------------------------------------------------------
@register(
    "mm2_media_type_stats",
    oracle=f"""
SELECT ['image', 'audio', 'video'][((doc_id % 3 + 3) % 3 + 1)] AS media_type,
       count(*) AS n_items,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       round(avg(CAST(octet_length(encode(text)) AS DOUBLE)), {_R}) AS avg_bytes,
       CAST(max(octet_length(encode(text))) AS INTEGER) AS max_bytes
FROM documents
GROUP BY 1
""",
    doc="MM2: binary storage statistics per media type",
)
def mm2_media_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = with_binary_payload(load_table(spark, sf_dir, "documents"))
    nb = F.col("meta.n_bytes")
    return b.groupBy("media_type").agg(
        F.count("*").alias("n_items"),
        F.sum(nb).alias("total_bytes"),
        fround(F.avg(nb.cast("double")), _R).alias("avg_bytes"),
        F.max(nb).alias("max_bytes"),
    )


# ---------------------------------------------------------------------------
# Decode kernels (mapInPandas plumbing; real decode stubbed)
# ---------------------------------------------------------------------------
DECODE_SCHEMA = (
    "doc_id long, media_type string, n_bytes int, width int, height int, "
    "n_frames int"
)


def decode_media(df: DataFrame) -> DataFrame:
    """Real IMAGE decode path, pluggable behind an import guard
    (VERDICT r8 next-round #7): when Pillow is importable the kernel
    decodes each payload with PIL (width/height from the header,
    n_frames from multi-frame formats), sharing fake_decode_stats'
    exact Arrow plumbing and output schema; when it is not — this
    container ships no media libraries — the documented
    NotImplementedError stands and fake_decode_stats remains the tested
    stand-in. Audio/video decode (librosa/ffmpeg) stays stubbed either
    way. Undecodable payloads yield NULL dims rather than failing the
    batch — at 100 TB a corrupt image must not kill the partition."""
    try:
        import PIL.Image  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "media decode requires Pillow/librosa/ffmpeg — not available in "
            "this environment; use fake_decode_stats for plumbing tests"
        ) from exc

    def kernel(batches: Iterator) -> Iterator:
        import io

        import pandas as pd
        from PIL import Image

        def dims(payload: bytes):
            try:
                with Image.open(io.BytesIO(payload)) as img:
                    return (img.width, img.height,
                            int(getattr(img, "n_frames", 1)))
            except Exception:
                return (None, None, None)

        for pdf in batches:
            if not len(pdf):
                continue
            decoded = pdf["payload"].map(dims)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["payload"].map(len).astype("int32"),
                    "width": decoded.map(lambda t: t[0]).astype("Int32"),
                    "height": decoded.map(lambda t: t[1]).astype("Int32"),
                    "n_frames": decoded.map(lambda t: t[2]).astype("Int32"),
                }
            )

    return df.mapInPandas(kernel, schema=DECODE_SCHEMA)


def fake_decode_stats(df: DataFrame) -> DataFrame:
    """Deterministic stand-in decode: derives 'dimensions' from payload
    bytes. Exercises the exact production plumbing — iterator of Arrow
    batches in, typed pandas frames out, vectorized per batch."""

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            # nullable byte stats: a NULL source text arrives as a None
            # payload, and .map(len) on None kills the Python worker — a
            # corrupt/absent payload must yield NULL dims, not fail the
            # partition (the same
            # contract as decode_media's undecodable branch). Nullable
            # Int32, not int32: the None rows must survive the cast.
            n_bytes = pdf["payload"].map(
                lambda p: len(p) if p is not None else None
            ).astype("Int64")  # NA-propagating arithmetic below
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": n_bytes.astype("Int32"),
                    "width": (n_bytes % 640 + 1).astype("Int32"),
                    "height": (n_bytes % 480 + 1).astype("Int32"),
                    # n_frames stays doc_id-derived and non-null — the
                    # oracle's id-driven video enumeration matches
                    "n_frames": (
                        (pdf["doc_id"] % 24 + 1).where(
                            pdf["media_type"] == "video", 1
                        )
                    ).astype("Int32"),
                }
            )

    return df.mapInPandas(kernel, schema=DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# MM3 — frame sampling (video → every-k-th-frame manifest). The explode
# stays JVM-side (`sequence` + `explode`); at scale the per-frame decode
# would be a mapInPandas kernel over this manifest joined back to the
# payload — frames fan out rows, bytes stay put until the kernel needs
# them. Oracle-checked because the stub decode is deterministic
# (n_frames = pmod(doc_id, 24) + 1 for videos — the kernel's pandas `%`
# FLOORS, so the oracle must wrap DuckDB's truncating `%` the same way
# the media_type expressions do; r12 sweep of the r11 element_at/%-sign
# hazard class).
# ---------------------------------------------------------------------------
_FRAME_STEP = 6


@register(
    "mm3_frame_sample",
    oracle=f"""
WITH v AS (
  SELECT doc_id, CAST((doc_id % 24 + 24) % 24 + 1 AS INTEGER) AS n_frames
  FROM documents WHERE (doc_id % 3 + 3) % 3 = 2
)
SELECT doc_id,
       n_frames,
       CAST(unnest(range(0, n_frames, {_FRAME_STEP})) AS INTEGER) AS frame_idx
FROM v
""",
    doc="MM3: every-6th-frame sampling manifest for video payloads",
)
def mm3_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = with_binary_payload(load_table(spark, sf_dir, "documents"))
    decoded = fake_decode_stats(b)
    return (
        decoded.filter(F.col("media_type") == "video")
        .select(
            "doc_id",
            "n_frames",
            F.explode(
                F.sequence(
                    F.lit(0), F.col("n_frames") - 1, F.lit(_FRAME_STEP)
                )
            ).alias("frame_idx"),
        )
    )


# ---------------------------------------------------------------------------
# MM4 — resize + feature-extract kernels. Real image ops need libs this
# container lacks; the kernels below run the exact production plumbing
# (binary in → fixed-size binary out; binary in → float feature vector
# out) with deterministic byte-level stand-ins, so schema, batch shape,
# and partition behavior are tested end-to-end.
# ---------------------------------------------------------------------------
THUMB_BYTES = 256
N_FEATURES = 8


def resize_payloads(df: DataFrame, thumb_bytes: int = THUMB_BYTES) -> DataFrame:
    """payload → fixed-size 'thumbnail' (truncate/cycle-pad to N bytes —
    the stand-in for a WxH resize; output schema is what a real resize
    kernel would ship)."""

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            thumbs = [
                bytes(
                    (p * (thumb_bytes // max(len(p), 1) + 1))[:thumb_bytes]
                )
                if len(p)
                else bytes(thumb_bytes)
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "thumb": thumbs,
                }
            )

    return df.mapInPandas(
        kernel, schema="doc_id long, media_type string, thumb binary"
    )


def extract_features(df: DataFrame, n_features: int = N_FEATURES) -> DataFrame:
    """payload → float feature vector (per-bucket byte histogram, L1
    normalized — the stand-in for a vision/audio embedding model). NumPy
    bincount per Arrow batch; output feeds the similarity operators (s1/s2
    run unchanged on any array<double> column)."""

    def kernel(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            feats = []
            for p in pdf["payload"]:
                arr = np.frombuffer(p, dtype=np.uint8)
                if not len(arr):
                    feats.append([0.0] * n_features)
                    continue
                hist = np.bincount(arr // (256 // n_features), minlength=n_features)
                feats.append((hist / hist.sum()).tolist())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})

    return df.mapInPandas(kernel, schema="doc_id long, features array<double>")


_MM4_BUCKET = 256 // N_FEATURES  # byte-histogram bucket width (32)

# mm4 was the registry's last rows-only query ("kernel output not
# SQL-expressible"). It is expressible for THIS kernel: the payload is
# encode(text), so on pure-ASCII documents each byte equals
# ascii(substr(text, i, 1)) and DuckDB can recompute the full
# bucket-histogram fractions the Arrow kernel emits (identical float64
# count/total division, shared cross-engine rounding). Both sides guard
# on ASCII-ness (octet_length = char length) so the equivalence is by
# construction, not by luck of the current generator: a non-ASCII doc
# would drop from BOTH sides rather than silently diverge. The kernel
# itself stays byte-level and untouched — this registers its real output
# through the value-hash gate instead of a rows-only smoke check.
_MM4_FEATURE_COLS = ",\n       ".join(
    f"round(CAST(len(list_filter(bs, b -> b // {_MM4_BUCKET} = {k})) AS DOUBLE)"
    f" / n_bytes, 4) AS f{k}"
    for k in range(N_FEATURES)
)


@register(
    "mm4_payload_features",
    oracle=f"""
WITH ascii_docs AS (
  SELECT doc_id, text, length(text) AS n_bytes
  FROM documents
  WHERE octet_length(encode(text)) = length(text) AND length(text) > 0
),
byte_lists AS (
  SELECT doc_id, n_bytes,
         list_transform(range(1, n_bytes + 1),
                        i -> ascii(substr(text, i, 1))) AS bs
  FROM ascii_docs
)
SELECT doc_id,
       {N_FEATURES} AS n_features,
       {_MM4_FEATURE_COLS}
FROM byte_lists
""",
    doc="MM4: byte-histogram feature kernel, full-value oracle on ASCII docs",
)
def mm4_payload_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ascii_guard = (
        F.octet_length(F.encode("text", "UTF-8")) == F.length("text")
    ) & (F.length("text") > 0)
    b = with_binary_payload(
        load_table(spark, sf_dir, "documents").filter(ascii_guard)
    )
    feats = extract_features(b)
    return feats.select(
        "doc_id",
        F.size("features").alias("n_features"),
        *[
            fround(F.col("features")[k], 4).alias(f"f{k}")
            for k in range(N_FEATURES)
        ],
    )


# ---------------------------------------------------------------------------
# MM6 — shard planner: pack payloads into ~fixed-byte output shards (the
# webdataset/tar-shard layout step of a multimodal training pipeline).
# Shard id = floor(exclusive-running-bytes / target) per media_type over
# a total order — exact integers throughout.
#
# The running sum is computed as a TWO-PHASE distributed prefix sum, not
# a naive `sum() OVER (PARTITION BY media_type ORDER BY doc_id)`: that
# window has only |media_type| partitions, so at 100 TB each partition is
# a single-task global sort — the classic window-function scale trap.
# Instead doc_ids bucket monotonically (floor(doc_id / W)); phase 1 is a
# parallel within-bucket cumsum (window partitioned by (media_type,
# bucket)), phase 2 prefixes the tiny per-bucket totals table (rows =
# #buckets, driver-scale) and broadcasts it back. Monotone bucketing
# preserves the global doc_id order, so the result is bit-identical to
# the naive form — the oracle below IS the naive form.
# ---------------------------------------------------------------------------
_MM6_TARGET_BYTES = 16_384
_MM6_BUCKET_W = 1_000  # doc_ids per cumsum bucket


@register(
    "mm6_shard_plan",
    oracle=f"""
WITH payloads AS (
  SELECT doc_id,
         ['image', 'audio', 'video'][((doc_id % 3 + 3) % 3 + 1)::INT] AS media_type,
         octet_length(encode(text)) AS n_bytes
  FROM documents
),
planned AS (
  SELECT doc_id, media_type, n_bytes,
         CAST(sum(n_bytes) OVER w - n_bytes AS BIGINT) AS start_offset
  FROM payloads
  WINDOW w AS (PARTITION BY media_type ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING)
)
SELECT media_type,
       CAST(floor(start_offset / {_MM6_TARGET_BYTES}) AS INTEGER) AS shard_id,
       count(*) AS n_payloads,
       CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM planned
GROUP BY media_type, CAST(floor(start_offset / {_MM6_TARGET_BYTES}) AS INTEGER)
""",
    doc="MM6: pack payloads into ~16 KiB shards via exact running-byte cumsum",
)
def mm6_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import track
    from ..functions.prefix import exclusive_prefix_sum

    # both prefix-sum phases consume the projected size table — persist
    # (tracked) so the source scans once
    b = track(
        with_binary_payload(load_table(spark, sf_dir, "documents"))
        .select(
            "doc_id",
            "media_type",
            F.col("meta.n_bytes").alias("n_bytes"),
        )
        .persist()
    )
    planned = exclusive_prefix_sum(
        b,
        group_col="media_type",
        order_col="doc_id",
        value_col="n_bytes",
        out_col="start_offset",
        bucket_width=_MM6_BUCKET_W,
    )
    shard = F.floor(F.col("start_offset") / _MM6_TARGET_BYTES).cast("int")
    return planned.groupBy(
        "media_type", shard.alias("shard_id")
    ).agg(
        F.count("*").alias("n_payloads"),
        F.sum("n_bytes").cast("bigint").alias("shard_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# MM7 — modality-balanced deterministic sampling: draw a different
# fraction per media_type (image 50% / audio 25% / video 10% here — the
# usual rebalancing when one modality dominates the crawl) with a
# multiplicative-hash membership test on doc_id (adv8's cross-engine
# scheme), so the sample is reproducible row-by-row on any engine and
# any partitioning — no RNG state, no sampleBy seed drift. Pure map-side
# filter (a scan predicate at 100 TB: zero shuffle until the per-type
# rollup), and the report carries exact achieved rates so drift from the
# target fraction is visible and hash-checked. The hash is the shared
# overflow-exact chunked Knuth multiply (functions/hashing.py) — the
# r5–r7 naive doc_id*K form diverges across engines for doc_id ≥ ~3.5e9
# (VERDICT r7 demand #3).
# ---------------------------------------------------------------------------
_MM7_HASH_SQL = hashing.knuth_hash32_sql("doc_id")
_MM7_RATES = {"image": 50, "audio": 25, "video": 10}  # percent of stratum


@register(
    "mm7_stratified_sample",
    oracle=f"""
WITH payloads AS (
  SELECT doc_id,
         ['image', 'audio', 'video'][((doc_id % 3 + 3) % 3 + 1)::INT] AS media_type,
         octet_length(encode(text)) AS n_bytes
  FROM documents
),
rated AS (
  SELECT p.*,
         CASE media_type WHEN 'image' THEN {_MM7_RATES["image"]}
                         WHEN 'audio' THEN {_MM7_RATES["audio"]}
                         ELSE {_MM7_RATES["video"]} END AS pct
  FROM payloads p
)
SELECT media_type,
       CAST(count(*) AS BIGINT) AS stratum_docs,
       CAST(sum(CASE WHEN {_MM7_HASH_SQL} % 100 < pct
                THEN 1 ELSE 0 END) AS BIGINT) AS sampled_docs,
       CAST(sum(CASE WHEN {_MM7_HASH_SQL} % 100 < pct
                THEN n_bytes ELSE 0 END) AS BIGINT) AS sampled_bytes,
       round(CAST(sum(CASE WHEN {_MM7_HASH_SQL} % 100 < pct
                      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), {_R})
         AS achieved_rate
FROM rated
GROUP BY media_type
ORDER BY media_type
""",
    doc="MM7: per-modality deterministic hash sampling + achieved-rate report",
)
def mm7_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = with_binary_payload(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "media_type", F.col("meta.n_bytes").alias("n_bytes")
    )
    pct = (
        F.when(F.col("media_type") == "image", _MM7_RATES["image"])
        .when(F.col("media_type") == "audio", _MM7_RATES["audio"])
        .otherwise(_MM7_RATES["video"])
    )
    picked = F.pmod(hashing.knuth_hash32(F.col("doc_id")), 100) < pct
    return (
        b.groupBy("media_type")
        .agg(
            F.count("*").alias("stratum_docs"),
            F.sum(F.when(picked, 1).otherwise(0)).alias("sampled_docs"),
            F.sum(F.when(picked, F.col("n_bytes")).otherwise(0))
            .cast("bigint")
            .alias("sampled_bytes"),
            fround(
                F.sum(F.when(picked, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                _R,
            ).alias("achieved_rate"),
        )
        .orderBy("media_type")
    )


# ---------------------------------------------------------------------------
# MM8 — PERCEPTUAL-HASH NEAR-DUP (aHash + banded candidates): the media
# counterpart of d5's SimHash text pass. mm5 groups byte-identical
# payloads; real media pipelines also need near-identical detection
# (re-encoded thumbnails, brightness-shifted re-crawls), which runs on a
# PERCEPTUAL hash of the decoded thumbnail, not on raw bytes. Here the
# decode is the documented stand-in (resize_payloads' cycle-pad
# thumbnail), but the pipeline is the production shape end-to-end:
# thumbnail kernel → 62-bit aHash (bit j = sampled byte > mean of the
# sampled bytes; 62 bits, not 64 — DuckDB raises on 1<<63, and a
# cross-engine hash must stay in signed-int64 territory on BOTH
# engines) → SimHash-style 16-bit banding for candidates (pairs must
# share ≥1 of 4 bands — the LSH gate that keeps this linear: at 100 TB
# candidates are per-bucket joins, never corpus²) → exact Hamming ≤ 6
# verify on candidates only.
#
# Parity + non-vacuity: the oracle recomputes the hash from text bytes
# (mm4's ASCII technique — payload is encode(text), so byte i is
# ascii(substr(text, i, 1)); both engines restrict to ASCII docs by
# construction). Five exact copies of the first five ASCII docs are
# PLANTED at doc_id + 1e9 on both engines: identical payload →
# identical thumbnail → identical phash → Hamming 0 through every band,
# so the pair list is non-empty at every SF and a banding/hash/verify
# bug breaks a guaranteed row, not a lucky one.
# ---------------------------------------------------------------------------
_MM8_BITS = 62        # see block comment: signed-int64-safe on both engines
_MM8_STRIDE = 4       # sample thumb byte j*4 for bit j (covers bytes 0..244)
_MM8_BANDS = 4        # 16-bit bands (last covers the top 14 bits)
_MM8_HAM_MAX = 6      # exact-verify threshold on candidates
_MM8_N_PLANT = 5      # planted exact copies (non-vacuity certificate)
# plant ids sit at doc_id + (max(doc_id) + 1), DERIVED on both engines
# from the same relation — a fixed offset (the r8 shape, 1e9) collides
# with real ids exactly at the billions-of-docs scale the hash-overflow
# work targets, silently corrupting the pair certificate (r8 advice)


def phash_thumbs(thumbs: DataFrame) -> DataFrame:
    """(doc_id, phash) — 62-bit aHash over strided thumbnail samples,
    one Arrow kernel pass (the real-decode pipeline would differ only in
    how `thumb` was produced)."""

    def kernel(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        weights = (1 << np.arange(_MM8_BITS, dtype=np.int64))
        for pdf in batches:
            if not len(pdf):
                continue
            hashes = []
            for t in pdf["thumb"]:
                sampled = np.frombuffer(t, dtype=np.uint8)[
                    : _MM8_BITS * _MM8_STRIDE : _MM8_STRIDE
                ].astype(np.float64)
                bits = sampled > sampled.mean()
                hashes.append(int((weights * bits).sum()))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "phash": hashes})

    return thumbs.mapInPandas(kernel, schema="doc_id long, phash long")


_MM8_BYTE = (
    f"ascii(substr(text, ((j * {_MM8_STRIDE}) % length(text)) + 1, 1))"
)

_MM8_ORACLE = f"""
WITH ascii_docs AS (
  SELECT doc_id, text FROM documents
  WHERE octet_length(encode(text)) = length(text) AND length(text) > 0
),
planted AS (
  SELECT doc_id, text FROM ascii_docs
  UNION ALL
  SELECT doc_id + (SELECT max(doc_id) + 1 FROM ascii_docs), text FROM (
    SELECT doc_id, text FROM ascii_docs
    ORDER BY doc_id LIMIT {_MM8_N_PLANT}
  )
),
sampled AS (
  SELECT doc_id,
         list_transform(range(0, {_MM8_BITS}),
                        j -> {_MM8_BYTE}) AS bs
  FROM planted
),
hashed AS (
  SELECT doc_id,
         (SELECT sum(CASE WHEN bs[j + 1] > m THEN (1::BIGINT << j)
                          ELSE 0 END)
          FROM (SELECT unnest(range(0, {_MM8_BITS})) AS j),
               (SELECT CAST(list_sum(bs) AS DOUBLE) / {_MM8_BITS} AS m)
         ) AS phash
  FROM sampled
),
bands AS (
  SELECT doc_id, phash, k.k AS k, (phash >> (16 * k.k)) & 65535 AS bv
  FROM hashed, (SELECT unnest(range({_MM8_BANDS})) AS k) k
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.phash AS ha,
                  b.doc_id AS doc_b, b.phash AS hb
  FROM bands a JOIN bands b
    ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {_MM8_HAM_MAX}
ORDER BY doc_a, doc_b
"""


@register(
    "mm8_phash_neardup",
    oracle=_MM8_ORACLE,
    doc=(
        "MM8: perceptual-hash (aHash-62) media near-dup — thumbnail "
        "kernel, banded LSH candidates, exact Hamming verify; planted "
        "exact copies guarantee non-vacuity"
    ),
)
def mm8_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ascii_guard = (
        F.octet_length(F.encode("text", "UTF-8")) == F.length("text")
    ) & (F.length("text") > 0)
    docs = load_table(spark, sf_dir, "documents").filter(ascii_guard)
    # bounded driver action (one MAX row): the collision-proof offset is
    # max(doc_id) + 1, recomputed identically by the oracle's scalar
    # subquery; 0 on an empty corpus (no plants exist then anyway)
    mx = docs.agg(F.max("doc_id").alias("mx")).first().mx
    # explicit None test: `mx or -1` would treat a legitimate max id of
    # 0 as empty and collide the plant with doc 0 (r9 code-review,
    # reproduced against the oracle's max+1 scalar subquery)
    plant_offset = (mx if mx is not None else -1) + 1
    plants = (
        docs.orderBy("doc_id")
        .limit(_MM8_N_PLANT)
        .select(
            (F.col("doc_id") + F.lit(plant_offset)).alias("doc_id"), "text"
        )
    )
    corpus = docs.select("doc_id", "text").unionByName(plants)
    thumbs = resize_payloads(with_binary_payload_from(corpus))
    # the band self-join below consumes this tiny 2-column relation on
    # BOTH sides — without the persist each side independently re-runs
    # the full scan → plant collect → resize/phash Arrow kernel pipeline,
    # doubling the two kernel passes the block comment budgets as one
    # (r8 review finding)
    from ..caching import track

    hashed = track(phash_thumbs(thumbs).select("doc_id", "phash").persist())
    bands = hashed.select(
        "doc_id",
        "phash",
        F.explode(F.sequence(F.lit(0), F.lit(_MM8_BANDS - 1))).alias("k"),
    ).withColumn(
        # shiftright() takes a literal bit count; the per-row band shift
        # needs the expression form
        "bv", F.expr("(phash >> (k * 16)) & 65535")
    )
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(
        F.col("a.phash").bitwiseXOR(F.col("b.phash"))
    ).cast("int")
    return (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # Hamming verify BEFORE the pair dedup: bit_count is a few
        # cycles per candidate, while distinct is a shuffle — filtering
        # first shrinks that shuffle to only the ≤ threshold survivors
        # (each duplicated at most _MM8_BANDS×)
        .filter(ham <= _MM8_HAM_MAX)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def with_binary_payload_from(docs: DataFrame) -> DataFrame:
    """with_binary_payload over a frame that may carry only
    (doc_id, text) — the planted-copy path has no source/lang meta.
    Shares media_type_col so the two builders cannot diverge."""
    return docs.select(
        "doc_id",
        media_type_col().alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
    )
