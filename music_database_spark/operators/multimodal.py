"""Multimodal columns (SURVEY.md §2.10 X5): text + vector modalities
joined on id, and binary-payload plumbing for image/audio-style data.

The reference is scalar-columns-only (music_db.sql:6-110 — verified
absence of any blob/array column), so X5 exists for the LLM-pipeline
north star: a training-data row at 100 TB is (text, embedding, media
bytes, typed metadata) and the engine must move those through joins,
filters and Python feature extractors without ever shuffling payloads
it doesn't need.

Design notes for scale:
* ``x_doc_join`` projects ONLY the scalar stats it outputs — column
  pruning keeps the 256-byte embedding and the document body out of the
  shuffle entirely (ReadSchema in .explain shows the pruned scan).
* The binary path treats media as an opaque ``binary`` column with a
  typed metadata struct alongside. The decode/feature step is an
  Arrow-batched ``mapInPandas`` — the sanctioned Python slow path —
  sized by Arrow batch, not per-row. Real image/audio codecs are not in
  this container, so the decoder is a clearly-marked deterministic
  stand-in (byte-level stats) with the Spark-side plumbing (schema,
  batching, partitioning) fully real.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.relational import _t
from ..registry import register
from ..session import cached


@register(
    "x_doc_join",
    tags=("EXT", "X5", "J1"),
    oracle="""
        SELECT lang, label,
               COUNT(*) AS n,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(len(embedding)) AS BIGINT) AS total_dims
        FROM documents JOIN embeddings ON doc_id = vec_id
        GROUP BY lang, label ORDER BY lang, label
    """,
)
def x_doc_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text modality ⋈ vector modality on doc_id = vec_id, summarized per
    (lang, label). Both tables share the id space (TESTDATA fixtures), so
    this is the canonical multimodal-row assembly join."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .groupBy("lang", "label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum(F.size("embedding")).cast("bigint").alias("total_dims"),
        )
        .orderBy("lang", "label")
    )


def decode_media(payload: bytes) -> dict:
    """Stand-in media decoder. A real deployment would decode image/audio
    bytes here (PIL / soundfile are not installed in this container); this
    deterministic byte-stats fake keeps the distributed plumbing testable.
    Marked stub per the build contract."""
    if payload is None or len(payload) == 0:
        return {"n_bytes": 0, "mean_byte": 0.0, "max_byte": 0}
    return {
        "n_bytes": len(payload),
        "mean_byte": float(sum(payload)) / len(payload),
        "max_byte": int(max(payload)),
    }


def _media_feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched feature extraction over the opaque binary column."""
    for pdf in batches:
        feats = [decode_media(p) for p in pdf["media"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "n_bytes": [f["n_bytes"] for f in feats],
                "mean_byte": [round(f["mean_byte"], 6) for f in feats],
                "max_byte": [f["max_byte"] for f in feats],
            }
        )


def with_media_column(docs: DataFrame) -> DataFrame:
    """Attach an opaque binary payload + typed metadata struct to each doc.

    Stands in for reading real media blobs (parquet binary / raw files at
    scale); payload bytes are the utf-8 of the text so results stay
    deterministic across engines and runs.
    """
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("media"),
        F.struct(
            F.when(F.col("doc_id") % 2 == 0, F.lit("image/png"))
            .otherwise(F.lit("audio/wav"))
            .alias("mime"),
            F.col("n_chars").cast("long").alias("declared_size"),
        ).alias("media_meta"),
    ).withColumn("media_type", F.col("media_meta.mime"))


def resize_media(payload: bytes, target: int = 64) -> bytes:
    """Stand-in media resize: deterministic stride subsampling of the byte
    stream to <= target bytes (a real deployment would decode and resize
    pixels/samples here — codec libs absent in this container). Stub per
    the build contract; the distributed plumbing is real."""
    if payload is None or len(payload) <= target:
        return payload or b""
    stride = len(payload) // target
    return payload[::stride][:target]


def sample_frames(payload: bytes, n_frames: int = 4) -> list[bytes]:
    """Stand-in frame sampling: split the payload into n_frames equal
    chunks and keep each chunk's head — the shape of video keyframe
    extraction, deterministic on bytes."""
    if payload is None or len(payload) == 0:
        return []
    step = max(1, len(payload) // n_frames)
    return [payload[i * step : i * step + min(16, step)] for i in range(n_frames)]


def _media_transform_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched resize + frame-sample over the binary column."""
    for pdf in batches:
        resized = [resize_media(p) for p in pdf["media"]]
        frames = [sample_frames(p) for p in pdf["media"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "resized_bytes": [len(r) for r in resized],
                "n_frames": [len(f) for f in frames],
                "frame_bytes": [sum(len(x) for x in f) for f in frames],
            }
        )


@register(
    "x_multimodal_transform",
    tags=("EXT", "X5", "D1"),
    oracle="""
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(LEAST(octet_length(encode(text)), 64)) AS BIGINT) AS total_resized,
               CAST(SUM(CASE WHEN octet_length(encode(text)) > 0 THEN 4 ELSE 0 END) AS BIGINT)
                   AS total_frames
        FROM documents
    """,
)
def x_multimodal_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize + frame-sample over the binary modality (north-star ops):
    Arrow-batched mapInPandas, aggregated to corpus totals. The oracle
    pins the invariants the stand-in transforms guarantee (resized size =
    min(len, 64); 4 frames per non-empty payload); per-frame byte counts
    ride along unchecked."""
    docs = _t(spark, sf_dir, "documents")
    media = with_media_column(docs)
    out = media.select("doc_id", "media").mapInPandas(
        _media_transform_batches,
        "doc_id bigint, resized_bytes bigint, n_frames int, frame_bytes bigint",
    )
    return out.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("resized_bytes").cast("bigint").alias("total_resized"),
        F.sum(F.col("n_frames").cast("bigint")).cast("bigint").alias("total_frames"),
    )


@register(
    "x_multimodal_features",
    tags=("EXT", "X5", "D1"),
    oracle="""
        SELECT CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END AS media_type,
               COUNT(*) AS n,
               CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes
        FROM documents
        GROUP BY media_type ORDER BY media_type
    """,
)
def x_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: attach payload + typed metadata, extract
    features via Arrow-batched mapInPandas, aggregate per media type. The
    oracle checks the byte-count plumbing (deterministic on both engines);
    mean/max byte stats ride along through the same UDF."""
    docs = _t(spark, sf_dir, "documents")
    media = with_media_column(docs)
    feats = media.select("doc_id", "media", "media_type").mapInPandas(
        _media_feature_batches,
        "doc_id bigint, media_type string, n_bytes bigint, mean_byte double, max_byte int",
    )
    return (
        feats.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
            F.max("n_bytes").cast("bigint").alias("max_bytes"),
        )
        .orderBy("media_type")
    )


PHASH_SEGMENTS = 64  # "pixels" after the stride resize (8x8-style)
PHASH_BANDS = 4  # 16-bit bands for the candidate join
PHASH_MAX_HAMMING = 6  # near-dup verify threshold
PHASH_MAX_BAND_FREQ = 50  # hot band buckets dropped (the MAX_BAND_FREQ pattern)


@register(
    "x_media_phash_dedup",
    tags=("EXT", "X5", "X2"),
    oracle=f"""
        WITH base AS (
            SELECT doc_id, text, length(text) AS n FROM documents
            WHERE length(text) >= {PHASH_SEGMENTS}
        ),
        pix AS (
            SELECT doc_id,
                   [ascii(text[1 + (s-1)*(n//{PHASH_SEGMENTS})])
                    FOR s IN range(1, {PHASH_SEGMENTS + 1})] AS px
            FROM base
        ),
        sig AS (
            SELECT doc_id, px,
                   CAST(list_aggregate(px, 'sum') AS DOUBLE) / {PHASH_SEGMENTS} AS mu
            FROM pix
        ),
        bits AS (
            SELECT doc_id,
                   [CASE WHEN px[s] > mu THEN 1 ELSE 0 END
                    FOR s IN range(1, {PHASH_SEGMENTS + 1})] AS b
            FROM sig
        ),
        bands AS (
            SELECT doc_id, bb,
                   array_to_string(b[16*bb+1:16*bb+16], '') AS band_hash
            FROM bits, (SELECT unnest(range(0, {PHASH_BANDS})) AS bb)
        ),
        bands_f AS (
            SELECT doc_id, bb, band_hash FROM (
                SELECT *, COUNT(*) OVER (PARTITION BY bb, band_hash) AS bsz FROM bands
            ) WHERE bsz <= {PHASH_MAX_BAND_FREQ}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands_f a JOIN bands_f b
              ON a.bb = b.bb AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
        ),
        ver AS (
            SELECT id_a, id_b,
                   {PHASH_SEGMENTS} - len(list_filter(range(1, {PHASH_SEGMENTS + 1}),
                                                      s -> x.b[s] = y.b[s])) AS hamming
            FROM cand JOIN bits x ON x.doc_id = cand.id_a
                      JOIN bits y ON y.doc_id = cand.id_b
        )
        SELECT id_a, id_b, hamming FROM ver
        WHERE hamming <= {PHASH_MAX_HAMMING} ORDER BY id_a, id_b
    """,
)
def x_media_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection over the byte modality —
    the image-dedup shape (aHash / blockhash family, public: Zauner
    2010) run on the deterministic media stand-in (payload bytes = the
    document's utf-8, as everywhere in this module): stride-subsample
    the payload to {PHASH_SEGMENTS} 'pixels' (resize_media's stride
    semantics), threshold each against the payload mean into a 64-bit
    signature, band into {PHASH_BANDS} 16-bit buckets for the candidate
    join, verify by Hamming distance <= {PHASH_MAX_HAMMING}. With a
    real decoder the pixel step swaps in; every stage after the bytes
    is modality-agnostic.

    Fully oracle-checked: byte values via ascii() on both engines
    (corpus is ASCII), integer sums exact in double, banding and
    Hamming verify mirrored. 100 TB design: identical scale shape to
    x_dedup_simhash_det — banded signature self-join with the hot-band
    cap (a k-image bucket is k^2 pairs on one key), candidates ~linear,
    payloads never shuffle (only 64-int signatures and 16-char band
    keys move)."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text", F.length("text").alias("n")).filter(
        F.col("n") >= PHASH_SEGMENTS
    )
    pix = base.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, {PHASH_SEGMENTS}),"
            f" s -> ascii(substr(text, 1 + (s-1)*(n div {PHASH_SEGMENTS}), 1)))"
        ).alias("px"),
    )
    sig = pix.select(
        "doc_id",
        "px",
        (
            F.aggregate("px", F.lit(0), lambda acc, x: acc + x).cast("double")
            / PHASH_SEGMENTS
        ).alias("mu"),
    )
    bits = cached(sig.select(  # feeds the band explode and both verify sides
        "doc_id",
        F.expr("transform(px, p -> CASE WHEN p > mu THEN 1 ELSE 0 END)").alias("b"),
    ))
    bands = bits.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bb).alias("bb"),
                        F.array_join(
                            F.transform(
                                F.slice("b", 16 * bb + 1, 16), lambda x: x.cast("string")
                            ),
                            "",
                        ).alias("band_hash"),
                    )
                    for bb in range(PHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.bb", "band.band_hash")
    from .dedup import candidate_pairs

    cand = candidate_pairs(
        bands, ["bb", "band_hash"], "doc_id", cap=PHASH_MAX_BAND_FREQ, cap_style="window"
    )
    ver = (
        cand.join(bits.select(F.col("doc_id").alias("id_a"), F.col("b").alias("b_a")), "id_a")
        .join(bits.select(F.col("doc_id").alias("id_b"), F.col("b").alias("b_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.aggregate(
                F.zip_with("b_a", "b_b", lambda x, y: F.when(x == y, 0).otherwise(1)),
                F.lit(0),
                lambda acc, x: acc + x,
            ).alias("hamming"),
        )
    )
    return (
        ver.filter(F.col("hamming") <= PHASH_MAX_HAMMING)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


FRAME_COUNT = 8  # keyframes sampled per media stream
FRAME_LEN = 32  # chars per frame window (stand-in for a decoded keyframe)
FRAME_MAX_FREQ = 20  # drop frame hashes hotter than this corpus-wide
FRAME_MIN_SHARED = 2  # report pairs sharing at least this many keyframes


@register(
    "x_media_frame_dedup",
    tags=("EXT", "X5", "X2", "X1"),
    oracle=f"""
        WITH media AS (
            SELECT doc_id, text AS stream, length(text) AS n
            FROM documents WHERE length(text) >= {FRAME_COUNT * FRAME_LEN}
        ),
        frames AS (
            SELECT doc_id, i AS frame_idx,
                   md5(substring(stream, i * GREATEST(1, n // {FRAME_COUNT}) + 1,
                                 {FRAME_LEN})) AS fh
            FROM media CROSS JOIN (SELECT unnest(range(0, {FRAME_COUNT})) AS i) g
        ),
        rare AS (
            SELECT fh FROM frames GROUP BY fh HAVING COUNT(*) <= {FRAME_MAX_FREQ}
        ),
        f AS (SELECT DISTINCT frames.doc_id, frames.fh FROM frames JOIN rare USING (fh)),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM f a JOIN f b ON a.fh = b.fh AND a.doc_id < b.doc_id
            GROUP BY id_a, id_b
        )
        SELECT id_a, id_b, n_shared FROM pairs
        WHERE n_shared >= {FRAME_MIN_SHARED}
        ORDER BY id_a, id_b
    """,
)
def x_media_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-stream KEYFRAME dedup — the video-dedup shape: sample
    FRAME_COUNT evenly-spaced fixed-width windows from each media
    stream (deterministic stand-in for decoded keyframes; windows are
    codepoint-sliced so both engines hash identical utf-8 bytes),
    digest each frame, and report stream pairs sharing >=
    FRAME_MIN_SHARED rare frames — near-dup detection where the unit
    is the FRAME, not the document, catching re-encoded/re-cut copies
    that whole-payload digests (x_fingerprint) and doc-level phash
    (x_media_phash_dedup) miss. Pure Catalyst: slicing, hashing and
    the capped inverted-index join are all codegen'd — no Python in
    this path at all.

    100 TB design: payloads never shuffle — 16-byte frame digests do;
    the hot-frame cap (intros/outros/color bars shared by thousands of
    streams) bounds the self-join exactly like every other dedup path.
    In production the frame extractor is the one Arrow-batched decode
    pass (x_multimodal_transform's sample_frames), and THIS join is
    unchanged."""
    docs = _t(spark, sf_dir, "documents")
    n = F.length("text")
    step = F.greatest(F.lit(1), F.floor(n / FRAME_COUNT).cast("int"))
    frames = (
        docs.filter(n >= FRAME_COUNT * FRAME_LEN)
        .select("doc_id", "text", step.alias("step"))
        .select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.md5(F.expr(f"substring(text, {i} * step + 1, {FRAME_LEN})"))
                        for i in range(FRAME_COUNT)
                    ]
                )
            ).alias("fh"),
        )
    )
    rare = frames.groupBy("fh").agg(F.count(F.lit(1)).alias("freq")).filter(
        F.col("freq") <= FRAME_MAX_FREQ
    )
    f = frames.join(rare.select("fh"), "fh").distinct()
    from .dedup import bucket_self_join

    pairs = (
        bucket_self_join(f, ["fh"], "doc_id")
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= FRAME_MIN_SHARED)
    )
    return pairs.orderBy("id_a", "id_b")
