"""Multimodal-column queries (SURVEY.md §2C multimodal row): the
binary-blob plumbing surfaced as oracle-checked inventory entries.

The media table derives deterministically from ``documents`` (text
bytes stand in for encoded blobs; every 5th doc is a "video" with a
metadata-derived duration), so DuckDB can reproduce the byte-level
results — md5/byte-length on the blob, frame sampling from metadata —
while the Spark side exercises the real plumbing: binary columns,
struct metadata, Arrow-batched mapInPandas, explode-after-drop so
blobs never ride a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark import io
from tda596_lab02mapreduce_spark.operators import multimodal as mm
from tda596_lab02mapreduce_spark.registry import register


@register(
    "multimodal_features",
    oracle="""
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
""",
    doc=(
        "Arrow-batched mapInPandas feature extraction over binary media "
        "blobs (operators/multimodal.py:extract_features); the byte-level "
        "outputs (size, md5) are oracle-checked, the embedded fake-decode "
        "feature vector is shape/determinism-checked in pytest. Map-only: "
        "blobs never shuffle."
    ),
    tags=("multimodal",),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = mm.media_table_from_documents(io.load(spark, sf_dir, "documents"))
    return mm.extract_features(media).select(
        "media_id", "n_bytes", "content_md5"
    )


@register(
    "multimodal_frame_sample",
    oracle="""
SELECT doc_id AS media_id, CAST(unnest(range(0, (n_chars % 7) * 1000 + 501, 1000)) AS BIGINT) AS frame_ts_ms
FROM documents
WHERE doc_id % 5 = 0
""",
    doc=(
        "Video frame-sampling plumbing: one (media_id, frame_ts_ms) row per "
        "sample instant, expanded from metadata ALONE — the binary column is "
        "dropped before the explode so bytes never multiply "
        "(operators/multimodal.py:frame_sample)."
    ),
    tags=("multimodal",),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = mm.media_table_from_documents(io.load(spark, sf_dir, "documents"))
    return mm.frame_sample(media)


@register(
    "multimodal_resize",
    oracle="""
SELECT doc_id AS media_id,
       CAST(128 AS BIGINT) AS out_bytes,
       md5(substring(repeat(text, CAST(128 // length(text) AS INT) + 1), 1, 128)) AS resized_md5
FROM documents
""",
    doc=(
        "Image-resize plumbing (operators/multimodal.py:resize_images): "
        "mapInPandas re-encodes each blob to the 16x8 target budget via the "
        "deterministic fake resample (cycle source bytes to the pixel "
        "budget). Byte-accurate oracle: fixture text is pure ASCII, so "
        "DuckDB's VARCHAR repeat/substring reproduces the byte cycling and "
        "md5 matches bit-for-bit. Map-only; resized (small) blobs are what "
        "any downstream shuffle would carry."
    ),
    tags=("multimodal",),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = mm.media_table_from_documents(io.load(spark, sf_dir, "documents"))
    resized = mm.resize_images(media, target_w=16, target_h=8)
    return resized.select(
        "media_id",
        F.length("blob").cast("bigint").alias("out_bytes"),
        F.md5("blob").alias("resized_md5"),
    )


@register(
    "multimodal_audio_energy",
    oracle="""
WITH b AS (
  SELECT doc_id AS media_id,
         list_transform(string_split(text, ''), c -> ascii(c)) AS s
  FROM documents WHERE length(text) > 0
)
SELECT media_id,
       CAST(f AS BIGINT) AS frame_id,
       CAST(len(s[f*256+1 : f*256+256]) AS INTEGER) AS n_samples,
       CAST(list_reduce(list_prepend(0, list_transform(s[f*256+1 : f*256+256], x -> x*x)),
                        (a, x) -> a + x) AS BIGINT) AS energy
FROM b, unnest(range(0, CAST(ceil(len(s)/256.0) AS INTEGER))) AS t(f)
""",
    doc=(
        "The audio third of the multimodal band: blobs fake-decoded as "
        "8-bit PCM (documents' ASCII bytes — pinned elsewhere — so the "
        "DuckDB oracle can recompute the identical samples from the "
        "text), framed into 256-sample windows by an Arrow-batched "
        "mapInPandas (operators/multimodal.py:audio_frame_energy), "
        "with EXACT integer per-frame energy so the hash compare has "
        "no float tolerance. The real-decoder swap point is the same "
        "as the image path: replace the byte interpretation, keep the "
        "framing/aggregation plumbing. Map-only; blobs never shuffle."
    ),
    tags=("multimodal",),
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    audio = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("blob"),
    )
    return mm.audio_frame_energy(audio)


@register(
    "multimodal_phash_buckets",
    oracle="""
WITH v AS (
  SELECT doc_id AS media_id,
         list_transform(range(0, 16), i ->
           (CAST('0x' || substr(md5(text), ((4 * i) % 16) * 2 + 1, 8)
                 AS BIGINT) + i) % 10007) AS vs
  FROM documents
),
h AS (
  SELECT media_id,
         CAST(list_sum(list_transform(range(0, 16), i ->
           CASE WHEN 16 * vs[i + 1] > list_sum(vs) THEN 1 << i ELSE 0 END))
           AS BIGINT) AS phash16
  FROM v
)
SELECT media_id, phash16,
       CAST(count(*) OVER (PARTITION BY phash16) AS BIGINT) AS bucket_n
FROM h
""",
    doc=(
        "Perceptual-hash (aHash) bucketing over binary media blobs "
        "(operators/multimodal.py:phash16): the near-duplicate-IMAGE "
        "analogue of dedup_simhash — blobs hash to 16 bits via "
        "threshold-against-the-mean, equal hashes land in one bucket, "
        "bucket_n > 1 marks perceptual-dup candidates for pairwise "
        "verification. The hash is EXACT integer math over the "
        "fake-decode feature integers (16·v_i > Σv — no float mean), "
        "so the DuckDB oracle replays the full mapInPandas path from "
        "the md5 hex. Map-only over the blobs (bytes never shuffle); "
        "bucket counts come from the BOUNDED hash-grain aggregate "
        "(≤ 2^16 rows at any corpus size) broadcast-joined back — a "
        "corpus-wide window would sort the corpus for a count a "
        "forever-broadcastable table already holds. Swap _fake_decode "
        "for a real 8×8 grayscale downsample at the same signature "
        "and nothing else changes."
    ),
    tags=("multimodal", "dedup"),
)
def multimodal_phash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = mm.media_table_from_documents(io.load(spark, sf_dir, "documents"))
    # hashed twice below (rows + counts): lazy checkpoint pins ONE
    # mapInPandas evaluation of the blobs
    h = mm.phash16(media).localCheckpoint(eager=False)
    # counts via the BOUNDED hash-grain aggregate (≤ 2^16 rows at any
    # corpus size) joined back — not a corpus-wide window sort: the
    # count table broadcasts forever, the window would sort the corpus
    counts = h.groupBy("phash16").agg(
        F.count(F.lit(1)).cast("bigint").alias("bucket_n")
    )
    return h.join(F.broadcast(counts), "phash16").select(
        "media_id", "phash16", "bucket_n"
    )


# ---------------------------------------------------------------------------
# Blob chunk manifest (round-11 widening)
# ---------------------------------------------------------------------------


@register(
    "blob_chunk_manifest",
    oracle="""
WITH d AS (
  SELECT doc_id AS media_id, text,
         CAST(length(text) AS BIGINT) AS blen
  FROM documents
),
idx AS (
  SELECT media_id, text, blen,
         unnest(range((blen + 127) // 128)) AS chunk_idx
  FROM d
)
SELECT media_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(length(substring(text, CAST(chunk_idx * 128 + 1 AS BIGINT), 128))
            AS BIGINT) AS chunk_bytes,
       md5(substring(text, CAST(chunk_idx * 128 + 1 AS BIGINT), 128))
         AS chunk_md5
FROM idx
""",
    doc=(
        "Blob chunk manifest: split every media payload into "
        "fixed-size byte chunks and emit (chunk index, byte length, "
        "md5) per chunk — the upload/transfer planning table every "
        "object-store ingest of large media computes (multipart "
        "upload parts, content-addressed chunk dedup, resumable "
        "transfer verification). MAP-ONLY on the blob side: a "
        "sequence-explode of chunk indexes + substring on the BINARY "
        "column + per-chunk md5, zero shuffles — the blob never "
        "rides an exchange (the multimodal band contract). Chunk "
        "size is 128 bytes, fixture-scaled (real parts are MBs; the "
        "plan is size-independent). The fixture blobs are ASCII "
        "text bytes (octet_length == length asserted over the whole "
        "corpus), so the DuckDB oracle chunks the same bytes with "
        "string substring and matches the binary md5 exactly."
    ),
    tags=("multimodal", "llm", "text"),
)
def blob_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = mm.media_table_from_documents(io.load(spark, sf_dir, "documents"))
    # Empty blobs must emit ZERO chunks. Spark's sequence(0, -1) silently
    # infers step -1 and yields [0, -1] (two spurious rows, one with a
    # negative substring start) whereas the oracle's range(0) is empty —
    # same hazard guarded at textprep/trainprep sequence sites.
    chunks = media.filter(F.length("blob") > 0).select(
        "media_id",
        "blob",
        F.explode(
            F.sequence(
                F.lit(0),
                ((F.length("blob") + 127) / 128).cast("bigint") - 1,
            )
        ).alias("chunk_idx"),
    )
    piece = F.expr("substring(blob, CAST(chunk_idx * 128 + 1 AS INT), 128)")
    return chunks.select(
        "media_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.length(piece).cast("bigint").alias("chunk_bytes"),
        F.md5(piece).alias("chunk_md5"),
    )
