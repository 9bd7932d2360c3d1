"""Multimodal column handling (SURVEY.md §2C): media as opaque
``binary`` columns with typed metadata structs, processed by
Arrow-batched ``mapInPandas`` operators.

The Spark-side plumbing — schema, partition sizing, UDF signatures,
batch shapes — is real and tested. The codec step has three modes:
``decode=\"fake\"`` derives deterministic pseudo-features from the
bytes (md5-seeded); ``decode=\"auto\"`` uses Pillow per blob when it
is importable ON THE EXECUTOR and the blob decodes, falling back to
the fake path otherwise (so the same job runs in codec-less and
codec-full containers); ``decode=\"strict\"`` requires the real codec
— NotImplementedError when Pillow is absent (this container),
decode errors propagate when present. The real-decode functions are
unit-tested behind ``pytest.importorskip(\"PIL\")``.

Scale notes: media bytes are the dominant payload — the operators
never shuffle them (feature extraction is map-only; metadata-only
projections drop the binary column before any wide op). Batch size is
bounded by Arrow batch limits (`spark.sql.execution.arrow.
maxRecordsPerBatch`) rather than row counts, since rows are megabytes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

N_FEATURES = 8  # floats per extract_features vector
FRAME_EVERY_MS = 1000  # frame_sample's sampling interval
AUDIO_FRAME = 256  # samples per audio_frame_energy frame

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("format", T.StringType()),  # png|wav|mp4|...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("blob", T.BinaryType()),
        T.StructField("meta", MEDIA_META_SCHEMA),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_md5", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def media_table_from_documents(docs: DataFrame) -> DataFrame:
    """Build a synthetic media table: each document's text bytes stand
    in for an encoded image blob (deterministic; real pipelines read
    ``spark.read.format(\"binaryFile\")``)."""
    is_video = F.col("doc_id") % 5 == 0
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("blob"),
        F.struct(
            F.when(is_video, "video").otherwise("image").alias("media_type"),
            F.lit("fake").alias("format"),
            (F.length("text") % 640).cast("int").alias("width"),
            (F.length("text") % 480).cast("int").alias("height"),
            F.when(is_video, (F.col("n_chars") % 7) * 1000 + 500)
            .cast("long")
            .alias("duration_ms"),
        ).alias("meta"),
    )


def _fake_decode(blob: bytes, n_features: int) -> list[float]:
    """Deterministic stand-in for image decode + embed: md5-seeded
    pseudo-features. Replace with a real decoder (Pillow + model) at
    the SAME signature — nothing else changes."""
    h = hashlib.md5(blob).digest()
    return [
        ((int.from_bytes(h[(4 * i) % 16 : (4 * i) % 16 + 4], "big") + i) % 10007)
        / 10007.0
        for i in range(n_features)
    ]


_PILLOW_PROBED: list = []  # memo: [] = unprobed, [None] or [Image]


def _pillow():
    """Import Pillow on the EXECUTOR, or None. A FAILED import is not
    negative-cached by the interpreter, so the probe memoizes its own
    result — callers may sit in per-blob closures."""
    if not _PILLOW_PROBED:
        try:
            from PIL import Image  # noqa: PLC0415

            _PILLOW_PROBED.append(Image)
        except ImportError:
            _PILLOW_PROBED.append(None)
    return _PILLOW_PROBED[0]


def _real_decode_features(blob: bytes, n_features: int) -> list[float]:
    """The real codec path: Pillow decode → grayscale → resample to
    n_features pixels → [0,1] floats. Raises if Pillow is absent or
    the blob is not a decodable image (strict-mode contract)."""
    import io as _io  # noqa: PLC0415

    from PIL import Image  # noqa: PLC0415

    img = Image.open(_io.BytesIO(blob)).convert("L").resize((n_features, 1))
    return [p / 255.0 for p in img.getdata()]


def _real_resize(blob: bytes, target_w: int, target_h: int) -> bytes:
    """Real resize: Pillow decode → resize → re-encode (PNG when the
    source format is unknown). Raises on absent Pillow / bad blob."""
    import io as _io  # noqa: PLC0415

    from PIL import Image  # noqa: PLC0415

    img = Image.open(_io.BytesIO(blob))
    fmt = img.format or "PNG"
    out = _io.BytesIO()
    img.resize((target_w, target_h)).save(out, format=fmt)
    return out.getvalue()


def extract_features(media: DataFrame, *, decode: str = "fake") -> DataFrame:
    """mapInPandas feature extraction over binary media columns: an
    N_FEATURES-float vector per blob.

    Arrow-batched: each batch arrives as a pandas DataFrame whose
    ``blob`` column holds raw bytes. Map-only — no shuffle touches
    the blobs."""
    if decode not in ("fake", "strict", "auto"):
        raise ValueError("decode must be 'fake', 'auto', or 'strict'")

    def features(b: bytes) -> list[float]:
        if decode == "strict":
            if _pillow() is None:
                raise NotImplementedError(
                    "real media decode requires Pillow/ffmpeg — not present "
                    "in this container; use decode='fake' or 'auto'"
                )
            return _real_decode_features(b, N_FEATURES)
        if decode == "auto" and _pillow() is not None:
            try:
                return _real_decode_features(b, N_FEATURES)
            except Exception:
                return _fake_decode(b, N_FEATURES)  # undecodable blob
        return _fake_decode(b, N_FEATURES)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf["blob"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": blobs.map(len).astype("int64"),
                    "content_md5": blobs.map(lambda b: hashlib.md5(bytes(b)).hexdigest()),
                    "feature": blobs.map(lambda b: features(bytes(b))),
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def resize_images(
    media: DataFrame, *, target_w: int = 64, target_h: int = 64, decode: str = "fake"
) -> DataFrame:
    """Image-resize plumbing: mapInPandas over (blob, meta), returning
    the same MEDIA_SCHEMA with updated dims and a re-encoded blob.

    ``decode=\"fake\"``: deterministic byte resample (truncate/cycle the
    source bytes to the target pixel budget) standing in for a real
    Pillow ``Image.resize``; ``decode=\"auto\"``: Pillow resize when
    importable and the blob decodes, fake resample otherwise;
    ``decode=\"strict\"`` requires the real codec. Map-only; output
    blob size is bounded by target dims, so a resize-then-shuffle
    pipeline shuffles the SMALL blobs, never the originals."""
    if decode not in ("fake", "strict", "auto"):
        raise ValueError("decode must be 'fake', 'auto', or 'strict'")
    budget = target_w * target_h

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:

            def fake_resample(raw: bytes) -> bytes:
                if not raw:
                    return b"\x00" * budget
                reps = (budget // len(raw)) + 1
                return (raw * reps)[:budget]

            def resample(b: bytes) -> bytes:
                raw = bytes(b)
                if decode == "strict":
                    if _pillow() is None:
                        raise NotImplementedError(
                            "real image resize requires Pillow — not present "
                            "in this container; use decode='fake' or 'auto'"
                        )
                    return _real_resize(raw, target_w, target_h)
                if decode == "auto" and _pillow() is not None:
                    try:
                        return _real_resize(raw, target_w, target_h)
                    except Exception:
                        return fake_resample(raw)
                return fake_resample(raw)

            meta = pd.DataFrame(list(pdf["meta"]))
            meta["width"] = target_w
            meta["height"] = target_h
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "blob": pdf["blob"].map(resample),
                    "meta": meta.to_dict("records"),
                }
            )

    return media.mapInPandas(run, schema=MEDIA_SCHEMA)


def frame_sample(media: DataFrame) -> DataFrame:
    """Video frame-sampling plumbing: expands each video row into
    (media_id, frame_ts_ms) rows, one every FRAME_EVERY_MS, from
    metadata alone — the binary column is dropped BEFORE the explode so
    bytes never multiply."""
    return (
        media.filter(F.col("meta.media_type") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.coalesce(F.col("meta.duration_ms"), F.lit(0)),
                    F.lit(FRAME_EVERY_MS).cast("long"),
                )
            ).alias("frame_ts_ms"),
        )
    )


AUDIO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_id", T.LongType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("energy", T.LongType(), False),
    ]
)


def audio_frame_energy(audio: DataFrame) -> DataFrame:
    """mapInPandas audio framing: fake-decode each blob as raw 8-bit
    samples (the deterministic stand-in for a PCM decoder — swap in
    soundfile/ffmpeg at the SAME signature), window into fixed
    AUDIO_FRAME-sample frames, and emit per-frame sample count + exact
    integer energy (sum of squared sample values). Map-only — blobs
    never shuffle; output is O(len/frame) small rows per clip, which
    is what downstream VAD/segmentation joins consume at corpus scale.
    Empty blobs produce zero frames."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_id": [], "n_samples": [], "energy": []}
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                b = bytes(blob) if blob is not None else b""
                for f0 in range(0, len(b), AUDIO_FRAME):
                    chunk = b[f0 : f0 + AUDIO_FRAME]
                    out["media_id"].append(mid)
                    out["frame_id"].append(f0 // AUDIO_FRAME)
                    out["n_samples"].append(len(chunk))
                    out["energy"].append(sum(x * x for x in chunk))
            yield pd.DataFrame(out)

    return audio.select("media_id", "blob").mapInPandas(run, AUDIO_FRAME_SCHEMA)


def phash16(media: DataFrame) -> DataFrame:
    """16-bit average-hash (aHash) over binary media blobs — the
    perceptual-dedup primitive (real pipelines: downscale to 8×8,
    threshold against the mean; here the fake-decode integer features
    stand in for the pixel grid, same signature as extract_features'
    escape hatch).

    INTEGER discipline: bit_i = (16·v_i > Σv) with v_i the
    pre-division fake-decode integers ((md5-window + i) mod 10007), so
    the hash is exact — no float mean, no cross-engine threshold
    boundary.  mapInPandas map-only: blobs never shuffle; only
    (media_id, phash) leaves the scan."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def ahash(b: bytes) -> int:
            h = hashlib.md5(b).digest()
            vs = [
                (int.from_bytes(h[(4 * i) % 16 : (4 * i) % 16 + 4], "big") + i)
                % 10007
                for i in range(16)
            ]
            s = sum(vs)
            return sum((1 << i) for i, v in enumerate(vs) if 16 * v > s)

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "phash16": pdf["blob"].map(lambda b: ahash(bytes(b))).astype("int64"),
                }
            )

    return media.select("media_id", "blob").mapInPandas(
        run, schema="media_id long, phash16 long"
    )
