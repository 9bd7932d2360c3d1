"""Multimodal plumbing tests: schema, Arrow batch shape, determinism,
and the strict-decode stub surface (SURVEY.md §2C multimodal row —
codec stubbed, Spark plumbing real)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark import io
from tda596_lab02mapreduce_spark.operators import multimodal as mm


def _media(spark, sf_dir):
    return mm.media_table_from_documents(io.load(spark, sf_dir, "documents"))


def test_media_schema(spark, sf_smoke):
    media = _media(spark, sf_smoke)
    assert [f.name for f in media.schema.fields] == ["media_id", "blob", "meta"]
    assert media.schema["blob"].dataType.typeName() == "binary"
    assert media.schema["meta"].dataType.typeName() == "struct"


def test_feature_extraction_shape_and_determinism(spark, sf_smoke):
    media = _media(spark, sf_smoke)
    feats = mm.extract_features(media)
    rows = feats.collect()
    assert len(rows) == media.count()
    for r in rows[:10]:
        assert len(r.feature) == 8
        assert all(0.0 <= x < 1.0 for x in r.feature)
        assert len(r.content_md5) == 32
    # deterministic across runs and partitionings
    again = {
        r.media_id: (r.content_md5, tuple(r.feature))
        for r in mm.extract_features(media.repartition(7)).collect()
    }
    first = {r.media_id: (r.content_md5, tuple(r.feature)) for r in rows}
    assert first == again


def test_feature_md5_matches_sql_md5(spark, sf_smoke):
    """The pandas-side md5 must agree with Spark's JVM md5 over the
    same bytes (cross-checks the Arrow binary transport)."""
    media = _media(spark, sf_smoke)
    jvm = media.select("media_id", F.md5("blob").alias("m"))
    py = mm.extract_features(media).select(
        "media_id", F.col("content_md5").alias("m")
    )
    assert {(r.media_id, r.m) for r in jvm.collect()} == {
        (r.media_id, r.m) for r in py.collect()
    }


def test_strict_decode_raises(spark, sf_smoke):
    media = _media(spark, sf_smoke).limit(1)
    with pytest.raises(Exception) as ei:
        mm.extract_features(media, decode="strict").collect()
    assert "NotImplementedError" in str(ei.value) or "real media decode" in str(ei.value)


def test_auto_decode_falls_back_to_fake_on_undecodable_blobs(spark, sf_smoke):
    """decode='auto' must equal decode='fake' when the blobs aren't
    decodable images — true in this container (no Pillow: global
    fallback) AND in a codec-full one (the text blobs fail Image.open
    per-row and fall back). Same-output either way = the same job runs
    unchanged in both environments."""
    media = _media(spark, sf_smoke).limit(50)
    fake = {
        r.media_id: tuple(r.feature)
        for r in mm.extract_features(media, decode="fake").collect()
    }
    auto = {
        r.media_id: tuple(r.feature)
        for r in mm.extract_features(media, decode="auto").collect()
    }
    assert fake == auto
    rz_fake = {
        r.media_id: bytes(r.blob)
        for r in mm.resize_images(media, target_w=8, target_h=8, decode="fake").collect()
    }
    rz_auto = {
        r.media_id: bytes(r.blob)
        for r in mm.resize_images(media, target_w=8, target_h=8, decode="auto").collect()
    }
    assert rz_fake == rz_auto


def test_real_decode_path_with_pillow():
    """The real codec functions themselves, exercised only where Pillow
    exists (importorskip): a generated PNG must decode to n normalized
    grayscale samples and resize to the target dims."""
    pytest.importorskip("PIL")
    import io as _io

    from PIL import Image

    buf = _io.BytesIO()
    Image.new("RGB", (32, 16), (200, 40, 90)).save(buf, format="PNG")
    png = buf.getvalue()

    feats = mm._real_decode_features(png, 8)
    assert len(feats) == 8 and all(0.0 <= x <= 1.0 for x in feats)
    resized = mm._real_resize(png, 4, 6)
    img = Image.open(_io.BytesIO(resized))
    assert img.size == (4, 6) and img.format == "PNG"
    # and the strict path through the operator is the real one: a valid
    # PNG must NOT produce the fake md5-derived features
    assert feats != mm._fake_decode(png, 8)


def test_frame_sample_counts(spark, sf_smoke):
    media = _media(spark, sf_smoke).limit(20)
    video = media.withColumn(
        "meta",
        F.struct(
            F.lit("video").alias("media_type"),
            F.lit("fake").alias("format"),
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
            F.lit(3500).cast("long").alias("duration_ms"),
        ),
    )
    frames = mm.frame_sample(video)
    # 0,1000,2000,3000 → 4 frames per video
    assert frames.count() == 20 * 4
    assert frames.columns == ["media_id", "frame_ts_ms"]


def test_resize_plumbing_shapes_and_determinism(spark, sf_smoke):
    media = mm.media_table_from_documents(io.load(spark, sf_smoke, "documents"))
    out = mm.resize_images(media, target_w=16, target_h=8)
    rows = out.limit(20).collect()
    assert rows
    for r in rows:
        assert len(r.blob) == 16 * 8
        assert r.meta.width == 16 and r.meta.height == 8
        # media_type/format/duration metadata rides through unchanged
        assert r.meta.media_type in ("image", "video")
    # deterministic across runs
    a = {(r.media_id, bytes(r.blob)) for r in out.limit(20).collect()}
    assert {(r.media_id, bytes(r.blob)) for r in rows} == a


def test_resize_strict_raises(spark, sf_smoke):
    media = mm.media_table_from_documents(io.load(spark, sf_smoke, "documents"))
    with pytest.raises(Exception, match="NotImplementedError|Pillow"):
        mm.resize_images(media, decode="strict").limit(1).collect()


def test_resize_oracle_fixture_precondition(spark):
    """ADVICE r1: the multimodal_resize DuckDB oracle reproduces the
    byte-cycling resample with *character* ops (repeat/substring/md5),
    which is only byte-equivalent for non-empty pure-ASCII text — and
    `128 // length(text)` NULLs out on empty text. Pin the precondition
    at every SF so a fixture regeneration fails here, loudly, instead
    of as a mysterious oracle hash mismatch."""
    from pyspark.sql import functions as F

    from tda596_lab02mapreduce_spark import io

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        docs = io.load(spark, f"/root/testdata/{sf}", "documents")
        bad = docs.filter(
            (F.length("text") == 0)
            | (F.octet_length("text") != F.length("text"))
        ).count()
        assert bad == 0, f"{sf}: documents.text has empty or non-ASCII rows"


def test_blob_chunk_manifest_empty_blob_emits_no_rows(spark):
    """ADVICE r11 (medium): Spark's sequence(0, -1) silently infers
    step -1 and yields [0, -1] — an empty blob would emit two spurious
    chunk rows (one with a negative substring start) while the DuckDB
    oracle's range(0) emits none. The query filters empty blobs before
    the explode; pin that with a synthetic empty document."""
    from tda596_lab02mapreduce_spark.queries.multimodal import (
        blob_chunk_manifest,
    )

    docs = spark.createDataFrame(
        [(1, "", 0), (2, "x" * 300, 300)],
        "doc_id long, text string, n_chars long",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        out = blob_chunk_manifest(spark, d).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r.media_id, []).append(r)
    assert 1 not in by_id  # empty blob: ZERO chunks, not [0, -1]
    assert sorted(r.chunk_idx for r in by_id[2]) == [0, 1, 2]
    assert [r.chunk_bytes for r in sorted(by_id[2], key=lambda r: r.chunk_idx)] == [
        128,
        128,
        44,
    ]
