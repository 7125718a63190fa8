"""Multimodal plumbing tests: binary payload + metadata schema, Arrow-
batched mapInPandas decode/resize/frame-sample stages, and the stubbed
real-codec integration point."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.operators import multimodal as mm

TEXTS = [(0, "hello world"), (1, "abc"), (2, "")]


def media_df(spark, width=8, height=8):
    df = spark.createDataFrame(TEXTS, "doc_id long, text string")
    return mm.with_media_columns(df, width=width, height=height)


def test_media_schema_contract(spark):
    df = media_df(spark)
    assert dict(df.dtypes)["payload"] == "binary"
    meta_fields = {f.name for f in df.schema["meta"].dataType.fields}
    assert meta_fields == {"mime", "width", "height", "n_frames", "sample_rate"}


def test_byte_stats_matches_hashlib(spark):
    out = {r.doc_id: r for r in mm.byte_stats(media_df(spark)).collect()}
    for doc_id, text in TEXTS:
        payload = b"FAKE1" + text.encode()
        assert out[doc_id].n_bytes == len(payload)
        assert out[doc_id].payload_md5 == hashlib.md5(payload).hexdigest()
        if payload:
            expected_mean = float(
                np.frombuffer(payload, dtype=np.uint8).mean()
            )
            assert out[doc_id].mean_byte == pytest.approx(expected_mean)


def test_decode_fake_pixels(spark):
    out = {r.doc_id: r for r in mm.decode(media_df(spark)).collect()}
    body = b"hello world"
    arr = np.resize(np.frombuffer(body, dtype=np.uint8), 64) / 255.0
    assert out[0].width == 8 and out[0].height == 8
    assert out[0].pixels == pytest.approx(arr.tolist())
    # empty payload → all-zero frame, still full size
    assert out[2].pixels == [0.0] * 64


def test_resize_nearest_neighbor(spark):
    decoded = mm.decode(media_df(spark))
    out = {r.doc_id: r for r in mm.resize(decoded, 2, 2).collect()}
    body = b"hello world"
    a = (np.resize(np.frombuffer(body, dtype=np.uint8), 64) / 255.0).reshape(8, 8)
    yi = (np.arange(2) * 8 // 2).clip(0, 7)
    expected = a[np.ix_(yi, yi)].ravel().tolist()
    assert out[0].width == 2 and out[0].height == 2
    assert out[0].pixels == pytest.approx(expected)


def test_sample_frames_fan_out(spark):
    df = media_df(spark).withColumn(
        "meta",
        F.struct(
            F.lit("video/x-fake").alias("mime"),
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
            F.lit(4).alias("n_frames"),
            F.lit(0).alias("sample_rate"),
        ),
    )
    out = mm.sample_frames(df, every_n=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # 4 frames sampled every 2nd → frames 0 and 2 per doc
    for doc_id, _ in TEXTS:
        assert sorted(r.frame_idx for r in by_doc[doc_id]) == [0, 2]
    # frame bytes partition the body deterministically
    body = b"hello world"
    step = max(len(body) // 4, 1)
    frames = {r.frame_idx: bytes(r.frame_payload) for r in by_doc[0]}
    assert frames[0] == body[0:step]
    assert frames[2] == body[2 * step : 3 * step]


def test_corpus_is_ascii_for_framesample_oracle(spark):
    """The op-ext-mm-framesample oracle slices VARCHAR (DuckDB 1.0 lacks
    BLOB substr) — valid only while the corpus is pure ASCII. Pin it."""
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    non_ascii = docs.filter(
        F.length(F.col("text")) != F.octet_length(F.col("text"))
    ).count()
    assert non_ascii == 0


def test_audio_frame_energy_math(spark):
    """Hand-computed energies for the fake 8-bit PCM decode: sample =
    byte − 128, 4-sample frames, integer sums."""
    df = spark.createDataFrame(TEXTS, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in mm.audio_frame_energy(
            mm.with_media_columns(df), frame_len=4
        ).collect()
    }
    for doc_id, text in TEXTS:
        body = text.encode()
        sq = [(b - 128) ** 2 for b in body]
        r = out[doc_id]
        assert r.n_samples == len(body)
        assert r.total_sq == sum(sq)
        if body:
            frames = [sum(sq[i : i + 4]) for i in range(0, len(sq), 4)]
            assert r.n_frames == len(frames)
            assert r.peak_frame_sq == max(frames)
        else:
            assert (r.n_frames, r.peak_frame_sq) == (0, 0)


def test_average_hash_identical_payloads_collide(spark):
    from pyspark.sql import functions as F

    from data_warehousing_assignment_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other words here")],
        ["doc_id", "text"],
    )
    h = mm.average_hash(mm.with_media_columns(df)).collect()
    by = {r["doc_id"]: (r["h1"], r["h2"]) for r in h}
    assert by[1] == by[2]
    assert by[1] != by[3]
    # halves stay in uint32 range (packable, sign-safe)
    for v1, v2 in by.values():
        assert 0 <= v1 < 2**32 and 0 <= v2 < 2**32
