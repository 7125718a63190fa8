"""Multimodal columns for training-data pipelines (extension surface,
SURVEY.md §7.5 — no reference counterpart).

Design: image/audio/video payloads are opaque ``binary`` columns paired
with a typed metadata struct (mime, width, height, n_frames, sample
rate). All heavy per-item work — decode, feature extraction, resize,
frame sampling — runs as Arrow-batched pandas transforms via
``mapInPandas``: the payload bytes NEVER pass through row-at-a-time
Python, and the batch shape (one Arrow record batch in, one out) is the
same shape a real codec worker would consume.

The actual codec step is STUBBED: no image/audio libraries are
installed, so ``decode`` parses a deterministic FAKE payload format (see
:func:`fake_payload`); a real codec plugs into the same batch loop.
Everything around the stub —
schemas, partitioning, UDF signatures, Arrow batching — is real and
tested (tests/test_multimodal.py).

Scale notes: mapInPandas streams Arrow batches, so executor memory is
bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` × item size;
decode stages should repartition by a key that spreads large payloads
(never by content hash of the payload itself — that shuffles the bytes;
partition on the id and let the scan stay columnar)."""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_MAGIC = b"FAKE1"


def fake_payload(text_col: str) -> Column:
    """Deterministic stand-in payload: ``FAKE1`` magic + the utf-8 text
    bytes. Lets every pipeline stage run on synthetic testdata with
    reproducible bytes; a real pipeline would read payloads from object
    storage via ``spark.read.format('binaryFile')``."""
    return F.concat(F.lit(_MAGIC), F.encode(F.col(text_col), "UTF-8"))


def with_media_columns(df: DataFrame, width: int = 8, height: int = 8) -> DataFrame:
    """Attach (payload binary, meta struct of mime ``image/x-fake``)
    derived deterministically from the ``text`` column — the schema
    contract every operator below consumes."""
    return df.withColumn("payload", fake_payload("text")).withColumn(
        "meta",
        F.struct(
            F.lit("image/x-fake").alias("mime"),
            F.lit(width).alias("width"),
            F.lit(height).alias("height"),
            F.lit(1).alias("n_frames"),
            F.lit(0).alias("sample_rate"),
        ),
    )


BYTE_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("payload_md5", StringType()),
        StructField("mean_byte", DoubleType()),
    ]
)


def byte_stats(df: DataFrame) -> DataFrame:
    """Payload byte statistics via ``mapInPandas``: per Arrow batch, a
    vectorized pass computing size, md5 and mean byte value. This is the
    canonical plumbing shape for any real decoder (bytes in → features
    out, one batch at a time, bounded memory)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import numpy as np

        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": payloads.map(len).astype("int64"),
                    "payload_md5": payloads.map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                    "mean_byte": payloads.map(
                        lambda b: float(np.frombuffer(bytes(b), dtype=np.uint8).mean())
                        if len(b)
                        else 0.0
                    ),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(run, BYTE_STATS_SCHEMA)


DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("pixels", ArrayType(DoubleType())),
    ]
)


def decode(df: DataFrame) -> DataFrame:
    """Decode payloads into a pixel array (row-major, grayscale [0,1]).

    STUB: the fake decoder maps payload bytes after the magic onto
    width×height pixels (repeating/truncating deterministically) —
    downstream stages (resize, embedding, dedup-by-content) behave
    exactly as they would on real decoded frames. A Pillow/ffmpeg
    decoder would replace ``decode_one``; the mapInPandas contract is
    unchanged."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out: dict[str, Any] = {"doc_id": pdf["doc_id"].astype("int64")}
            widths = pdf["meta"].map(lambda m: m["width"]).astype("int32")
            heights = pdf["meta"].map(lambda m: m["height"]).astype("int32")

            def decode_one(b: bytes, w: int, h: int) -> list[float]:
                body = bytes(b)[len(_MAGIC):]
                need = w * h
                if not body:
                    return [0.0] * need
                arr = np.frombuffer(body, dtype=np.uint8)
                arr = np.resize(arr, need)  # repeat/truncate deterministically
                return (arr / 255.0).tolist()

            out["width"] = widths
            out["height"] = heights
            out["pixels"] = [
                decode_one(b, w, h)
                for b, w, h in zip(pdf["payload"], widths, heights)
            ]
            yield pd.DataFrame(out)

    return df.select("doc_id", "payload", "meta").mapInPandas(run, DECODE_SCHEMA)


def resize(decoded: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize of decoded pixel arrays — vectorized numpy
    inside mapInPandas (a real pipeline would swap in PIL.Image.resize;
    the frame contract (doc_id, width, height, pixels) is identical)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            def one(px: list[float], w: int, h: int) -> list[float]:
                a = np.asarray(px, dtype=np.float64).reshape(h, w)
                yi = (np.arange(out_h) * h // out_h).clip(0, h - 1)
                xi = (np.arange(out_w) * w // out_w).clip(0, w - 1)
                return a[np.ix_(yi, xi)].ravel().tolist()

            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": out_w,
                    "height": out_h,
                    "pixels": [
                        one(p, w, h)
                        for p, w, h in zip(pdf["pixels"], pdf["width"], pdf["height"])
                    ],
                }
            )

    return decoded.mapInPandas(run, DECODE_SCHEMA)


FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_payload", BinaryType()),
    ]
)


def sample_frames(df: DataFrame, every_n: int = 2) -> DataFrame:
    """Video frame sampling STUB: treats the payload as ``n_frames``
    equal byte-slices and emits every ``every_n``-th slice as its own
    row — the fan-out (one media row → many frame rows) and the schema
    are exactly what a real ffmpeg-backed sampler produces."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for i, b, m in zip(pdf["doc_id"], pdf["payload"], pdf["meta"]):
                body = bytes(b)[len(_MAGIC):]
                n = max(int(m["n_frames"]), 1)
                step = max(len(body) // n, 1)
                for f in range(0, n, every_n):
                    ids.append(int(i))
                    idxs.append(f)
                    frames.append(body[f * step : (f + 1) * step])
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_payload": frames}
            )

    return df.select("doc_id", "payload", "meta").mapInPandas(run, FRAME_SAMPLE_SCHEMA)


AUDIO_ENERGY_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("n_frames", LongType()),
        StructField("total_sq", LongType()),
        StructField("peak_frame_sq", LongType()),
    ]
)


def audio_frame_energy(df: DataFrame, frame_len: int = 256) -> DataFrame:
    """Audio feature extraction STUB: treat the payload body as 8-bit
    PCM (sample = byte − 128), frame it into ``frame_len``-sample
    windows (last window may be partial) and emit per-item energy
    features — sample count, frame count, total squared energy, and the
    peak per-frame squared energy. The framing/windowing shape is
    exactly what a real librosa/ffmpeg front-end produces; all energy
    math is integer, so the oracle check is exact, not approximate. A
    real PCM decoder (soundfile/ffmpeg) would plug into the batch loop;
    the mapInPandas contract is unchanged."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, ns, nf, tot, peak = [], [], [], [], []
            for i, b in zip(pdf["doc_id"], pdf["payload"]):
                body = bytes(b)[len(_MAGIC):]
                ids.append(int(i))
                if not body:
                    ns.append(0); nf.append(0); tot.append(0); peak.append(0)
                    continue
                # int64 immediately: (byte-128)² sums must never wrap
                s = np.frombuffer(body, dtype=np.uint8).astype(np.int64) - 128
                sq = s * s
                n = len(s)
                frames = [
                    int(sq[f : f + frame_len].sum())
                    for f in range(0, n, frame_len)
                ]
                ns.append(n)
                nf.append(len(frames))
                tot.append(int(sq.sum()))
                peak.append(max(frames))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_samples": ns,
                    "n_frames": nf,
                    "total_sq": tot,
                    "peak_frame_sq": peak,
                }
            )

    return df.select("doc_id", "payload").mapInPandas(run, AUDIO_ENERGY_SCHEMA)


AHASH_SCHEMA = "doc_id bigint, h1 bigint, h2 bigint"


def average_hash(df: DataFrame) -> DataFrame:
    """Average-hash (aHash) perceptual fingerprint of each media
    payload: the 64 "pixels" (payload bytes after the magic, repeated/
    truncated to 64 exactly like :func:`decode`) become one bit each —
    1 iff the byte exceeds the integer-floor mean — packed as TWO
    int32-range bigints (h1 = bits 0-31, h2 = bits 32-63) so Hamming
    distance is ``bit_count(a.h1 ^ b.h1) + bit_count(a.h2 ^ b.h2)`` in
    any engine (a single int64 pack flips sign at bit 63 and engines
    disagree on << 63 semantics).

    All integer arithmetic ⇒ the fingerprint is engine-exact — an
    oracle-checkable stand-in for DCT pHash, whose float cosines
    aren't. Real-codec swap point: feed real grayscale pixels from
    a real :func:`decode` into the same bit rule; the
    mapInPandas contract is unchanged. Arrow-batched; payload bytes
    never hit row-wise Python."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            h1s, h2s = [], []
            for b in pdf["payload"]:
                body = bytes(b)[len(_MAGIC):]
                arr = (
                    np.resize(np.frombuffer(body, dtype=np.uint8), 64)
                    if body
                    else np.zeros(64, dtype=np.uint8)
                )
                mean = int(arr.sum()) // 64
                bits = (arr.astype(np.int64) > mean).astype(np.int64)
                weights = 1 << np.arange(32, dtype=np.int64)
                h1s.append(int((bits[:32] * weights).sum()))
                h2s.append(int((bits[32:] * weights).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "h1": h1s,
                    "h2": h2s,
                }
            )

    return df.select("doc_id", "payload").mapInPandas(run, AHASH_SCHEMA)
