"""Multimodal column plumbing (north-star extension — BASELINE.json:
image/audio/video as opaque binary columns with typed metadata).

The container has no image/audio codecs, so the DECODE step is stubbed
(deterministic fake features, or NotImplementedError when a real codec is
demanded) — but everything Spark-side is real and tested: binary column
handling, typed metadata schema, Arrow batch shape through mapInPandas,
and the partitioning story (batch size bounded by
spark.sql.execution.arrow.maxRecordsPerBatch; payloads stay off the
driver).

Real-codec integration point: replace `_fake_decode` with PIL/ffmpeg
inside the same mapInPandas signature — the plan shape doesn't change.
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_DIM = 4

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("checksum", T.LongType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def _fake_decode(payload: bytes) -> list[float]:
    """Deterministic stand-in for decode→feature-extract: FEATURE_DIM
    doubles derived from the payload digest. Swap for a real codec here."""
    digest = hashlib.md5(payload).digest()
    return [
        int.from_bytes(digest[4 * i : 4 * i + 4], "big") / 2**32
        for i in range(FEATURE_DIM)
    ]


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Arrow ships each partition as pandas batches; payload bytes never
    touch the driver. One narrow stage — scales with input splits."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": payloads.map(len).astype("int32"),
                    "checksum": payloads.map(
                        lambda b: zlib.crc32(b) & 0xFFFFFFFF
                    ).astype("int64"),
                    "features": payloads.map(_fake_decode),
                }
            )

    return media.mapInPandas(op, FEATURES_SCHEMA)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as opaque payloads so the binary
    pipeline is exercisable on the synthetic corpus."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit("text/plain").alias("media_type"),
    )


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_md5", T.StringType()),
    ]
)

MAX_SAMPLED_FRAMES = 8


def sample_frames(media: DataFrame) -> DataFrame:
    """Strided frame sampling over video-like payloads: each payload
    declares n_frames (synthetic metadata: 1 + n_bytes mod 240, i.e. up
    to 10s at 24fps), and at most MAX_SAMPLED_FRAMES evenly-strided
    frames are 'extracted'. Extraction is the codec stub — the frame
    digest is md5(payload ++ ':' ++ index), so the whole
    binary→Arrow→Python→per-frame fan-out is value-checkable in DuckDB.
    A real integration swaps the digest for an ffmpeg/PIL frame grab in
    the same mapInPandas signature; the fan-out shape (one output row
    per sampled frame, bounded by the cap) is exactly a real sampler's.
    """
    import math

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_id, out_n, out_idx, out_md5 = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                n_frames = 1 + len(payload) % 240
                step = math.ceil(n_frames / MAX_SAMPLED_FRAMES)
                for idx in range(0, n_frames, step):
                    out_id.append(mid)
                    out_n.append(n_frames)
                    out_idx.append(idx)
                    out_md5.append(
                        hashlib.md5(
                            payload + b":" + str(idx).encode()
                        ).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out_id, dtype="int64"),
                    "n_frames": pd.Series(out_n, dtype="int32"),
                    "frame_idx": pd.Series(out_idx, dtype="int32"),
                    "frame_md5": pd.Series(out_md5, dtype="object"),
                }
            )

    return media.mapInPandas(op, FRAMES_SCHEMA)


POOL_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("block", T.LongType()),
        T.StructField("mean_px", T.DoubleType()),
    ]
)

POOL_OUT = 4  # output grid is POOL_OUT x POOL_OUT blocks


def resize_pool(media: DataFrame) -> DataFrame:
    """Average-pool 'resize' over pixel-grid payloads: each payload's
    first side*side bytes (side = isqrt(n_bytes)) are treated as a
    side x side uint8 image and pooled to a POOL_OUT x POOL_OUT grid of
    block means — real average-pooling math on the stub pixel source.
    Payloads shorter than POOL_OUT**2 bytes are dropped (no full grid).

    Vectorized per Arrow batch: one np.bincount pair per payload, no
    per-pixel Python. Pixel (r, c) maps to block (r*POOL_OUT)//side,
    (c*POOL_OUT)//side — near-equal block sizes without padding. Block
    means are exact (integer sums < 2^53 / exact counts), so the numpy
    path, the native-SQL twin (mm_resize_pool), and the DuckDB oracle
    agree bit-for-bit — the verification triangle for the one pipeline
    stage (decode) that has to be simulated in this container.

    Real-codec integration: replace the frombuffer line with a PIL
    decode + np.asarray; signature and plan shape stay identical.
    """
    import math

    import numpy as np

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_id, out_blk, out_mean = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                side = math.isqrt(len(payload))
                if side < POOL_OUT:
                    continue
                grid = np.frombuffer(
                    payload[: side * side], dtype=np.uint8
                ).reshape(side, side)
                rows = (np.arange(side) * POOL_OUT) // side
                blocks = (rows[:, None] * POOL_OUT + rows[None, :]).ravel()
                sums = np.bincount(
                    blocks, weights=grid.ravel().astype(np.float64),
                    minlength=POOL_OUT * POOL_OUT,
                )
                counts = np.bincount(blocks, minlength=POOL_OUT * POOL_OUT)
                means = sums / counts
                out_id.extend([mid] * (POOL_OUT * POOL_OUT))
                out_blk.extend(range(POOL_OUT * POOL_OUT))
                out_mean.extend(means.tolist())
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out_id, dtype="int64"),
                    "block": pd.Series(out_blk, dtype="int64"),
                    "mean_px": pd.Series(out_mean, dtype="float64"),
                }
            )

    return media.mapInPandas(op, POOL_SCHEMA)


AUDIO_ENERGY_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("win_idx", T.IntegerType()),
        T.StructField("energy", T.LongType()),
        T.StructField("peak", T.IntegerType()),
    ]
)

_AUDIO_WIN = 64  # bytes per analysis window
_AUDIO_MAX_WIN = 8  # analyze at most the first 8 windows per payload


def audio_window_energy(media: DataFrame) -> DataFrame:
    """Windowed audio-style DSP over raw binary payloads: interpret
    bytes as unsigned 8-bit samples centered at 128 (the PCM-u8
    convention), split into 64-byte analysis windows (first 8), and
    emit per-window energy (Σ(b−128)²) and peak amplitude — the
    silence-detection / loudness-normalization primitives an audio
    ingest pipeline runs before any codec work. The whole computation
    is numpy-vectorized inside mapInPandas (frombuffer → reshape →
    einsum-free integer reductions); bytes never leave the executors,
    and the output is exact int64 — no float DSP, so the oracle can
    replay it from hex slices. Partial trailing windows are analyzed
    at their true length (no padding — padding with 0x00 would inject
    a phantom −128 sample per pad byte)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, wins, energies, peaks = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                arr = arr - 128
                n_win = min(
                    _AUDIO_MAX_WIN,
                    (len(arr) + _AUDIO_WIN - 1) // _AUDIO_WIN,
                )
                for w in range(n_win):
                    seg = arr[w * _AUDIO_WIN : (w + 1) * _AUDIO_WIN]
                    ids.append(mid)
                    wins.append(w)
                    energies.append(int((seg * seg).sum()))
                    peaks.append(int(np.abs(seg).max()))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "win_idx": pd.Series(wins, dtype="int32"),
                    "energy": pd.Series(energies, dtype="int64"),
                    "peak": pd.Series(peaks, dtype="int32"),
                }
            )

    return media.mapInPandas(op, AUDIO_ENERGY_SCHEMA)
