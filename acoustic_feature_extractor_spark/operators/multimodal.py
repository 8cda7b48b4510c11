"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct; decode and feature extraction run as Arrow-batched
kernels over ``mapInPandas``. The decode step itself is
STUBBED (no image/audio libs in this container): ``decode_stub`` raises
``NotImplementedError`` unless ``fake=True``, in which case it produces a
deterministic fake feature vector from the bytes — the Spark-side plumbing
(schema, batching, partitioning, UDF signature) is real and tested.

This is the shape the reference's heavy kernels take too (mel-spectrogram
``spectrogram.py:6-49``, pyworld f0 ``f0.py:22-53``): a vectorized
library call inside an Arrow batch, never per-row Python.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 8


def attach_binary_payload(df: DataFrame) -> DataFrame:
    """Make a media table out of a text table (sandbox fixture): payload =
    utf-8 bytes, metadata derived from length. Deterministic."""
    n = F.length(F.col("text"))
    return df.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            (n % 640).cast("int").alias("width"),
            (n % 480).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def encode_wav_pcm16(samples, sample_rate: int) -> bytes:
    """Minimal RIFF/WAVE writer: mono 16-bit PCM, pure numpy — the
    fixture-side inverse of :func:`decode_wav_pcm16` (reference writes via
    soundfile, ``wave.py:31-32``; this is the same container, lib-free).

    ``samples``: float array in [-1, 1); quantized to int16 by *32768
    (soundfile/librosa convention), clipped at the int16 rails."""
    import struct

    import numpy as np

    x = np.asarray(samples, dtype=np.float64)
    pcm = np.clip(np.round(x * 32768.0), -32768, 32767).astype("<i2")
    data = pcm.tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


def decode_wav_pcm16(payload: bytes):
    """Minimal RIFF/WAVE reader: 16-bit PCM, pure ``numpy.frombuffer``.

    Returns ``(wave float64 in [-1, 1), sample_rate)`` with librosa/
    soundfile scaling (int16 / 32768 — the load semantics the reference
    relies on at ``wave.py:16-32``); multi-channel audio is averaged to
    mono AFTER scaling, matching ``librosa.load(mono=True)``. Walks the
    chunk list properly (handles extra chunks like LIST before data)."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, n_channels, sample_rate, bits, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt, n_channels, sample_rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if fmt != 1 or bits != 16:
                raise ValueError(f"only PCM16 supported (fmt={fmt}, bits={bits})")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if data is None or sample_rate is None:
        raise ValueError("missing fmt/data chunk")
    pcm = np.frombuffer(data[: len(data) - len(data) % (2 * n_channels)], dtype="<i2")
    wave = pcm.astype(np.float64) / 32768.0
    if n_channels > 1:
        wave = wave.reshape(-1, n_channels).mean(axis=1)
    return wave, sample_rate


def decode_stub(payload: bytes, kind: str, fake: bool) -> list[float]:
    """Decode kernel. ``fake=True``: deterministic FEATURE_DIM vector from
    byte statistics (plumbing test double). ``fake=False``: REAL decode for
    the formats expressible lib-free — WAV/PCM16 audio via
    :func:`decode_wav_pcm16` — anything else raises (PIL/soundfile/av are
    not in this container).
    """
    if not fake:
        if kind == "audio" and payload is not None and payload[:4] == b"RIFF":
            import numpy as np

            wave, sr = decode_wav_pcm16(payload)
            n = len(wave)
            if n == 0:
                return [0.0, float(sr)] + [0.0] * (FEATURE_DIM - 2)
            return [
                float(n),
                float(sr),
                float(wave.mean()),
                float(wave.std()),
                float(wave.min()),
                float(wave.max()),
                float(np.sqrt(np.mean(wave * wave))),  # RMS level
                float(np.count_nonzero(np.diff(np.signbit(wave)))),  # zero crossings
            ]
        raise NotImplementedError(
            "media decode requires PIL/soundfile/av — not available in this "
            "environment (only RIFF/PCM16 audio decodes lib-free); pass "
            "fake=True for the deterministic test double"
        )
    if payload is None or len(payload) == 0:
        return [0.0] * FEATURE_DIM
    import numpy as np

    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
    return [
        float(len(arr)),
        float(arr.mean()),
        float(arr.std()),
        float(arr.min()),
        float(arr.max()),
        float(arr[: len(arr) // 2].mean() if len(arr) >= 2 else arr.mean()),
        float(arr.sum() % 997),
        float((arr[0] if len(arr) else 0.0)),
    ]


def extract_media_features(df: DataFrame, fake: bool = True) -> DataFrame:
    """Arrow-batched media featurization over ``mapInPandas``.

    Output: (media_id, kind, n_bytes, features array<double>). The kernel
    is vectorized per batch; at scale the input is partitioned by media_id
    ranges so batches are size-uniform regardless of payload skew.
    """
    out_schema = "media_id long, kind string, n_bytes long, features array<double>"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_stub(p, k, fake) for p, k in zip(pdf["payload"], pdf["kind"])]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "features": feats,
                }
            )

    return df.mapInPandas(kernel, schema=out_schema)
