"""Multimodal plumbing: Arrow-batched stub decode over mapInPandas."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from acoustic_feature_extractor_spark.operators.multimodal import (
    attach_binary_payload,
    decode_stub,
    extract_media_features,
)


def _docs(spark):
    pdf = pd.DataFrame({"doc_id": [0, 1, 2], "text": ["hello world", "abc", "x" * 100]})
    return spark.createDataFrame(pdf)


def test_media_features_match_local_stub(spark):
    media = attach_binary_payload(_docs(spark))
    out = {r["media_id"]: r for r in extract_media_features(media, fake=True).collect()}
    for doc_id, text in [(0, "hello world"), (1, "abc"), (2, "x" * 100)]:
        exp = decode_stub(text.encode(), "image", fake=True)
        assert out[doc_id]["n_bytes"] == len(text.encode())
        np.testing.assert_allclose(out[doc_id]["features"], exp)


def test_decode_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        decode_stub(b"bytes", "image", fake=False)


def test_wav_roundtrip_sample_exact():
    # int16-quantized samples survive encode→decode bit-exactly
    from acoustic_feature_extractor_spark.operators.multimodal import (
        decode_wav_pcm16,
        encode_wav_pcm16,
    )

    rng = np.random.RandomState(7)
    x = np.round(rng.uniform(-1, 1, 480) * 32767) / 32768.0  # on the int16 grid
    payload = encode_wav_pcm16(x, sample_rate=24000)
    wave, sr = decode_wav_pcm16(payload)
    assert sr == 24000
    np.testing.assert_array_equal(wave, x)


def test_wav_decode_stereo_and_extra_chunks():
    import struct

    from acoustic_feature_extractor_spark.operators.multimodal import decode_wav_pcm16

    # hand-built stereo file with a LIST chunk BEFORE data
    pcm = np.array([[100, 300], [-200, 400]], dtype="<i2")  # 2 frames x 2 ch
    data = pcm.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 2, 16000, 16000 * 4, 4, 16)
    lst = b"INFOfake"
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"LIST" + struct.pack("<I", len(lst)) + lst
        + b"data" + struct.pack("<I", len(data)) + data
    )
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    wave, sr = decode_wav_pcm16(payload)
    assert sr == 16000
    np.testing.assert_allclose(wave, [(100 + 300) / 2 / 32768.0, (-200 + 400) / 2 / 32768.0])


def test_extract_media_features_real_wav(spark):
    # fake=False works end-to-end on RIFF/PCM16 audio payloads — the real
    # decode path, distributed over mapInPandas
    import pyspark.sql.functions as F

    from acoustic_feature_extractor_spark.operators.multimodal import encode_wav_pcm16

    rng = np.random.RandomState(11)
    rows = []
    for i in range(3):
        x = np.round(rng.uniform(-1, 1, 100 + 10 * i) * 32767) / 32768.0
        rows.append((i, "audio", encode_wav_pcm16(x, 8000 * (i + 1)), x))
    pdf = pd.DataFrame(
        {"media_id": [r[0] for r in rows], "kind": [r[1] for r in rows], "payload": [r[2] for r in rows]}
    )
    df = spark.createDataFrame(pdf).withColumn(
        "meta",
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(8000).alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
        ),
    )
    out = {r["media_id"]: r for r in extract_media_features(df, fake=False).collect()}
    for i, _, payload, x in rows:
        exp = decode_stub(payload, "audio", fake=False)
        np.testing.assert_allclose(out[i]["features"], exp)
        assert exp[0] == len(x) and exp[1] == 8000 * (i + 1)
        np.testing.assert_allclose(exp[2], x.mean())
