"""Operator-level tests for the r20 staged families: the WAV payload
is a REAL readable wav file whose samples round-trip through the
stdlib decoder, the frame features match a NumPy reference computed
independently, and malformed payloads drop cleanly."""

from __future__ import annotations

import io
import wave

import numpy as np
import pytest

from extended_ops.operators.multimodal import (
    AUDIO_N_SAMPLES,
    AUDIO_SAMPLE_RATE,
    audio_frame_features,
    with_wav_payload,
)


def test_wav_payload_is_a_real_wav_file(spark):
    df = spark.createDataFrame([(7,), (123,)], "doc_id long")
    rows = with_wav_payload(df).collect()
    for r in rows:
        with wave.open(io.BytesIO(bytes(r.payload))) as w:
            assert w.getnchannels() == 1
            assert w.getsampwidth() == 2
            assert w.getframerate() == AUDIO_SAMPLE_RATE
            assert w.getnframes() == AUDIO_N_SAMPLES
        assert r.media_meta.n_bytes == 44 + 2 * AUDIO_N_SAMPLES
        assert r.media_meta.media_type == "audio/wav"


def test_frame_features_match_numpy_reference(spark):
    df = spark.createDataFrame([(42,)], "doc_id long")
    clips = with_wav_payload(df)
    payload = bytes(clips.collect()[0].payload)
    v = np.frombuffer(payload[44:], dtype="<i2").astype(np.int64)
    frame = 32
    got = {
        r.frame_id: r
        for r in audio_frame_features(clips, frame=frame).collect()
    }
    assert len(got) == AUDIO_N_SAMPLES // frame
    for fid in got:
        w = v[fid * frame:(fid + 1) * frame]
        nonneg = w >= 0
        assert got[fid].energy == int((w * w).sum()), fid
        assert got[fid].zero_crossings == int(
            (nonneg[1:] != nonneg[:-1]).sum()
        ), fid
        assert got[fid].peak == int(np.abs(w).max()), fid
        assert got[fid].n_samples == frame


def test_frame_features_drop_malformed_payloads(spark):
    rows = [
        (1, None),
        (2, b"short"),
        (3, b"\x00" * 45),  # header + odd body length
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    assert audio_frame_features(df).count() == 0


def test_frame_features_partial_tail_frame(spark):
    # 44-byte header + 10 samples, frame=8 -> one full + one 2-sample
    samples = np.arange(-5, 5, dtype="<i2")
    df = spark.createDataFrame(
        [(1, b"\x00" * 44 + samples.tobytes())],
        "doc_id long, payload binary",
    )
    got = {
        r.frame_id: r for r in audio_frame_features(df, frame=8).collect()
    }
    assert got[0].n_samples == 8 and got[1].n_samples == 2
    assert got[1].energy == int((samples[8:].astype(np.int64) ** 2).sum())


def test_frame_features_validation(spark):
    df = spark.createDataFrame([(1, b"")], "doc_id long, payload binary")
    with pytest.raises(ValueError, match="frame"):
        audio_frame_features(df, frame=1)
