"""Audio frame features + video scene cuts: the REAL decode paths
(WAV bytes → int16 → the in-row feature program; Y4M bytes →
mean-luma → scene_cuts) pinned against numpy ground truth, plus the
program's edge cases (short input, all-silence, hop < frame)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vlm_data_pipeline_spark.functions import audio as A
from vlm_data_pipeline_spark.sources.multimodal import (
    scene_cuts,
    video_frame_hashes,
    video_frame_luma,
)
from vlm_data_pipeline_spark.sources.wav_codec import decode_wav, encode_wav
from vlm_data_pipeline_spark.sources.y4m_codec import encode_y4m


def _features_py(x: np.ndarray, frame: int, hop: int):
    out = []
    n = len(x)
    k = 0 if n < frame else (n - frame) // hop + 1
    for i in range(k):
        fr = x[i * hop : i * hop + frame].astype(np.int64)
        signs = fr >= 0
        out.append(
            {
                "frame_idx": i,
                "energy": int((fr * fr).sum()),
                "zcr": int((signs[1:] != signs[:-1]).sum()),
                "peak": int(np.abs(fr).max()),
            }
        )
    return out


def _spark_features(spark, pcm: np.ndarray, frame: int, hop: int):
    df = spark.createDataFrame(
        [(1, [int(v) for v in pcm])], "id int, samples array<int>"
    )
    row = df.select(
        A.pcm_frame_features(F.col("samples"), frame, hop).alias("f")
    ).head()
    return [r.asDict() for r in row["f"]]


def test_real_wav_through_feature_program(spark):
    # 0.1 s silence, 0.2 s of 440 Hz, 0.1 s silence at 8 kHz
    rate = 8000
    sig = np.concatenate(
        [
            np.zeros(800),
            0.5 * np.sin(2 * np.pi * 440 * np.arange(1600) / rate),
            np.zeros(800),
        ]
    )
    au = decode_wav(encode_wav(sig, rate, bits=16))
    pcm = np.round(au.samples[:, 0] * 32768).astype(np.int64)
    assert np.abs(pcm).max() <= 32767 + 1
    got = _spark_features(spark, pcm, 160, 160)
    assert got == _features_py(pcm, 160, 160)
    # silence bounds: loud frames are exactly the 10 sine frames
    df = spark.createDataFrame(
        [(1, [int(v) for v in pcm])], "id int, samples array<int>"
    )
    b = df.select(
        A.silence_bounds(
            A.pcm_frame_features(F.col("samples"), 160, 160), 0
        ).alias("b")
    ).head()["b"]
    assert (b["first_loud"], b["last_loud"], b["n_loud"]) == (5, 14, 10)


def test_overlapping_hop_and_short_input(spark):
    rng = np.random.default_rng(7)
    pcm = rng.integers(-1000, 1000, size=50)
    assert _spark_features(spark, pcm, 16, 8) == _features_py(pcm, 16, 8)
    # shorter than one frame -> no frames
    assert _spark_features(spark, pcm[:10], 16, 8) == []


def test_all_silence_bounds_null(spark):
    df = spark.createDataFrame([(1, [0] * 64)], "id int, samples array<int>")
    b = df.select(
        A.silence_bounds(A.pcm_frame_features(F.col("samples"), 16, 16), 0)
        .alias("b")
    ).head()["b"]
    assert b["first_loud"] is None and b["last_loud"] is None
    assert b["n_loud"] == 0


def test_bad_params():
    with pytest.raises(ValueError):
        A.pcm_frame_features(F.lit(None), frame=1)
    with pytest.raises(ValueError):
        A.pcm_frame_features(F.lit(None), frame=16, hop=0)


def test_real_y4m_scene_cut_end_to_end(spark):
    # two scenes: 4 dark frames (luma 20±i), then 3 bright (luma 120±i)
    w, h = 8, 6
    frames = []
    for i in range(7):
        base = 20 if i < 4 else 120
        frames.append([[base + (i % 3)] * w for _ in range(h)])
    payload = encode_y4m(frames, colorspace="mono")
    assets = spark.createDataFrame(
        [("vidA", bytearray(payload))], "asset_id string, payload binary"
    )
    luma = video_frame_luma(assets)
    rows = {r["frame_idx"]: r["luma"] for r in luma.collect()}
    assert rows == {i: (20 if i < 4 else 120) + (i % 3) for i in range(7)}
    cuts = scene_cuts(luma, threshold=40).collect()
    assert len(cuts) == 1
    assert (cuts[0]["asset_id"], cuts[0]["cut_at"]) == ("vidA", 4)
    assert cuts[0]["delta"] == (120 + 4 % 3) - (20 + 3 % 3)


def test_empty_video_payload_is_corrupt_data(spark):
    """Both per-frame video stages report an empty payload as corrupt
    data (ValueError), not as a missing codec."""
    from pyspark.errors import PythonException

    assets = spark.createDataFrame(
        [("empty", bytearray())], "asset_id string, payload binary"
    )
    for stage in (video_frame_luma, video_frame_hashes):
        with pytest.raises(PythonException, match="ValueError: empty video"):
            stage(assets).collect()


def test_scene_cuts_stride_and_threshold(spark):
    # steady ramp of +5 per frame never crosses threshold 40
    data = [("v", i, 10 + 5 * i) for i in range(10)]
    df = spark.createDataFrame(data, "asset_id string, frame_idx int, luma int")
    assert scene_cuts(df, threshold=40).count() == 0
    assert scene_cuts(df, threshold=4).count() == 9  # every step is a cut
