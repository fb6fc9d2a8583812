"""WAV codec + audio feature stage: analytic fixtures (sine RMS = A/√2),
bit-depth round-trips, chunk skipping, malformed-input policy, and the
Arrow-batched Spark stage end-to-end."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest

from vlm_data_pipeline_spark.sources.wav_codec import decode_wav, encode_wav


def _sine(n=8000, rate=8000, amp=0.5, freq=440.0):
    t = np.arange(n) / rate
    return amp * np.sin(2 * np.pi * freq * t)


def test_roundtrip_16bit_mono():
    x = _sine()
    au = decode_wav(encode_wav(x, 8000, bits=16))
    assert au.sample_rate == 8000 and au.n_channels == 1
    assert au.n_frames == len(x)
    assert np.max(np.abs(au.samples[:, 0] - x)) <= 1.0 / 32768.0
    assert au.duration_s == pytest.approx(1.0)


@pytest.mark.parametrize("bits,tol", [(8, 1 / 128), (16, 1 / 32768), (32, 1e-9)])
def test_roundtrip_bit_depths_stereo(bits, tol):
    x = np.stack([_sine(1000), -_sine(1000)], axis=1)
    au = decode_wav(encode_wav(x, 44100, bits=bits))
    assert au.n_channels == 2 and au.n_frames == 1000
    assert np.max(np.abs(au.samples - x)) <= tol


def test_sine_rms_is_amp_over_sqrt2():
    x = _sine(amp=0.5)
    au = decode_wav(encode_wav(x, 8000))
    rms = float(np.sqrt(np.mean(au.samples**2)))
    assert rms == pytest.approx(0.5 / math.sqrt(2), abs=1e-3)


def test_float32_format():
    x = _sine(500)
    q = x.astype("<f4")
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 8000 * 4, 4, 32)
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", q.nbytes) + q.tobytes()
    )
    blob = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    au = decode_wav(blob)
    assert au.bits_per_sample == 32
    assert np.max(np.abs(au.samples[:, 0] - x)) < 1e-7


def test_24bit_pcm():
    # hand-pack: full-scale positive = 0x7fffff, negative = 0x800000
    frames = [0x7FFFFF, 0x800000, 0x000000]
    signed = [v - 0x1000000 if v >= 0x800000 else v for v in frames]
    data = b"".join(struct.pack("<i", v << 8)[1:] for v in signed)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * 3, 3, 24)
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    blob = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    au = decode_wav(blob)
    got = au.samples[:, 0]
    assert got[0] == pytest.approx(0x7FFFFF / 0x800000, abs=1e-9)
    assert got[1] == pytest.approx(-1.0)
    assert got[2] == 0.0


def test_unknown_chunks_skipped():
    base = encode_wav(_sine(100), 8000)
    # splice a LIST chunk (odd size → pad byte) between WAVE and fmt
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    blob = base[:12] + extra + base[12:]
    blob = blob[:4] + struct.pack("<I", len(blob) - 8) + blob[8:]
    au = decode_wav(blob)
    assert au.n_frames == 100


@pytest.mark.parametrize(
    "mutate, msg",
    [
        (lambda b: b[:8], "truncated WAV"),
        (lambda b: b"XXXX" + b[4:], "not a WAV"),
        (lambda b: b[:22] + b"\x00\x00" + b[24:], "invalid channel count"),
        (lambda b: b[:20] + struct.pack("<H", 2) + b[22:], "unsupported audio format"),
        (lambda b: b[:-20], "truncated RIFF chunk"),
    ],
)
def test_malformed_raises_value_error(mutate, msg):
    blob = encode_wav(_sine(64), 8000)
    with pytest.raises(ValueError, match=msg):
        decode_wav(mutate(blob))


def test_audio_features_stage(spark):
    """End-to-end Spark stage over real WAV bytes: analytic RMS/peak."""
    from vlm_data_pipeline_spark.sources.multimodal import audio_features

    loud = encode_wav(_sine(8000, amp=0.8), 8000)
    quiet = encode_wav(_sine(4000, amp=0.1), 16000)
    assets = spark.createDataFrame(
        [("a1", bytearray(loud)), ("a2", bytearray(quiet))],
        "asset_id string, payload binary",
    )
    out = {r.asset_id: r for r in audio_features(assets).collect()}
    assert out["a1"].sample_rate == 8000 and out["a1"].n_frames == 8000
    assert out["a1"].duration_s == pytest.approx(1.0)
    assert out["a1"].rms == pytest.approx(0.8 / math.sqrt(2), abs=1e-3)
    assert out["a1"].peak == pytest.approx(0.8, abs=1e-3)
    assert out["a2"].sample_rate == 16000
    assert out["a2"].duration_s == pytest.approx(0.25)
    assert out["a2"].rms == pytest.approx(0.1 / math.sqrt(2), abs=1e-3)


def test_audio_features_injectable_and_non_wav_raises(spark):
    from tests.fixtures import fake_audio_decoder
    from vlm_data_pipeline_spark.sources.multimodal import audio_features

    assets = spark.createDataFrame(
        [("m1", bytearray(b"\xffmp3-ish"))], "asset_id string, payload binary"
    )
    rows = audio_features(assets, decoder=fake_audio_decoder).collect()
    assert rows[0].sample_rate in range(8000, 48001)
    with pytest.raises(Exception, match="RIFF/WAV"):
        audio_features(assets).collect()
