"""Pure-Python WAV (RIFF PCM) decoder — the third real binary codec next
to ``png_codec``/``bmp_codec``, making AUDIO a first-class multimodal
column (SURVEY §7.1: image/audio/video as opaque binary + typed
metadata) instead of a tag: uncompressed PCM at 8 (unsigned), 16, 24,
32 bits and IEEE float32, any channel count, with unknown RIFF chunks
skipped (word-aligned) the way real encoders emit them (LIST/INFO, fact,
cue).

Samples decode to float64 in [−1, 1) (the librosa/soundfile convention)
shaped (n_frames, n_channels), so feature extraction (RMS, peak,
duration) is codec-agnostic numpy. Malformed input raises ValueError,
normalized by the ``sources.robust`` skip policy at scan level.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["decode_wav", "WavAudio", "encode_wav"]


class WavAudio:
    __slots__ = ("sample_rate", "n_channels", "bits_per_sample", "samples")

    def __init__(self, sample_rate, n_channels, bits_per_sample, samples):
        self.sample_rate = sample_rate
        self.n_channels = n_channels
        self.bits_per_sample = bits_per_sample
        # float64 ndarray, shape (n_frames, n_channels), values in [-1, 1)
        self.samples = samples

    @property
    def n_frames(self) -> int:
        return self.samples.shape[0]

    @property
    def duration_s(self) -> float:
        return self.n_frames / self.sample_rate


def _chunks(content: bytes):
    """Iterate (fourcc, payload) over the RIFF body, honoring the
    word-alignment pad byte after odd-sized chunks."""
    off = 12
    while off + 8 <= len(content):
        cid, size = struct.unpack_from("<4sI", content, off)
        body = content[off + 8 : off + 8 + size]
        if len(body) < size:
            raise ValueError(
                f"truncated RIFF chunk {cid!r}: need {size}, have {len(body)}"
            )
        yield cid, body
        off += 8 + size + (size & 1)


def decode_wav(content: bytes) -> WavAudio:
    """Decode an uncompressed RIFF/WAVE payload (PCM 8/16/24/32-bit or
    IEEE float32) to normalized float64 frames."""
    if len(content) < 12:
        raise ValueError("truncated WAV: shorter than the RIFF header")
    riff, _size, wave_id = struct.unpack_from("<4sI4s", content, 0)
    if riff != b"RIFF" or wave_id != b"WAVE":
        raise ValueError(f"not a WAV: {riff!r}/{wave_id!r}")

    fmt = None
    data = None
    for cid, body in _chunks(content):
        if cid == b"fmt " and fmt is None:
            if len(body) < 16:
                raise ValueError(f"fmt chunk too short ({len(body)} bytes)")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data" and data is None:
            data = body
    if fmt is None:
        raise ValueError("missing fmt chunk")
    if data is None:
        raise ValueError("missing data chunk")
    audio_format, n_channels, sample_rate, _brate, block_align, bits = fmt
    # Range sanity on BOTH ends (round-6 codec sweep): a bit-flipped fmt
    # chunk can produce a huge channel count (frame_size > len(data) →
    # silent zero-frame audio) or a absurd sample rate (garbage
    # duration_s downstream). The spec's real-world envelope is tiny
    # compared to uint16/uint32 range, so reject implausible values the
    # same way the image codecs reject implausible dimensions.
    if not 1 <= n_channels <= 256:
        raise ValueError(f"invalid channel count {n_channels}")
    if not 1 <= sample_rate <= 4_194_304:  # 4 MHz ≫ any real audio rate
        raise ValueError(f"implausible sample rate {sample_rate}")
    if audio_format == 1:  # integer PCM
        if bits not in (8, 16, 24, 32):
            raise ValueError(f"unsupported PCM bit depth {bits}")
    elif audio_format == 3:  # IEEE float
        if bits != 32:
            raise ValueError(f"unsupported float bit depth {bits}")
    else:
        raise ValueError(f"unsupported audio format {audio_format} (PCM/float only)")
    frame_size = n_channels * (bits // 8)
    if block_align not in (0, frame_size):
        raise ValueError(
            f"block_align {block_align} != channels*width {frame_size}"
        )
    n_frames = len(data) // frame_size
    data = data[: n_frames * frame_size]

    if audio_format == 3:
        x = np.frombuffer(data, dtype="<f4").astype(np.float64)
    elif bits == 8:
        x = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif bits == 16:
        x = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    elif bits == 32:
        x = np.frombuffer(data, dtype="<i4").astype(np.float64) / 2147483648.0
    else:  # 24-bit: no native dtype — widen via a zero byte then shift
        raw = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        widened = np.zeros((raw.shape[0], 4), dtype=np.uint8)
        widened[:, 1:] = raw
        x = (
            np.frombuffer(widened.tobytes(), dtype="<i4").astype(np.float64)
            / 2147483648.0
        )
    return WavAudio(
        sample_rate, n_channels, bits, x.reshape(n_frames, n_channels)
    )


def encode_wav(
    samples: np.ndarray, sample_rate: int, bits: int = 16
) -> bytes:
    """Minimal encoder (tests + fixtures): float frames in [−1, 1) →
    integer-PCM RIFF bytes. Round-trips through :func:`decode_wav` with
    quantization error ≤ 1 LSB.
    A test reference: the round-trip witness the decoder tests compare
    against."""
    samples = np.asarray(samples, dtype=np.float64)
    if samples.ndim == 1:
        samples = samples[:, None]  # mono convenience: (n,) → (n, 1)
    n_frames, n_channels = samples.shape
    if bits == 16:
        q = np.clip(np.round(samples * 32768.0), -32768, 32767).astype("<i2")
    elif bits == 8:
        q = np.clip(np.round(samples * 128.0 + 128.0), 0, 255).astype(np.uint8)
    elif bits == 32:
        q = np.clip(
            np.round(samples * 2147483648.0), -2147483648, 2147483647
        ).astype("<i4")
    else:
        raise ValueError("encode_wav writes 8/16/32-bit integer PCM only")
    data = q.tobytes()
    frame_size = n_channels * (bits // 8)
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate, sample_rate * frame_size,
        frame_size, bits,
    )
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
