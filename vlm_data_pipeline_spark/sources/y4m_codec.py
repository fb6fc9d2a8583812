"""Pure-Python Y4M (YUV4MPEG2) decoder — the uncompressed VIDEO codec
completing the modality triad (PNG/BMP images, WAV audio, Y4M video):
every modality has a REAL stdlib decode path, with compressed containers
(mp4/mkv need ffmpeg) behind the injected-decoder seam.

Y4M is the interchange format ffmpeg/x264 pipelines use for raw video:
one ASCII header line (``YUV4MPEG2 W<w> H<h> F<num>:<den> [Ip A.. C..]``)
then per-frame ``FRAME[params]\\n`` markers followed by raw planar YUV.
Supported colorspaces: C420 (+jpeg/mpeg2/paldv variants), C422, C444,
Cmono. Luma planes come back as height×width lists of ints — the same
per-pixel convention the image codecs use, so frame-level consumers
(aHash for video near-dup, luma stats) are shared, not re-implemented.

Malformed input raises ValueError (normalized by ``sources.robust``).
"""

from __future__ import annotations

__all__ = ["decode_y4m", "Y4mVideo", "encode_y4m"]

_MAGIC = b"YUV4MPEG2"

# chroma plane size divisors (w_div, h_div) per colorspace family
_SUBSAMPLING = {
    "420": (2, 2),
    "422": (2, 1),
    "444": (1, 1),
    "mono": None,
}


class Y4mVideo:
    __slots__ = (
        "width", "height", "fps_num", "fps_den", "colorspace", "frames",
        "frame_indices", "total_frames",
    )

    def __init__(
        self, width, height, fps_num, fps_den, colorspace, frames,
        frame_indices=None, total_frames=None,
    ):
        self.width = width
        self.height = height
        self.fps_num = fps_num
        self.fps_den = fps_den
        self.colorspace = colorspace
        # frames: list of dicts {"y": bytes (h*w), "u": bytes|None,
        # "v": bytes|None} — raw planes; luma_rows() adapts to the image
        # codecs' rows convention
        self.frames = frames
        # stream index of each DECODED frame (≠ range(len) under
        # frame_stride), and the stream's total frame count
        self.frame_indices = (
            frame_indices if frame_indices is not None else list(range(len(frames)))
        )
        self.total_frames = total_frames if total_frames is not None else len(frames)

    @property
    def n_frames(self) -> int:
        """DECODED frame count (= total_frames unless frame_stride/
        max_frames bounded the decode)."""
        return len(self.frames)

    @property
    def duration_s(self) -> float:
        return self.total_frames * self.fps_den / self.fps_num

    def luma_rows(self, frame_idx: int) -> list[list[int]]:
        """Frame's luma plane as height rows of width ints — the shared
        pixel contract of png_codec/bmp_codec (1-channel)."""
        y = self.frames[frame_idx]["y"]
        w = self.width
        return [list(y[r * w : (r + 1) * w]) for r in range(self.height)]


# Exact allowlist of 8-bit planar variants. Prefix matching would
# silently accept the 10/16-bit formats ffmpeg also emits (C420p10,
# C444p16 — 2 bytes/sample, so frame_bytes would be computed at half the
# real size and the luma plane would decode as interleaved garbage).
_FAMILIES = {
    "420": "420",
    "420jpeg": "420",
    "420mpeg2": "420",
    "420paldv": "420",
    "422": "422",
    "444": "444",
    "mono": "mono",
}


def _family(colorspace: str) -> str:
    fam = _FAMILIES.get(colorspace)
    if fam is None:
        raise ValueError(f"unsupported colorspace C{colorspace} (8-bit planar only)")
    return fam


def decode_y4m(
    content: bytes,
    max_frames: int | None = None,
    frame_stride: int = 1,
) -> Y4mVideo:
    """Decode a YUV4MPEG2 stream. ``max_frames`` bounds DECODED frames
    for probes; ``frame_stride`` keeps every k-th frame's planes while
    still walking (and counting) the whole stream — sampled hashing of a
    long clip holds 1/k of the plane bytes instead of all of them.
    ``frame_indices`` records each decoded frame's stream index."""
    if frame_stride < 1:
        raise ValueError("frame_stride must be >= 1")
    nl = content.find(b"\n")
    if nl < 0 or not content.startswith(_MAGIC):
        raise ValueError("not a Y4M stream (missing YUV4MPEG2 header)")
    width = height = None
    fps_num, fps_den = 25, 1
    colorspace = "420jpeg"  # the spec's default
    for tok in content[len(_MAGIC) : nl].split():
        t = tok.decode("ascii", "replace")
        if t.startswith("W"):
            width = int(t[1:])
        elif t.startswith("H"):
            height = int(t[1:])
        elif t.startswith("F"):
            num, _, den = t[1:].partition(":")
            fps_num, fps_den = int(num), int(den or "1")
        elif t.startswith("C"):
            colorspace = t[1:]
        # Ip/A../X.. params don't affect plane layout
    if not width or width <= 0 or not height or height <= 0:
        raise ValueError(f"invalid Y4M geometry W={width} H={height}")
    if fps_num <= 0 or fps_den <= 0:
        raise ValueError(f"invalid Y4M frame rate {fps_num}:{fps_den}")
    fam = _family(colorspace)
    sub = _SUBSAMPLING[fam]
    y_size = width * height
    if sub is None:
        c_size = 0
    else:
        if width % sub[0] or height % sub[1]:
            raise ValueError(
                f"C{colorspace} needs dimensions divisible by {sub}, "
                f"got {width}x{height}"
            )
        c_size = (width // sub[0]) * (height // sub[1])
    frame_bytes = y_size + 2 * c_size

    frames = []
    indices = []
    seen = 0
    off = nl + 1
    while off < len(content):
        if max_frames is not None and len(frames) >= max_frames:
            break
        fnl = content.find(b"\n", off)
        if fnl < 0 or not content.startswith(b"FRAME", off):
            raise ValueError(f"missing FRAME marker at offset {off}")
        off = fnl + 1
        if off + frame_bytes > len(content):
            raise ValueError(
                f"truncated frame {seen}: need {frame_bytes} bytes, "
                f"have {len(content) - off}"
            )
        if seen % frame_stride == 0:
            plane = content[off : off + frame_bytes]
            frames.append(
                {
                    "y": plane[:y_size],
                    "u": plane[y_size : y_size + c_size] if c_size else None,
                    "v": plane[y_size + c_size :] if c_size else None,
                }
            )
            indices.append(seen)
        seen += 1
        off += frame_bytes
    return Y4mVideo(
        width, height, fps_num, fps_den, colorspace, frames,
        frame_indices=indices, total_frames=seen,
    )


def encode_y4m(
    luma_frames: list[list[list[int]]],
    fps: tuple[int, int] = (25, 1),
    colorspace: str = "mono",
) -> bytes:
    """Minimal encoder (tests + fixtures): mono or 420 (chroma filled
    neutral 128) from luma row-lists. Round-trips through
    :func:`decode_y4m`.
    A test reference: the round-trip witness the decoder tests compare
    against."""
    if not luma_frames:
        raise ValueError("no frames")
    height = len(luma_frames[0])
    width = len(luma_frames[0][0])
    fam = _family(colorspace)
    header = (
        f"YUV4MPEG2 W{width} H{height} F{fps[0]}:{fps[1]} Ip A1:1 "
        f"C{colorspace}\n"
    ).encode("ascii")
    sub = _SUBSAMPLING[fam]
    c_size = 0 if sub is None else (width // sub[0]) * (height // sub[1])
    out = bytearray(header)
    for rows in luma_frames:
        out += b"FRAME\n"
        for row in rows:
            out += bytes(row)
        out += b"\x80" * (2 * c_size)
    return bytes(out)
