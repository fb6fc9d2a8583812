"""Pure-Python BMP decoder (stdlib only) — the second real image codec
next to ``png_codec``, extending the S8 image-scan seam beyond PNG
(reference's Pillow-based loaders, e.g.
data_processing/sunrgbd_processor.py image reads): uncompressed BI_RGB
BITMAPINFOHEADER files at 8 (palettized), 24, and 32 bits per pixel,
bottom-up and top-down row orders, with the mandatory 4-byte row padding.

Output matches ``PngImage``'s convention — rows of per-pixel channel
ints, RGB(A) order (BMP stores BGR(A) on disk; we swizzle so every
downstream consumer — luma stats, aHash — is codec-agnostic). Malformed
input raises ValueError, which the ``sources.robust`` skip policy
normalizes at scan level.
"""

from __future__ import annotations

import struct

__all__ = ["decode_bmp", "BmpImage", "encode_bmp"]

_FILE_HEADER = struct.Struct("<2sIHHI")
_INFO_HEADER = struct.Struct("<IiiHHIIiiII")


class BmpImage:
    __slots__ = ("width", "height", "bit_depth", "channels", "rows")

    def __init__(self, width, height, bit_depth, channels, rows):
        self.width = width
        self.height = height
        self.bit_depth = bit_depth
        self.channels = channels
        # rows: list[list[int]] — each row is width*channels channel
        # values, TOP-DOWN regardless of the file's storage order
        self.rows = rows


def decode_bmp(content: bytes) -> BmpImage:
    """Decode an uncompressed BMP to integer channel rows (RGB/RGBA,
    top-down). Supports BITMAPINFOHEADER (and the larger V4/V5 headers,
    which only append fields), bpp ∈ {8, 24, 32}, BI_RGB compression."""
    if len(content) < _FILE_HEADER.size + _INFO_HEADER.size:
        raise ValueError("truncated BMP: shorter than its headers")
    magic, _fsize, _r1, _r2, data_off = _FILE_HEADER.unpack_from(content, 0)
    if magic != b"BM":
        raise ValueError(f"not a BMP: magic {magic!r}")
    (
        hdr_size,
        width,
        height,
        planes,
        bpp,
        compression,
        _img_size,
        _xppm,
        _yppm,
        colors_used,
        _important,
    ) = _INFO_HEADER.unpack_from(content, _FILE_HEADER.size)
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size} (< 40)")
    if planes != 1:
        raise ValueError(f"BMP planes must be 1, got {planes}")
    if compression != 0:
        raise ValueError(f"only BI_RGB (0) supported, got compression {compression}")
    if bpp not in (8, 24, 32):
        raise ValueError(f"unsupported bpp {bpp} (8/24/32 only)")
    if width <= 0:
        raise ValueError(f"invalid width {width}")
    top_down = height < 0
    height = abs(height)
    if height == 0:
        raise ValueError("zero-height BMP")

    palette: list[tuple[int, int, int]] | None = None
    if bpp == 8:
        n_colors = colors_used or 256
        pal_off = _FILE_HEADER.size + hdr_size
        pal_end = pal_off + 4 * n_colors
        if pal_end > len(content) or pal_end > data_off:
            raise ValueError("truncated BMP palette")
        palette = []
        for i in range(n_colors):
            b, g, r, _a = content[pal_off + 4 * i : pal_off + 4 * i + 4]
            palette.append((r, g, b))

    bytes_pp = bpp // 8
    row_size = ((bpp * width + 31) // 32) * 4  # 4-byte aligned
    need = data_off + row_size * height
    if need > len(content):
        raise ValueError(
            f"truncated BMP pixel data: need {need} bytes, have {len(content)}"
        )

    channels = {8: 3, 24: 3, 32: 4}[bpp]
    rows: list[list[int]] = []
    for y in range(height):
        src_y = y if top_down else height - 1 - y
        off = data_off + src_y * row_size
        raw = content[off : off + row_size]
        vals: list[int] = []
        if bpp == 8:
            for x in range(width):
                idx = raw[x]
                if idx >= len(palette):  # type: ignore[arg-type]
                    raise ValueError(
                        f"palette index {idx} out of range ({len(palette)} colors)"
                    )
                vals.extend(palette[idx])  # type: ignore[index]
        else:
            for x in range(width):
                px = raw[x * bytes_pp : (x + 1) * bytes_pp]
                # disk order BGR(A) → emit RGB(A)
                vals.extend((px[2], px[1], px[0]))
                if bpp == 32:
                    vals.append(px[3])
        rows.append(vals)
    return BmpImage(width, height, bpp, channels, rows)


def encode_bmp(
    rows: list[list[int]], channels: int = 3, top_down: bool = False
) -> bytes:
    """Minimal encoder (tests + fixture generation): RGB(A) rows →
    uncompressed 24/32-bit BITMAPINFOHEADER bytes. Round-trips exactly
    through :func:`decode_bmp`.
    A test reference: the round-trip witness the decoder tests compare
    against."""
    if channels not in (3, 4):
        raise ValueError("encode_bmp writes 24-bit RGB or 32-bit RGBA only")
    height = len(rows)
    if height == 0:
        raise ValueError("no rows")
    width = len(rows[0]) // channels
    bpp = channels * 8
    row_size = ((bpp * width + 31) // 32) * 4
    data_off = _FILE_HEADER.size + 40
    body = bytearray()
    order = rows if top_down else rows[::-1]
    for row in order:
        line = bytearray()
        for x in range(width):
            px = row[x * channels : (x + 1) * channels]
            line += bytes((px[2], px[1], px[0]))
            if channels == 4:
                line.append(px[3])
        line += b"\x00" * (row_size - len(line))
        body += line
    h = -height if top_down else height
    return (
        _FILE_HEADER.pack(b"BM", data_off + len(body), 0, 0, data_off)
        + _INFO_HEADER.pack(40, width, h, 1, bpp, 0, len(body), 2835, 2835, 0, 0)
        + bytes(body)
    )
