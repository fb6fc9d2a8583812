"""Multimodal binary columns: image/audio/video as opaque ``binary`` with
typed metadata, plus the decode / feature / resize / frame-sample
stages a 100 TB training-data pipeline runs over them.

Design (SURVEY extension; the reference's nearest analogues are the
taskonomy mask decode at taskonomy_processor.py:280-314 and the Objectron
in-parser frame stride at objectron_processor.py:40-104):

- The RELATIONAL layer never looks inside payloads: bytes are an opaque
  ``binary`` column riding next to typed metadata (width/height/channels/
  sample_rate/n_frames). Filters, joins, routing, and sampling are plain
  column expressions — pushdown-able, codegen'd, shuffle-aware.
- The DECODE layer is one mapInPandas body over Arrow record batches
  (``_asset_stage``), shared by every per-asset stage, with a pluggable
  per-asset decoder behind an injectable callable. The DEFAULT decoder is
  real for PNG payloads (``sources.png_codec``, stdlib zlib); other
  formats need Pillow/cv2/ffmpeg (not installed here) via injection.
- Frame sampling splits into the relational part (which frame indices —
  sequence + explode, zero Python) and the decode part (fetching those
  frames — stubbed), mirroring the reference's in-parser stride.

Scale notes: payload columns ride in parquet/ORC binary; metadata-only
queries never read them (column pruning), and
``spark.sql.files.maxPartitionBytes`` bounds decode-task input so a task's
Arrow batches fit executor memory. Feature stages emit scalar features —
bytes into any downstream shuffle, never raw pixels.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
    ]
)

MEDIA_ASSET = T.StructType(
    [
        T.StructField("asset_id", T.StringType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("meta", MEDIA_META),
    ]
)

DECODED_IMAGE = T.StructType(
    [
        T.StructField("asset_id", T.StringType(), False),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)

Decoder = Callable[[str, bytes], dict[str, Any]]


def _asset_stage(
    assets: DataFrame,
    schema: T.StructType,
    rows_of: Callable[[str, bytes], Iterable[dict[str, Any]]],
) -> DataFrame:
    """The one Arrow-batched mapInPandas body every per-asset stage
    shares (decode, features, hashes, resize, frame series):
    ``rows_of(asset_id, payload)`` returns the asset's output rows as
    dicts without ``asset_id`` — one for a scalar stage, one per kept
    frame for a video stage, none for a skipped asset. Payloads never
    leave the stage. Kept in ONE place so payload/batch handling fixes
    apply to every stage at once."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in schema.fields]
        for pdf in batches:
            rows = [
                {"asset_id": aid, **row}
                for aid, payload in zip(pdf["asset_id"], pdf["payload"])
                for row in rows_of(aid, bytes(payload or b""))
            ]
            yield pd.DataFrame(rows, columns=cols)

    return assets.select("asset_id", "payload").mapInPandas(run, schema=schema)


def _one_row(decode: Decoder) -> Callable[[str, bytes], list[dict[str, Any]]]:
    """A scalar decoder as an :func:`_asset_stage` row function."""
    return lambda aid, payload: [decode(aid, payload)]


def _decode_pixels(payload: bytes):
    """Format dispatch over the two REAL stdlib codecs: PNG
    (``sources.png_codec``), uncompressed BMP (``sources.bmp_codec``) and
    baseline + progressive JPEG (``sources.jpeg_codec``) — all returning
    the same rows-of-channel-ints contract (RGB/RGBA/gray, top-down), so
    every pixel consumer (luma stats, aHash) is codec-agnostic. Remaining
    formats (arithmetic-coded JPEG, webp, …) need an injected decoder —
    Pillow/cv2 in production. Empty payloads are corrupt DATA
    (ValueError → the robust skip policy), not a missing capability."""
    if not payload:
        raise ValueError("empty image payload")
    head = (payload or b"")[:8]
    if head == b"\x89PNG\r\n\x1a\n":
        from .png_codec import decode_png

        return decode_png(payload)
    if head[:2] == b"BM":
        from .bmp_codec import decode_bmp

        return decode_bmp(payload)
    if head[:3] == b"\xff\xd8\xff":
        from .jpeg_codec import decode_jpeg

        return decode_jpeg(payload)
    raise NotImplementedError(
        "image decoding beyond PNG/BMP/baseline-JPEG needs Pillow/cv2 (not "
        "installed in this container). Inject decode_images(..., "
        "decoder=...) — the mapInPandas batching, schema, and partitioning "
        "are fully wired."
    )


def _default_image_decoder(asset_id: str, payload: bytes) -> dict[str, Any]:
    """REAL default for PNG/BMP payloads via the stdlib codecs; other
    formats need an injected decoder."""
    img = _decode_pixels(payload)
    total = 0
    count = 0
    for row in img.rows:
        total += sum(row)
        count += len(row)
    # per-SAMPLE depth: PNG reports 8/16 bits per sample; BMP's
    # bit_depth field is bits per PIXEL (8/24/32) with 8-bit samples
    scale = 65535.0 if img.bit_depth == 16 else 255.0
    return {
        "width": img.width,
        "height": img.height,
        "channels": img.channels,
        "mean_luma": round(total / (count * scale), 6) if count else None,
    }


def decode_images(
    assets: DataFrame, decoder: Decoder | None = None
) -> DataFrame:
    """Decode stage: Arrow-batched mapInPandas, one decoder call per asset.

    Production body: per-executor singleton (import Pillow once per python
    worker), decode, downscale before emitting. Emits scalar features only
    — pixels stay inside the stage unless a downstream op needs them.
    The codec-agnostic image decode stage (SURVEY, "S8 seam widened").
    """
    return _asset_stage(
        assets, DECODED_IMAGE, _one_row(decoder or _default_image_decoder)
    )


AUDIO_FEATURES = T.StructType(
    [
        T.StructField("asset_id", T.StringType(), False),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
    ]
)


def _default_audio_decoder(asset_id: str, payload: bytes) -> dict[str, Any]:
    """REAL default for WAV payloads via ``sources.wav_codec`` (stdlib
    struct + numpy; PCM 8/16/24/32 + float32) and FLAC via
    ``sources.flac_codec`` (RFC 9639; CRC-8/CRC-16/MD5 self-verified):
    scalar loudness features over the normalized [−1,1) frames.
    Remaining compressed formats (mp3/ogg — whose ISO tables cannot be
    responsibly reproduced offline) need an injected decoder —
    ffmpeg/soundfile in production. Empty payloads are corrupt DATA
    (ValueError → robust skip policy)."""
    if not payload:
        raise ValueError("empty audio payload")
    if payload[:4] == b"fLaC":
        from .flac_codec import decode_flac

        au = decode_flac(payload)
    elif payload[:4] != b"RIFF":
        raise NotImplementedError(
            "audio decoding beyond RIFF/WAV + FLAC needs ffmpeg/soundfile "
            "(not installed in this container). Inject audio_features(..., "
            "decoder=...) — batching, schema, and partitioning are wired."
        )
    else:
        from .wav_codec import decode_wav

        au = decode_wav(payload)
    x = au.samples
    return {
        "sample_rate": au.sample_rate,
        "n_channels": au.n_channels,
        "n_frames": au.n_frames,
        "duration_s": round(au.duration_s, 6),
        "rms": round(float(np.sqrt(np.mean(x * x))), 6) if x.size else None,
        "peak": round(float(np.max(np.abs(x))), 6) if x.size else None,
    }


def flac_roundtrip_features(samples_col):
    """Column op: integer PCM array -> native FLAC encode -> self-
    verified decode -> exact integer features (n_samples, energy =
    Σx², peak = max|x|). Because FLAC is lossless the features equal
    the ones computed directly on the input PCM — which is what makes
    the whole codec path (writer bit-packing, CRC-8/CRC-16 framing,
    MD5, reader reconstruction) VALUE-ORACLEABLE: any bit disagreement
    anywhere in the pipe breaks the equality. Arrow-batched; the
    per-row loop only dispatches into the codec."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<n_samples:bigint,energy:bigint,peak:int>")
    def rt(samples: pd.Series) -> pd.DataFrame:
        from vlm_data_pipeline_spark.sources.flac_codec import (
            decode_flac,
            encode_flac,
        )

        rows = []
        for s in samples:
            arr = np.asarray(s, dtype=np.int64)
            au = decode_flac(encode_flac(arr, 16000, 16))
            ints = np.rint(au.samples[:, 0] * (1 << 15)).astype(np.int64)
            rows.append(
                (
                    len(ints),
                    int((ints * ints).sum()),
                    int(np.abs(ints).max()) if len(ints) else 0,
                )
            )
        return pd.DataFrame(rows, columns=["n_samples", "energy", "peak"])

    return rt(samples_col)


def audio_features(
    assets: DataFrame, decoder: Decoder | None = None
) -> DataFrame:
    """Audio feature-extract stage — the audio sibling of
    :func:`decode_images`: Arrow-batched mapInPandas over the payloads,
    scalar features out (samples never leave the stage). Filter to
    ``modality == 'audio'`` upstream so Catalyst prunes image/video
    payload bytes from the scan. The real audio modality (SURVEY,
    "Audio made a REAL modality")."""
    return _asset_stage(
        assets, AUDIO_FEATURES, _one_row(decoder or _default_audio_decoder)
    )


def resize_plan(
    assets: DataFrame, max_side: int = 512
) -> DataFrame:
    """Relational half of resize: compute target dims (aspect-preserving,
    longest side → max_side) from metadata only — no decode, pure codegen.
    The pixel resample itself belongs in the decode stage's body.
    SURVEY, "Real image resize stage" (the relational half)."""
    w = F.col("meta.width").cast("double")
    h = F.col("meta.height").cast("double")
    scale = F.least(F.lit(1.0), F.lit(float(max_side)) / F.greatest(w, h))
    # clamp to >= 1: an extreme aspect ratio (2000x1 at max_side 512)
    # otherwise rounds the short side to a degenerate 0 — keep the rule
    # identical to the pixel stage's max(1, floor(dim*scale + 0.5))
    return assets.select(
        "asset_id",
        "modality",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.greatest(F.lit(1), F.round(w * scale).cast("int")).alias("target_width"),
        F.greatest(F.lit(1), F.round(h * scale).cast("int")).alias("target_height"),
        (scale < 1.0).alias("needs_resize"),
    )


RESIZED_IMAGE = T.StructType(
    [
        T.StructField("asset_id", T.StringType(), False),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("pixels", T.BinaryType()),
    ]
)


def _resample_rows(
    rows, w: int, h: int, c: int, tw: int, th: int, sixteen_bit: bool = False
):
    """Numpy resample of the codecs' rows-of-channel-ints to (tw, th).

    Exact BOX AVERAGE (area mean, floor division — integer-exact and
    engine-free) when the source dims are integer multiples of the
    target; otherwise NEAREST-NEIGHBOR at pixel centers
    (src = floor((i + 0.5) · src_dim / dst_dim)) — both deterministic,
    no interpolation library. Returns a (th, tw, c) uint8 array;
    ``sixteen_bit`` samples scale down by 257 (65535 → 255) first —
    the flag comes from the DECODER's bit_depth field, never from pixel
    content (a dark 16-bit image has no sample above 255 yet still
    needs the scaling)."""
    a = np.asarray(rows, dtype=np.uint32).reshape(h, w, c)
    if sixteen_bit:
        a = a // 257
    if tw <= 0 or th <= 0:
        raise ValueError(f"bad target dims {tw}x{th}")
    if h % th == 0 and w % tw == 0:
        fy, fx = h // th, w // tw
        out = (
            a.reshape(th, fy, tw, fx, c).sum(axis=(1, 3)) // (fy * fx)
        )
    else:
        ys = ((np.arange(th) + 0.5) * h / th).astype(np.int64).clip(0, h - 1)
        xs = ((np.arange(tw) + 0.5) * w / tw).astype(np.int64).clip(0, w - 1)
        out = a[ys][:, xs]
    return out.astype(np.uint8)


def resize_images(
    assets: DataFrame,
    max_side: int = 512,
    decoder=None,
    on_error: str = "skip",
) -> DataFrame:
    """Pixel half of resize: decode (stdlib PNG/BMP, or injected decoder
    returning an object with .rows/.width/.height/.channels and a
    bit_depth field), resample to aspect-preserving dims with the SAME
    target rule as :func:`resize_plan` (longest side → max_side,
    round-half-up, clamp to >= 1, never upscale), emit row-major uint8
    bytes + final dims. Arrow-batched mapInPandas; pixels cross the
    stage boundary only at the reduced size. ``on_error`` follows
    sources.robust: "skip" (production — ANY decode/resample failure
    drops the asset, one corrupt payload in a million must not kill a
    1000-executor job) or "fail" (debugging/CI — raise). SURVEY, "Real
    image resize stage"."""
    from .robust import guard

    decode = decoder or _decode_pixels

    def resize(aid: str, payload: bytes) -> list[dict[str, Any]]:
        img = decode(payload)
        w, h, c = img.width, img.height, img.channels
        if w <= 0 or h <= 0 or c <= 0:
            raise ValueError(f"degenerate image dims {w}x{h}x{c}")
        scale = min(1.0, float(max_side) / max(w, h))
        tw = max(1, int(math.floor(w * scale + 0.5)))
        th = max(1, int(math.floor(h * scale + 0.5)))
        px = _resample_rows(
            img.rows, w, h, c, tw, th,
            sixteen_bit=getattr(img, "bit_depth", 8) == 16,
        )
        return [
            {"width": tw, "height": th, "channels": c, "pixels": px.tobytes()}
        ]

    return _asset_stage(assets, RESIZED_IMAGE, guard(resize, on_error))


def frame_sample_plan(assets: DataFrame, stride: int = 10) -> DataFrame:
    """Relational half of video frame sampling: one row per kept frame
    index (0, stride, 2·stride… < n_frames) via sequence + explode — the
    Objectron in-parser stride (objectron_processor.py:81-110) expressed
    as column math. The decode stage then fetches exactly these indices.
    """
    n = F.coalesce(F.col("meta.n_frames"), F.lit(0))
    idx = F.sequence(
        F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)
    )
    return (
        assets.filter(F.col("modality") == "video")
        .filter(n > 0)
        .select(
            "asset_id",
            n.alias("n_frames"),
            F.explode(idx).alias("frame_idx"),
        )
    )


# ---------------------------------------------------------------------------
# Image perceptual-hash dedup
# ---------------------------------------------------------------------------


def image_ahash_64(payload: bytes) -> int:
    """64-bit average hash (aHash) of a PNG or BMP payload via the REAL
    stdlib codecs: per-pixel luma (channel mean) → 8×8 block means →
    bit = block mean above the global mean of block means. Near-identical
    images (small noise, light recompression) land within a few hamming
    bits; unrelated images land ~32 apart — the standard cheap
    image-dedup key. CODEC-AGNOSTIC by construction: the same pixels
    produce the same hash whether they arrived as PNG or BMP
    (cross-format near-dup detection). Other formats need an injected
    hasher (Pillow in production)."""
    img = _decode_pixels(payload)
    return ahash_from_rows(img.rows, img.width, img.height, img.channels)


def ahash_from_rows(rows, w: int, h: int, c: int) -> int:
    """The aHash kernel over the shared rows-of-channel-ints contract —
    used by the image path above AND per-video-frame hashing (a Y4M luma
    plane is a 1-channel rows list), so image↔frame near-dups share one
    hash space. numpy-vectorized (~100× the per-pixel Python loop it
    replaced), bit-identical to it: integer channel sums / c reproduce
    the exact per-pixel luma doubles, and bincount accumulates weights
    in the same row-major order the loop did."""
    arr = np.asarray(rows, dtype=np.int64).reshape(h, w, c)
    luma = arr.sum(axis=2) / c
    by = (np.arange(h) * 8) // h
    bx = (np.arange(w) * 8) // w
    idx = (by[:, None] * 8 + bx[None, :]).ravel()
    sums = np.bincount(idx, weights=luma.ravel(), minlength=64)
    counts = np.bincount(idx, minlength=64)
    means = np.where(counts > 0, sums / np.maximum(counts, 1), 0.0).tolist()
    overall = sum(means) / 64.0
    bits = 0
    for i, m in enumerate(means):
        if m > overall:
            bits |= 1 << i
    # two's-complement signed so the value rides in a Spark LongType
    # (bit 63 set would overflow int64 as an unsigned value)
    return bits - (1 << 64) if bits >= (1 << 63) else bits


VIDEO_FEATURES = T.StructType(
    [
        T.StructField("asset_id", T.StringType(), False),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("fps", T.DoubleType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("colorspace", T.StringType()),
    ]
)

FRAME_HASHES = T.StructType(
    [
        T.StructField("asset_id", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("phash", T.LongType()),
    ]
)


def _default_video_decoder(asset_id: str, payload: bytes) -> dict[str, Any]:
    """REAL default for Y4M payloads via ``sources.y4m_codec``; compressed
    containers (mp4/mkv/webm) need an injected decoder — ffmpeg in
    production."""
    if not payload:
        raise ValueError("empty video payload")
    if not (payload or b"").startswith(b"YUV4MPEG2"):
        raise NotImplementedError(
            "video decoding beyond Y4M needs ffmpeg (not installed in this "
            "container). Inject video_features(..., decoder=...) — "
            "batching, schema, and partitioning are wired."
        )
    from .y4m_codec import decode_y4m

    v = decode_y4m(payload)
    return {
        "width": v.width,
        "height": v.height,
        "n_frames": v.n_frames,
        "fps": round(v.fps_num / v.fps_den, 6),
        "duration_s": round(v.duration_s, 6),
        "colorspace": v.colorspace,
    }


def _y4m_luma_planes(
    payload: bytes, stride: int, stage: str
) -> Iterator[tuple[int, np.ndarray]]:
    """(frame_idx, Y plane as an (h, w) uint8 array) per kept frame of a
    Y4M payload, the stride pushed into the decode (1/stride of the
    plane bytes held) — the frame reader of every per-frame video
    stage. Empty payloads are corrupt DATA (ValueError → robust skip
    policy); other containers need ffmpeg, named by ``stage``."""
    if not payload:
        raise ValueError("empty video payload")
    if not payload.startswith(b"YUV4MPEG2"):
        raise NotImplementedError(
            f"{stage} beyond Y4M needs ffmpeg (not installed in this "
            "container)."
        )
    from .y4m_codec import decode_y4m

    v = decode_y4m(payload, frame_stride=stride)
    for k, idx in enumerate(v.frame_indices):
        y = np.frombuffer(v.frames[k]["y"], dtype=np.uint8)
        yield idx, y.reshape(v.height, v.width)


def video_features(
    assets: DataFrame, decoder: Decoder | None = None
) -> DataFrame:
    """Video metadata stage — the video sibling of :func:`decode_images` /
    :func:`audio_features`: Arrow-batched mapInPandas, scalar features
    out, planes never leave the stage. SURVEY, "Video made a REAL
    modality"."""
    return _asset_stage(
        assets, VIDEO_FEATURES, _one_row(decoder or _default_video_decoder)
    )


def video_frame_hashes(
    assets: DataFrame,
    stride: int = 1,
    hasher: Callable[[str, bytes], list[tuple[int, int]]] | None = None,
) -> DataFrame:
    """Per-frame aHash over video payloads, every ``stride``-th frame —
    (asset_id, frame_idx, phash) rows that feed :func:`phash_near_pairs`
    DIRECTLY (alias frame rows into the id column): video↔video and even
    video↔image near-dup detection in the same banded-hamming pipeline,
    because :func:`ahash_from_rows` is the one hash kernel for both.
    The default handles Y4M via ``sources.y4m_codec`` with the stride
    pushed into the decode and zero-copy luma hashing; compressed
    containers need an injected ``hasher`` (ffmpeg in production), same
    seam as every other stage. SURVEY, "Video made a REAL modality"."""
    if stride < 1:
        raise ValueError("stride must be >= 1")

    def y4m_hasher(aid: str, payload: bytes) -> list[tuple[int, int]]:
        return [
            (idx, ahash_from_rows(y, y.shape[1], y.shape[0], 1))
            for idx, y in _y4m_luma_planes(payload, stride, "frame hashing")
        ]

    hash_frames = hasher or y4m_hasher
    return _asset_stage(
        assets,
        FRAME_HASHES,
        lambda aid, p: [
            {"frame_idx": idx, "phash": h} for idx, h in hash_frames(aid, p)
        ],
    )


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.StringType(), False),
        T.StructField("phash", T.LongType()),
    ]
)


def perceptual_hashes(
    assets: DataFrame, hasher: Callable[[bytes], int] | None = None
) -> DataFrame:
    """Hash stage: payload → 64-bit perceptual hash (Arrow-batched
    mapInPandas, same shape as decode_images). Output joins into
    :func:`phash_near_pairs` — the image sibling of text MinHash
    (SURVEY, "Image perceptual-hash dedup")."""
    hash_fn = hasher or image_ahash_64
    return _asset_stage(
        assets, PHASH_SCHEMA, lambda aid, p: [{"phash": hash_fn(p)}]
    )


def banded_hashes(
    hashes: DataFrame,
    bands: int = 5,
    bits: int = 60,
    id_col: str = "asset_id",
    hash_col: str = "phash",
) -> DataFrame:
    """(id, h, band, val): each perceptual hash split into ``bands``
    equal bit bands (in-row explode, zero shuffle). This IS the
    persistable store format for the incremental pass — write it
    partitioned/bucketed on (band, val) and a new batch's probe prunes
    to its own band buckets instead of scanning the store."""
    if bits % bands != 0:
        raise ValueError(f"bands ({bands}) must divide bits ({bits})")
    width = bits // bands
    mask = (1 << width) - 1
    return hashes.select(
        F.col(id_col).alias("id"),
        F.col(hash_col).alias("h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col(hash_col), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bv"),
    ).select("id", "h", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))


def phash_near_pairs(
    hashes: DataFrame,
    max_hamming: int = 4,
    bands: int = 5,
    bits: int = 60,
    id_col: str = "asset_id",
    hash_col: str = "phash",
) -> DataFrame:
    """Near-duplicate pairs by hamming distance on perceptual hashes,
    purely relationally: split each hash into ``bands`` equal bit bands
    (pigeonhole: two hashes within ``bands − 1`` hamming bits MUST agree
    on ≥ 1 band — set ``bands > max_hamming`` for exact recall), join on
    (band index, band value) — candidates ≈ O(near-dups), never |corpus|²
    — then verify bit_count(xor) ≤ ``max_hamming`` exactly. The image
    sibling of MinHash banding, with XOR popcount instead of Jaccard.
    """
    banded = banded_hashes(hashes, bands, bits, id_col, hash_col)
    a, b = banded.alias("a"), banded.alias("b")
    # Merge hint — the blocking-self-join invariant shared with
    # fuzzyjoin/minhash/ngram/cosine (see operators/fuzzyjoin.py for the
    # sf10-measured failure): the banded table is O(assets × bands) and
    # at real scale its subtree contains the image-decode pipeline, the
    # most expensive thing a statically-mis-estimated broadcast build
    # could possibly re-run single-collected.
    return (
        a.join(
            b.hint("merge"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def phash_incremental_pairs(
    new_hashes: DataFrame,
    store: DataFrame | None,
    max_hamming: int = 4,
    bands: int = 5,
    bits: int = 60,
    id_col: str = "asset_id",
    hash_col: str = "phash",
) -> DataFrame:
    """Cross-batch image near-dup detection — the pHash sibling of
    ``operators.dedup.minhash_incremental_pairs`` for batch-append image
    ingestion: the new batch's banded hashes self-join for WITHIN-batch
    pairs and band-join the persistent STORE (one long per asset — raw
    (id, phash) rows, or the pre-banded :func:`banded_hashes` layout,
    detected by its columns, which at scale is bucketed on (band, val)
    so the probe prunes instead of scanning) for CROSS pairs; both
    verify exactly with bit_count(xor) <= max_hamming. Re-ingested ids
    (same id in batch and store) are not paired with themselves. After
    the pass, append the batch's banded rows to the store — the same
    loop invariant the MinHash store documents.

    Returns (id_a, id_b, hamming, source: batch|store).
    """
    nb = banded_hashes(new_hashes, bands, bits, id_col, hash_col)
    within = (
        phash_near_pairs(
            new_hashes, max_hamming, bands, bits, id_col, hash_col
        )
        .withColumn("source", F.lit("batch"))
    )
    if store is None:
        return within
    width = bits // bands
    mask = (1 << width) - 1
    if "band" in store.columns and "val" in store.columns:
        # a store banded under DIFFERENT (bands, bits) silently loses
        # recall (its band indices / val widths never match the probe's)
        # — fail loudly on the detectable directions instead
        guard = F.assert_true(
            (F.col("band") < F.lit(bands)) & (F.col("val") <= F.lit(mask)),
            F.lit(
                f"banded store is inconsistent with bands={bands}, "
                f"bits={bits} — re-band the store or pass raw (id, hash)"
            ),
        )
        sb = (
            store.select("id", "h", "band", "val")
            .withColumn("_g", guard)
            .drop("_g")
        )
    else:
        sb = banded_hashes(store, bands, bits, id_col, hash_col)
    # filter BEFORE deduplicating: the store may legitimately hold
    # several hashes for one id (re-ingested changed content), and a
    # dropDuplicates over mixed-hamming rows would keep an arbitrary one
    # — min(hamming) per pair is the deterministic answer
    cross = (
        nb.alias("n")
        # same merge-hint invariant as phash_near_pairs: the store is
        # corpus-scaled by the loop design (it accumulates every batch)
        .join(
            sb.alias("s").hint("merge"),
            (F.col("n.band") == F.col("s.band"))
            & (F.col("n.val") == F.col("s.val"))
            & (F.col("n.id") != F.col("s.id")),
        )
        .select(
            F.col("n.id").alias("id_a"),
            F.col("s.id").alias("id_b"),
            F.bit_count(
                F.col("n.h").bitwiseXOR(F.col("s.h"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("id_a", "id_b")
        .agg(F.min("hamming").alias("hamming"))
        .withColumn("source", F.lit("store"))
    )
    return within.unionByName(cross)


# ---------------------------------------------------------------------------
# Video scene-cut detection (frame-luma series → window lag)
# ---------------------------------------------------------------------------

FRAME_LUMA = T.StructType(
    [
        T.StructField("asset_id", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("luma", T.IntegerType()),
    ]
)


def video_frame_luma(assets: DataFrame, stride: int = 1) -> DataFrame:
    """Per-frame mean luma over Y4M payloads — (asset_id, frame_idx,
    luma) with luma = sum(Y plane) // n_pixels (INTEGER division: exact,
    engine-portable). The scalar series that drives
    :func:`scene_cuts`; same seam/stride contract as
    :func:`video_frame_hashes`. The decode half of SURVEY's video family
    (``video_scene_cuts``)."""
    if stride < 1:
        raise ValueError("stride must be >= 1")
    return _asset_stage(
        assets,
        FRAME_LUMA,
        lambda aid, p: [
            {"frame_idx": idx, "luma": int(y.sum()) // y.size}
            for idx, y in _y4m_luma_planes(p, stride, "frame luma")
        ],
    )


def scene_cuts(
    frame_stats: DataFrame,
    threshold: int,
    value_col: str = "luma",
    key_col: str = "asset_id",
    order_col: str = "frame_idx",
) -> DataFrame:
    """Shot-boundary detection over any per-frame scalar series: a cut
    is a frame whose value jumps by more than ``threshold`` against the
    previous frame (|v − lag(v)| > threshold, strict; the first frame
    is never a cut). Integer thresholds keep it oracle-exact.

    Scale shape: ONE exchange on the asset key + a per-asset window
    sort — the same grain video already arrives in from the decode
    stage, so AQE usually plans it shuffle-local. Output is cut rows
    only (sparse), safe to collect per asset downstream for clip
    splitting."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(order_col)
    prev = F.lag(value_col).over(w)
    delta = F.col(value_col) - prev
    return (
        frame_stats.withColumn("delta", delta)
        .filter(F.abs(F.col("delta")) > threshold)
        .select(
            key_col,
            F.col(order_col).alias("cut_at"),
            F.col("delta").cast("long").alias("delta"),
        )
    )
