"""Minimal pure-Python HDF5 reader (S5 decode path).

HDF5's file format is a public spec (the HDF Group's "HDF5 File Format
Specification"); the subset implemented here is exactly what libhdf5/h5py
writes by default for the simple array files the reference ingests
(hypersim_processor.py:55-89: ``camera_keyframe_*.hdf5``, one dataset per
file):

- superblock version 0 (the h5py "earliest" default), 8-byte offsets
- version-1 object headers (+ continuation blocks)
- symbol-table groups (B-tree v1 + SNOD nodes + local heap names)
- dataspace v1/v2, fixed-point and IEEE-float datatypes (little-endian)
- data layout v3: contiguous, or chunked (B-tree v1 keyed by chunk
  offset) with the gzip and byte-shuffle filters (stdlib zlib + numpy)

Anything outside the subset raises ``ValueError`` with the feature name,
so unsupported files fail loud, not wrong. Only the reading half lives in
the library; tests hand-craft real HDF5 bytes with their own writer to
prove end-to-end decode without h5py.
"""

from __future__ import annotations

import struct
import zlib
from typing import Any

import numpy as np

__all__ = ["read_datasets", "list_datasets"]

_SIG = b"\x89HDF\r\n\x1a\n"
_UNDEF = 0xFFFFFFFFFFFFFFFF


def _u(buf: bytes, off: int, n: int) -> int:
    return int.from_bytes(buf[off : off + n], "little")


# ---------------------------------------------------------------------------
# Object headers (version 1)
# ---------------------------------------------------------------------------


def _read_messages(buf: bytes, addr: int) -> list[tuple[int, bytes]]:
    """All (msg_type, body) of a v1 object header, following continuations."""
    if buf[addr] != 1:
        raise ValueError(f"unsupported object header version {buf[addr]}")
    nmsgs = _u(buf, addr + 2, 2)
    hdr_size = _u(buf, addr + 8, 4)
    # v1 prefix is 12 bytes + 4 pad so message data is 8-byte aligned
    blocks = [(addr + 16, hdr_size)]
    msgs: list[tuple[int, bytes]] = []
    while blocks and len(msgs) < nmsgs:
        pos, remaining = blocks.pop(0)
        while remaining >= 8 and len(msgs) < nmsgs:
            mtype = _u(buf, pos, 2)
            msize = _u(buf, pos + 2, 2)
            body = buf[pos + 8 : pos + 8 + msize]
            pos += 8 + msize
            remaining -= 8 + msize
            if mtype == 0x0010:  # continuation
                blocks.append((_u(body, 0, 8), _u(body, 8, 8)))
                continue
            msgs.append((mtype, body))
    return msgs


# ---------------------------------------------------------------------------
# Groups: symbol table B-tree + local heap
# ---------------------------------------------------------------------------


def _heap_name(buf: bytes, heap_addr: int, offset: int) -> str:
    if buf[heap_addr : heap_addr + 4] != b"HEAP":
        raise ValueError("bad local heap signature")
    data_addr = _u(buf, heap_addr + 24, 8)
    end = buf.index(b"\x00", data_addr + offset)
    return buf[data_addr + offset : end].decode("utf-8")


def _walk_group_btree(buf: bytes, btree_addr: int, heap_addr: int) -> dict[str, int]:
    """name → object-header address for one symbol-table group."""
    out: dict[str, int] = {}
    stack = [btree_addr]
    while stack:
        addr = stack.pop()
        sig = buf[addr : addr + 4]
        if sig == b"TREE":
            level = buf[addr + 5]
            n = _u(buf, addr + 6, 2)
            # keys (8) and children (8) alternate after the 24-byte head
            pos = addr + 24 + 8  # skip key0
            for _ in range(n):
                child = _u(buf, pos, 8)
                pos += 16  # child + next key
                stack.append(child)
            if level > 0:
                continue  # children are further TREE nodes
        elif sig == b"SNOD":
            nsyms = _u(buf, addr + 6, 2)
            pos = addr + 8
            for _ in range(nsyms):
                name_off = _u(buf, pos, 8)
                ohdr = _u(buf, pos + 8, 8)
                out[_heap_name(buf, heap_addr, name_off)] = ohdr
                pos += 40
        else:
            raise ValueError(f"unexpected node signature {sig!r}")
    return out


def _root_entries(buf: bytes) -> dict[str, int]:
    if buf[:8] != _SIG:
        raise ValueError("not an HDF5 file (bad signature)")
    sb_ver = buf[8]
    if sb_ver != 0:
        raise ValueError(
            f"hdf5lite supports superblock version 0 only, got v{sb_ver} "
            "(files written by newer HDF5 libraries use v2/v3 object "
            "headers): install h5py — sources.hypersim._default_hdf5_parser "
            "prefers it automatically — or inject a custom parser via "
            "read_hdf5_datasets(..., parser=...)"
        )
    if buf[13] != 8 or buf[14] != 8:
        raise ValueError("only 8-byte offsets/lengths supported")
    # root symbol-table entry sits after the 24-byte head + 4 addresses
    entry = 24 + 32
    ohdr_addr = _u(buf, entry + 8, 8)
    cache_type = _u(buf, entry + 16, 4)
    if cache_type == 1:  # cached: scratch = btree + heap addresses
        btree = _u(buf, entry + 24, 8)
        heap = _u(buf, entry + 32, 8)
    else:
        btree = heap = _UNDEF
        for mtype, body in _read_messages(buf, ohdr_addr):
            if mtype == 0x0011:  # symbol table message
                btree, heap = _u(body, 0, 8), _u(body, 8, 8)
        if btree == _UNDEF:
            raise ValueError("root group has no symbol table (v2 groups unsupported)")
    return _walk_group_btree(buf, btree, heap)


# ---------------------------------------------------------------------------
# Dataset messages
# ---------------------------------------------------------------------------


def _parse_dataspace(body: bytes) -> list[int]:
    ver = body[0]
    rank = body[1]
    if ver == 1:
        pos = 8
    elif ver == 2:
        pos = 4
    else:
        raise ValueError(f"unsupported dataspace version {ver}")
    return [_u(body, pos + 8 * i, 8) for i in range(rank)]


def _parse_datatype(body: bytes) -> np.dtype:
    cls = body[0] & 0x0F
    size = _u(body, 4, 4)
    bits0 = body[1]
    if bits0 & 1:
        raise ValueError("big-endian datatypes unsupported")
    if cls == 0:  # fixed-point
        signed = bool(bits0 & 0x08)
        return np.dtype(f"<{'i' if signed else 'u'}{size}")
    if cls == 1:  # IEEE float
        return np.dtype(f"<f{size}")
    raise ValueError(f"unsupported datatype class {cls}")


def _parse_filters(body: bytes) -> list[int]:
    if body[0] != 1:
        raise ValueError(f"unsupported filter pipeline version {body[0]}")
    nfilters = body[1]
    pos = 8
    ids = []
    for _ in range(nfilters):
        fid = _u(body, pos, 2)
        name_len = _u(body, pos + 2, 2)
        n_vals = _u(body, pos + 6, 2)
        pos += 8 + name_len + 4 * n_vals
        if n_vals % 2:
            pos += 4
        ids.append(fid)
    return ids


def _defilter(chunk: bytes, filters: list[int], dtype: np.dtype) -> bytes:
    # applied in reverse of the stored (write-order) pipeline
    for fid in reversed(filters):
        if fid == 1:  # gzip/deflate
            chunk = zlib.decompress(chunk)
        elif fid == 2:  # byte shuffle
            arr = np.frombuffer(chunk, dtype="u1")
            n = len(arr) // dtype.itemsize
            chunk = arr.reshape(dtype.itemsize, n).T.tobytes()
        else:
            raise ValueError(f"unsupported filter id {fid}")
    return chunk


def _read_chunked(
    buf: bytes,
    btree_addr: int,
    chunk_dims: list[int],
    shape: list[int],
    dtype: np.dtype,
    filters: list[int],
) -> np.ndarray:
    rank = len(shape)
    out = np.zeros(shape, dtype=dtype)
    stack = [btree_addr]
    while stack:
        addr = stack.pop()
        if buf[addr : addr + 4] != b"TREE":
            raise ValueError("bad chunk B-tree signature")
        level = buf[addr + 5]
        n = _u(buf, addr + 6, 2)
        key_size = 8 + 8 * (rank + 1)  # size(4)+mask(4)+offsets
        pos = addr + 24
        for _ in range(n):
            chunk_nbytes = _u(buf, pos, 4)
            offsets = [_u(buf, pos + 8 + 8 * d, 8) for d in range(rank)]
            child = _u(buf, pos + key_size, 8)
            pos += key_size + 8
            if level > 0:
                stack.append(child)
                continue
            raw = _defilter(buf[child : child + chunk_nbytes], filters, dtype)
            chunk = np.frombuffer(raw, dtype=dtype).reshape(chunk_dims)
            sel = tuple(
                slice(o, min(o + c, s)) for o, c, s in zip(offsets, chunk_dims, shape)
            )
            trim = tuple(slice(0, sl.stop - sl.start) for sl in sel)
            out[sel] = chunk[trim]
    return out


def _read_dataset(buf: bytes, ohdr_addr: int) -> np.ndarray:
    shape: list[int] | None = None
    dtype: np.dtype | None = None
    filters: list[int] = []
    layout: tuple[Any, ...] | None = None
    for mtype, body in _read_messages(buf, ohdr_addr):
        if mtype == 0x0001:
            shape = _parse_dataspace(body)
        elif mtype == 0x0003:
            dtype = _parse_datatype(body)
        elif mtype == 0x000B:
            filters = _parse_filters(body)
        elif mtype == 0x0008:
            if body[0] != 3:
                raise ValueError(f"unsupported layout version {body[0]}")
            lclass = body[1]
            if lclass == 1:  # contiguous
                layout = ("contiguous", _u(body, 2, 8), _u(body, 10, 8))
            elif lclass == 2:  # chunked
                ndims = body[2]  # rank + 1 (element-size dim)
                btree = _u(body, 3, 8)
                dims = [_u(body, 11 + 4 * i, 4) for i in range(ndims - 1)]
                layout = ("chunked", btree, dims)
            elif lclass == 0:  # compact
                dsize = _u(body, 2, 2)
                layout = ("compact", body[4 : 4 + dsize], dsize)
            else:
                raise ValueError(f"unsupported layout class {lclass}")
    if shape is None or dtype is None or layout is None:
        raise ValueError("dataset header missing dataspace/datatype/layout")
    if layout[0] == "contiguous":
        _, addr, size = layout
        if addr == _UNDEF:
            return np.zeros(shape, dtype=dtype)  # unallocated
        return np.frombuffer(buf[addr : addr + size], dtype=dtype).reshape(shape)
    if layout[0] == "compact":
        return np.frombuffer(layout[1], dtype=dtype).reshape(shape)
    _, btree, chunk_dims = layout
    return _read_chunked(buf, btree, chunk_dims, shape, dtype, filters)


# ---------------------------------------------------------------------------
# Public API
# ---------------------------------------------------------------------------


def list_datasets(content: bytes) -> list[str]:
    """Names of the root group's children (hypersim files are flat).
    Part of SURVEY §2.1 S5, "HDF5 dataset scan"."""
    return sorted(_root_entries(content))


def read_datasets(content: bytes, keys: list[str]) -> dict[str, np.ndarray]:
    """Read the requested root-level datasets; missing keys are skipped
    (mirroring the reference's ``if key in f`` probes)."""
    entries = _root_entries(content)
    out: dict[str, np.ndarray] = {}
    for key in keys:
        if key in entries:
            out[key] = _read_dataset(content, entries[key])
    return out
