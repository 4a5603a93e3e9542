"""Shared byte layouts of the string block formats.

- String list (symbol tables, dictionaries):
  ``uint32 count | uint32 lengths[count] | utf8 concat``.
- Row lengths: frame-of-reference bitpacked, ``meta`` carries
  ``lwidth``/``lmin``. Every format that stores a (utf8 buffer, lengths)
  pair (raw, fsst, zstdhi) packs its lengths here and nowhere else.

All construction/parsing is numpy buffer work; no per-row Python.
"""

from __future__ import annotations

import numpy as np

from . import bitpack


def pack_str_list(items: list[bytes]) -> bytes:
    """Serialize a small list of byte strings (symbol tables / dictionaries)."""
    lengths = np.fromiter((len(b) for b in items), dtype=np.uint32, count=len(items))
    head = np.array([len(items)], dtype=np.uint32).tobytes()
    return head + lengths.tobytes() + b"".join(items)


def str_list_buf(buf: bytes) -> tuple[bytes, np.ndarray]:
    """Packed string list -> (concatenated items, int64 item lengths)."""
    count = int(np.frombuffer(buf[:4], dtype=np.uint32)[0])
    lengths = np.frombuffer(buf[4 : 4 + 4 * count], dtype=np.uint32).astype(np.int64)
    return buf[4 + 4 * count :], lengths


def unpack_str_list(buf: bytes) -> list[bytes]:
    body, lengths = str_list_buf(buf)
    ends = np.cumsum(lengths).tolist()
    return [body[e - ln : e] for e, ln in zip(ends, lengths.tolist())]


def pack_lengths(lengths: np.ndarray) -> tuple[bytes, dict]:
    """int64 row lengths -> (packed bytes, {"lwidth", "lmin"})."""
    if len(lengths) == 0:
        return b"", {"lwidth": 0, "lmin": 0}
    lmin = int(lengths.min())
    lwidth = bitpack._bit_width(int(lengths.max()) - lmin)
    return (
        bitpack.pack_u64((lengths - lmin).astype(np.uint64), lwidth),
        {"lwidth": lwidth, "lmin": lmin},
    )


def unpack_lengths(packed: bytes, meta: dict, n: int) -> np.ndarray:
    """Inverse of :func:`pack_lengths`; int64 lengths of ``n`` rows."""
    return bitpack.unpack_u64(packed, meta["lwidth"], n).astype(np.int64) + meta["lmin"]


def byte_span(lengths: np.ndarray, row_lo: int, row_hi: int) -> tuple[int, int]:
    """Byte range [lo, hi) of rows [row_lo, row_hi) in the concatenated buffer."""
    lo = int(lengths[:row_lo].sum())
    return lo, lo + int(lengths[row_lo:row_hi].sum())
