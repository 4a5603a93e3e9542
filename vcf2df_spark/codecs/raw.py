"""RAW codec: passthrough fallback — guarantees encoded size ~= raw size.

The selector's floor (SURVEY.md §4.3): every column always has a codec whose
encoded size is never worse than the input, so measured auto-selection can
always fall back. Block-level zstd at the Parquet sink still applies on top.

Numbers (registry entry): payload = raw little-endian buffer.
Strings (buffer level): payload = utf8 concat, lengths packed into aux.
"""

from __future__ import annotations

import numpy as np

from . import strutil

NAME = "raw"


def encode(values: np.ndarray) -> tuple[bytes, bytes, dict]:
    values = np.asarray(values)
    return values.tobytes(), b"", {"kind": "int", "dtype": str(values.dtype)}


def decode(payload: bytes, aux: bytes, meta: dict, n: int) -> np.ndarray:
    return np.frombuffer(payload, dtype=meta["dtype"]).copy()


def encode_from_buf(buf: bytes, lengths: np.ndarray) -> tuple[bytes, bytes, dict]:
    lpack, lmeta = strutil.pack_lengths(lengths)
    return buf, lpack, {"kind": "str", **lmeta}


def decode_rows_to_buf(payload: bytes, aux: bytes, meta: dict, n: int,
                       row_lo: int, row_hi: int) -> tuple[bytes, np.ndarray]:
    """Rows [row_lo, row_hi) only: a direct payload slice."""
    lengths = strutil.unpack_lengths(aux, meta, n)
    lo_b, hi_b = strutil.byte_span(lengths, row_lo, row_hi)
    return payload[lo_b:hi_b], lengths[row_lo:row_hi]


def decode_to_buf(payload: bytes, aux: bytes, meta: dict,
                  n: int) -> tuple[bytes, np.ndarray]:
    return decode_rows_to_buf(payload, aux, meta, n, 0, n)
