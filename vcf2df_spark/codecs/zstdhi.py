"""ZSTDHI codec: high-level zstd for write-once string payloads.

The blocks table's sink compression is zstd at the default fast level; for
encode-once/read-many transcript text it is worth spending encode CPU on a
higher level — measured on the fixture corpus: level 12 is 13.6% smaller
than level 3 at ~29 MB/s/core (level 19 gains 6% more at 10x the cost).
The selector compares final disk bytes, so this codec wins exactly when
the extra CPU actually buys bytes; the already-compressed payload passes
through the sink's zstd untouched.

Payloads are framed in 1MB segments (like codecs/fsst.py's 256KB
segments): random access decodes only the frames covering a byte range
(``decode_byte_range``), which the point-lookup path uses to fetch one
conversation's text without inflating the whole chunk. Costs ~1% ratio vs
a single frame.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from . import strutil

NAME = "zstdhi"
LEVEL = 12
SEGMENT_BYTES = 1 << 20

_CODEC = pa.Codec("zstd", compression_level=LEVEL)
_DECODEC = pa.Codec("zstd")


def encode_from_buf(buf: bytes, lengths: np.ndarray) -> tuple[bytes, bytes, dict]:
    view = memoryview(buf)  # zero-copy segment slices into the compressor
    frames = [
        bytes(_CODEC.compress(view[i : i + SEGMENT_BYTES]))
        for i in range(0, len(buf), SEGMENT_BYTES)
    ]
    lpack, lmeta = strutil.pack_lengths(lengths)
    return b"".join(frames), lpack, {
        **lmeta, "raw_len": len(buf), "level": LEVEL,
        "seg_code_lens": [len(f) for f in frames],
    }


def _frame_raw_len(meta: dict, idx: int) -> int:
    return min(SEGMENT_BYTES, meta["raw_len"] - idx * SEGMENT_BYTES)


def decode_frames(payload: bytes, meta: dict, lo_f: int, hi_f: int) -> bytes:
    """Decompress frames [lo_f, hi_f) into one contiguous buffer."""
    code_lens = meta.get("seg_code_lens")
    if code_lens is None:  # single-frame legacy layout
        return _DECODEC.decompress(payload, meta["raw_len"]).to_pybytes()
    starts = np.zeros(len(code_lens) + 1, dtype=np.int64)
    np.cumsum(code_lens, out=starts[1:])
    return b"".join(
        _DECODEC.decompress(
            payload[starts[i] : starts[i + 1]], _frame_raw_len(meta, i)
        ).to_pybytes()
        for i in range(lo_f, hi_f)
    )


def decode_byte_range(payload: bytes, meta: dict, lo_b: int,
                      hi_b: int) -> tuple[bytes, int]:
    """Decode only the frames covering raw bytes [lo_b, hi_b).

    Returns (buffer, base) where buffer[lo_b - base : hi_b - base] is the
    requested range — same contract as fsst.decode_byte_range.
    """
    if not payload or hi_b <= lo_b:
        return b"", 0
    if meta.get("seg_code_lens") is None:
        # legacy single-frame block: the whole buffer, based at byte 0 —
        # a frame-index base would shift the caller's slice
        return decode_frames(payload, meta, 0, 1), 0
    lo_f = lo_b // SEGMENT_BYTES
    hi_f = (hi_b - 1) // SEGMENT_BYTES + 1  # hi_b > lo_b >= 0 by the guard
    return decode_frames(payload, meta, lo_f, hi_f), lo_f * SEGMENT_BYTES


def decode_rows_to_buf(payload: bytes, aux: bytes, meta: dict, n: int,
                       row_lo: int, row_hi: int) -> tuple[bytes, np.ndarray]:
    """Rows [row_lo, row_hi) only: inflates just the covering frames."""
    lengths = strutil.unpack_lengths(aux, meta, n)
    lo_b, hi_b = strutil.byte_span(lengths, row_lo, row_hi)
    body, base = decode_byte_range(payload, meta, lo_b, hi_b)
    return body[lo_b - base : hi_b - base], lengths[row_lo:row_hi]


def decode_to_buf(payload: bytes, aux: bytes, meta: dict,
                  n: int) -> tuple[bytes, np.ndarray]:
    return decode_rows_to_buf(payload, aux, meta, n, 0, n)
