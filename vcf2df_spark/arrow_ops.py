"""Arrow-native string column encode/decode — the engine's hot data plane.

Strings never materialize as Python objects here: the utf8 payload and
lengths come straight from the Arrow buffers, dictionary encoding is
``pyarrow.compute.dictionary_encode`` (C++), and decode rebuilds
StringArrays via ``from_buffers``. Combined with ``applyInArrow`` this
keeps the per-byte cost compute-bound (codec kernels) instead of
bandwidth-bound (object churn) — the property that lets encode scale
with cores on a real cluster.

This module is the only string entry. It holds the Arrow adapters
(:func:`string_buf_lengths`, :func:`strings_from_buf`), the measured
selector (:func:`encode_string_column`) and the one decode entry
(:func:`decode_string_column`, :func:`decode_string_rows`). Each block
format's layout lives only in its codec module (``codecs/raw.py``,
``dictionary.py``, ``rle.py``, ``fsst.py``, ``strnum.py``,
``zstdhi.py``), behind a buffer-level encoder and ``decode_to_buf``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import planner
from .codecs import dictionary, fsst, raw, rle, strnum, zstdhi
from .planner import _disk_proxy

_FORMATS = {m.NAME: m for m in (raw, dictionary, rle, fsst, strnum, zstdhi)}

# ---------------------------------------------------------------- adapters


def string_buf_lengths(arr: pa.Array) -> tuple[bytes, np.ndarray]:
    """StringArray -> (concatenated utf8 bytes, int64 lengths); zero-copy reads."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_large_string(arr.type):
        off_dtype = np.int64
    else:
        off_dtype = np.int32
    n = len(arr)
    if n == 0:
        return b"", np.zeros(0, dtype=np.int64)
    buffers = arr.buffers()
    offsets = np.frombuffer(buffers[1], dtype=off_dtype)[arr.offset : arr.offset + n + 1]
    # single copy: slice of the shared data buffer
    buf = bytes(memoryview(buffers[2])[int(offsets[0]) : int(offsets[-1])])
    return buf, np.diff(offsets).astype(np.int64)


def strings_from_buf(buf: bytes, lengths: np.ndarray) -> pa.Array:
    """(utf8 bytes, lengths) -> StringArray without per-row Python."""
    n = len(lengths)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    if offsets[-1] <= np.iinfo(np.int32).max:
        return pa.StringArray.from_buffers(
            n,
            pa.py_buffer(offsets.astype(np.int32).tobytes()),
            pa.py_buffer(buf),
        )
    return pa.Array.from_buffers(
        pa.large_utf8(), n,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(buf)],
    )


# ---------------------------------------------------------------- selector

_ZSTDHI_TRIAL_BYTES = 1 << 18


def _maybe_z12(cand: tuple) -> tuple[tuple, int]:
    """Measured choice between a dict/rle code stream and its zstd-12 wrap.

    The sink's page zstd leaves an already-compressed payload untouched,
    so the proxy comparison is exactly the on-disk outcome."""
    codec, payload, aux, meta = cand
    size = _disk_proxy(payload, aux)
    z, zmeta = dictionary.wrap_z12(payload, meta)
    zsize = _disk_proxy(z, aux)
    if zsize < size:
        return (codec, z, aux, zmeta), zsize
    return cand, size


def _zstdhi_sample_wins(buf: bytes) -> bool:
    """Level-12 trial on a bounded prefix vs the sink's default zstd.

    The full-buffer level-12 encode is the single most expensive candidate
    (~0.5 s per 64k-row text chunk); on corpora where it loses (most) that
    cost bought nothing. Compression ratios on a 256KB prefix track the
    full buffer closely, so the trial keeps the win and drops the cost.
    """
    sample = buf[:_ZSTDHI_TRIAL_BYTES]
    hi = len(zstdhi._CODEC.compress(sample))
    return hi < _disk_proxy(sample, b"")


def encode_string_column(
    arr: pa.Array, hints: dict | None = None,
) -> tuple[str, bytes, bytes, dict, int]:
    """Measured candidate selection over Arrow buffers (see planner).

    ``hints`` is a mutable per-column dict carrying the FSST / zstdhi
    sample-trial verdicts across the chunks of one encode group (the text
    statistics barely move within a group, and the trials dominate
    per-chunk cost otherwise). A verdict is recorded ONLY when its trial
    actually ran — a chunk that never reached a candidate's gate must not
    disable that candidate for later chunks. The raw floor keeps a stale
    verdict safe.
    """
    if hints is None:
        hints = {}
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    buf, lengths = string_buf_lengths(arr)
    best = ("raw", *raw.encode_from_buf(buf, lengths))
    raw_bytes = len(best[1]) + len(best[2])
    if n == 0:
        return (*best, raw_bytes)
    best_size = _disk_proxy(best[1], best[2])

    def consider(cand: tuple, size: int | None = None) -> None:
        nonlocal best, best_size
        if size is None:
            size = _disk_proxy(cand[1], cand[2])
        if size < best_size:
            best, best_size = cand, size

    # structured-id candidate: uniform length + constant prefix + digit
    # suffix (cheap uniform-length pre-check gates the matrix analysis)
    if lengths[0] == lengths.max() == lengths.min():
        shape = strnum.analyze(buf, lengths)
        if shape is not None:
            consider(("strnum", *strnum.encode_from_buf(buf, lengths, shape)))

    denc = pc.dictionary_encode(arr)
    ndv = len(denc.dictionary)
    if 0 < ndv <= 4096 and ndv <= max(n / 4, 1):
        # dict and rle over the same canonical codes, each with a measured
        # zstd-12 wrap of its code stream: the 1MB zstdhi gate protects RAW
        # TEXT whose blobs share vocabulary across chunks; packed code
        # streams are self-similar, so the per-chunk level-12 pass wins ~3%
        # on e.g. alternating role codes — this is what closes the role gap
        # vs parquet RLE_DICT. (Gated here — a high-ndv chunk that can't
        # take these codecs must not pay the O(n) remap.)
        codes, ndv, table_aux = dictionary.canonical_codes(denc)
        for mod in (dictionary, rle):
            block = mod.encode_from_codes(codes, ndv, table_aux)
            consider(*_maybe_z12((mod.NAME, *block)))
    else:
        # high-level zstd candidate: wins when extra encode CPU buys bytes.
        # Gated to large buffers: below ~1MB the sink's page-level zstd
        # compresses ACROSS adjacent raw payload blobs (shared vocabulary),
        # which a pre-compressed blob forfeits — measured as a net disk
        # loss for small chunks despite the per-blob proxy predicting a win.
        if len(buf) >= (1 << 20):
            if "zstdhi" not in hints:
                hints["zstdhi"] = _zstdhi_sample_wins(buf)
            if hints["zstdhi"]:
                consider(("zstdhi", *zstdhi.encode_from_buf(buf, lengths)))
        if "fsst" not in hints:
            hints["fsst"] = planner.fsst_sample_wins_buf(buf, lengths)
        if hints["fsst"]:
            consider(("fsst", *fsst.encode_from_buf(buf, lengths)))
    return (*best, raw_bytes)


# ------------------------------------------------------------------ decode


def _format(codec: str):
    try:
        return _FORMATS[codec]
    except KeyError:
        raise ValueError(f"unknown string codec {codec}") from None


def decode_string_column(codec: str, payload: bytes, aux: bytes, meta: dict,
                         n: int) -> pa.Array:
    return strings_from_buf(*_format(codec).decode_to_buf(payload, aux, meta, n))


def decode_string_rows(codec: str, payload: bytes, aux: bytes, meta: dict,
                       n: int, row_lo: int, row_hi: int) -> pa.Array:
    """Random access: decode only rows [row_lo, row_hi) of a string block.

    raw: direct payload slice. fsst / zstdhi: decode only the covering
    segments. Other codecs decode fully (their blocks are small) and slice.
    """
    row_lo, row_hi = max(0, row_lo), min(n, row_hi)
    if row_hi <= row_lo:
        return pa.array([], type=pa.string())
    rows_to_buf = getattr(_format(codec), "decode_rows_to_buf", None)
    if rows_to_buf is not None:
        return strings_from_buf(*rows_to_buf(payload, aux, meta, n, row_lo, row_hi))
    full = decode_string_column(codec, payload, aux, meta, n)
    return full.slice(row_lo, row_hi - row_lo)
