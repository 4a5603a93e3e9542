"""DICT codec: dictionary encoding for low-cardinality string columns.

Target columns: ``role``, ``tool`` (reference analogue: low-cardinality enum
columns SVTYPE/CHROM, ``converter/reservedColumns.go`` + README.md:39-41).

payload = bitpacked codes at ceil(log2(ndv)) bits; aux = symbol table
(length-prefixed utf8 list, sorted for determinism). Codes are assigned by
sorted-unique order so encode output is byte-stable regardless of row order
of first occurrence — the same determinism move as the reference's lexical
column sort (``converter/schema.go:99-100``).

This module also holds what the RLE format (``rle.py``) shares with it:
the canonical code assignment, the table layout and the optional zstd-12
wrap of the code stream (meta key ``z`` = unwrapped length).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import bitpack, strutil

NAME = "dict"

_Z12 = pa.Codec("zstd", compression_level=12)
_ZDEC = pa.Codec("zstd")


def canonical_codes(denc: pa.DictionaryArray) -> tuple[np.ndarray, int, bytes]:
    """Arrow dictionary encoding -> (int64 codes, ndv, packed table aux).

    pyarrow assigns codes by FIRST OCCURRENCE, which differs chunk to
    chunk; the sink's page zstd then compresses adjacent chunks' code
    payloads with ONE entropy table over a mixture of distributions
    (measured +6% on role). Sorting the table aligns every chunk's code
    assignment, so cross-chunk payload bytes share a single distribution.
    """
    table = denc.dictionary
    ndv = len(table)
    order = pc.sort_indices(table).to_numpy(zero_copy_only=False)
    rank = np.empty(ndv, dtype=np.int64)
    rank[order] = np.arange(ndv, dtype=np.int64)
    codes = rank[denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)]
    items = [s.encode("utf-8") for s in table.take(pa.array(order)).to_pylist()]
    return codes, ndv, strutil.pack_str_list(items)


def wrap_z12(payload: bytes, meta: dict) -> tuple[bytes, dict]:
    """zstd-12 wrap of a code stream; ``z`` records the unwrapped length."""
    return bytes(_Z12.compress(payload)), {**meta, "z": len(payload)}


def unwrap(payload: bytes, meta: dict) -> bytes:
    if "z" in meta:
        return _ZDEC.decompress(payload, meta["z"]).to_pybytes()
    return payload


def gather(table_aux: bytes, codes: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Table entries at ``codes`` -> (utf8 buffer, int64 lengths)."""
    body, tlens = strutil.str_list_buf(table_aux)
    toffs = np.zeros(len(tlens) + 1, dtype=np.int64)
    np.cumsum(tlens, out=toffs[1:])
    table = pa.Array.from_buffers(
        pa.large_binary(), len(tlens),
        [None, pa.py_buffer(toffs), pa.py_buffer(body)],
    )
    taken = pc.take(table, pa.array(codes))
    if len(taken) == 0:
        return b"", np.zeros(0, dtype=np.int64)
    bufs = taken.buffers()
    offs = np.frombuffer(bufs[1], dtype=np.int64)[: len(taken) + 1]
    return bytes(memoryview(bufs[2])[offs[0] : offs[-1]]), np.diff(offs)


def encode_from_codes(codes: np.ndarray, ndv: int,
                      table_aux: bytes) -> tuple[bytes, bytes, dict]:
    width = bitpack._bit_width(ndv - 1)
    payload = bitpack.pack_u64(codes.astype(np.uint64), width)
    return payload, table_aux, {"width": width, "ndv": ndv}


def decode_to_buf(payload: bytes, aux: bytes, meta: dict,
                  n: int) -> tuple[bytes, np.ndarray]:
    codes = bitpack.unpack_u64(unwrap(payload, meta), meta["width"], n)
    return gather(aux, codes.astype(np.int64))
