"""STRNUM codec: constant-prefix + fixed-width numeric-suffix strings.

Structured identifiers — ``conv-00012345``, ``user_0042`` — are a constant
prefix plus a zero-padded integer. Under the engine's (conv_id, turn_idx)
sort the suffix integers are near-monotone, so the column collapses to
prefix + FOR-delta bitpacked ints: for the primary-key column this beats
both dictionary and raw+zstd by a wide margin.

Detection and both directions are fully vectorized over a fixed-width byte
matrix view; applies only when every string has identical length, an
identical prefix, and an all-digit suffix (the selector measures anyway).
"""

from __future__ import annotations

import numpy as np

from . import fordelta

NAME = "strnum"


def analyze(buf: bytes, lengths: np.ndarray) -> tuple[int, int] | None:
    """Return (string_len, suffix_digits) if the column fits the shape."""
    n = len(lengths)
    if n == 0 or len(buf) == 0:
        return None
    L = int(lengths[0])
    if L == 0 or not (lengths == L).all():
        return None
    m = np.frombuffer(buf, dtype=np.uint8).reshape(n, L)
    is_digit = (m >= ord("0")) & (m <= ord("9"))
    digit_cols = is_digit.all(axis=0)
    # suffix = maximal all-digit run at the end
    k = 0
    for j in range(L - 1, -1, -1):
        if digit_cols[j]:
            k += 1
        else:
            break
    if k == 0 or k > 18:  # int64-safe
        return None
    prefix = m[:, : L - k]
    if prefix.size and not (prefix == prefix[0]).all():
        return None
    return L, k


def encode_from_buf(buf: bytes, lengths: np.ndarray,
                    shape: tuple[int, int]) -> tuple[bytes, bytes, dict]:
    L, k = shape
    n = len(lengths)
    m = np.frombuffer(buf, dtype=np.uint8).reshape(n, L)
    digits = m[:, L - k :].astype(np.int64) - ord("0")
    powers = 10 ** np.arange(k - 1, -1, -1, dtype=np.int64)
    values = digits @ powers
    payload, _, fmeta = fordelta.encode(values)
    prefix = bytes(m[0, : L - k])
    return payload, prefix, {"L": L, "k": k, **fmeta}


def decode_to_buf(payload: bytes, aux: bytes, meta: dict, n: int) -> tuple[bytes, np.ndarray]:
    L, k = meta["L"], meta["k"]
    values = fordelta.decode(payload, b"", meta, n)
    m = np.empty((n, L), dtype=np.uint8)
    m[:, : L - k] = np.frombuffer(aux, dtype=np.uint8)[None, :]
    rem = values.copy()
    for j in range(k - 1, -1, -1):
        m[:, L - k + j] = (rem % 10 + ord("0")).astype(np.uint8)
        rem //= 10
    return m.tobytes(), np.full(n, L, dtype=np.int64)
