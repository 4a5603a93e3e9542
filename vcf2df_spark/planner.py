"""Statistics-driven, measured codec selection for numeric and boolean columns.

The engine's optimizer. Mirrors the *move* of the reference's schema
inference — metadata in, encode plan out (``converter/schema.go:17-107``
chooses an encoding per declared INFO type) — but drives the choice from
observed per-chunk data instead of declared types, the way Parquet picks
per-page encodings below the query optimizer (SURVEY.md §4.2).

Every candidate is measured, never predicted by a rule: whether a codec
wins depends on the column's actual run and value structure. Each
``encode_best*`` entry builds a cheap per-type candidate list and
:func:`_encode_measured` keeps the smallest by post-sink-zstd size, with
RAW as the floor — encoded size <= raw size per chunk (SURVEY.md §4.3).
Goldens in ``tests/test_planner.py`` pin the candidate lists and choices
on fixed arrays. String columns are selected the same way in
``arrow_ops.encode_string_column``; :func:`fsst_sample_wins_buf` is its
FSST trial.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from . import codecs
from .codecs import fsst

SAMPLE_ROWS = 65536


def candidate_codecs(values: np.ndarray) -> list[str]:
    """Integer candidates measured by :func:`encode_best`.

    Both int codecs are cheap; fordelta only pays off on near-monotone
    columns (timestamps, positions), so it is tried when at least 70% of
    a sample's deltas are non-negative.
    """
    if len(values) == 0:
        return []
    deltas = np.diff(np.asarray(values[:SAMPLE_ROWS], dtype=np.int64))
    sorted_frac = float((deltas >= 0).mean()) if len(deltas) else 1.0
    return ["bitpack", "fordelta"] if sorted_frac >= 0.7 else ["bitpack"]


# sink-compression proxy: the blocks table is written as Parquet/zstd, so the
# selection objective is POST-zstd bytes, not pre-zstd bytes. Candidates are
# compared on a bounded prefix (they encode the same underlying rows, so the
# relative ratio is preserved) — compressing multi-MB payloads twice per
# candidate would dominate encode time.
_PROXY_CAP = 1 << 19

_ZSTD = pa.Codec("zstd")


def _disk_proxy(payload: bytes, aux: bytes) -> int:
    out = 0
    if payload:
        scale = max(1.0, len(payload) / _PROXY_CAP)
        out += int(len(_ZSTD.compress(payload[:_PROXY_CAP])) * scale)
    if aux:
        scale = max(1.0, len(aux) / _PROXY_CAP)
        out += int(len(_ZSTD.compress(aux[:_PROXY_CAP])) * scale)
    return out


def _encode_measured(values: np.ndarray,
                     cands: list[str]) -> tuple[str, bytes, bytes, dict, int]:
    """Encode with every candidate; keep the smallest, raw as the floor.

    The comparison applies the sink's zstd to both sides (what actually
    hits disk), so a codec that shrinks pre-zstd bytes but destroys zstd's
    own match opportunities loses honestly. Returns (codec, payload, aux,
    meta, raw_bytes).
    """
    raw_payload, raw_aux, raw_meta = codecs.encode("raw", values)
    raw_bytes = len(raw_payload) + len(raw_aux)
    best = ("raw", raw_payload, raw_aux, raw_meta)
    best_size = _disk_proxy(raw_payload, raw_aux)
    for codec in cands:
        payload, aux, meta = codecs.encode(codec, values)
        size = _disk_proxy(payload, aux)
        if size < best_size:
            best, best_size = (codec, payload, aux, meta), size
    return (*best, raw_bytes)


def encode_best(values: np.ndarray) -> tuple[str, bytes, bytes, dict, int]:
    """Integer columns: measured choice among raw / bitpack / fordelta."""
    values = np.asarray(values)
    return _encode_measured(values, candidate_codecs(values))


def encode_best_float(values: np.ndarray) -> tuple[str, bytes, bytes, dict, int]:
    """Float64 columns: measured choice among raw / fshuffle / fdict.

    fdict only when the bit-pattern cardinality of a sample is low (score
    and rating columns often are); fshuffle is always cheap to try.
    """
    values = np.ascontiguousarray(np.asarray(values), dtype=np.float64)
    cands = []
    if len(values):
        cands.append("fshuffle")
        sample_ndv = len(pd.unique(values[:SAMPLE_ROWS].view(np.int64)))
        if sample_ndv <= 4096 and sample_ndv <= max(len(values) / 4, 1):
            cands.append("fdict")
    return _encode_measured(values, cands)


def encode_best_bool(values: np.ndarray) -> tuple[str, bytes, bytes, dict, int]:
    """Boolean columns: boolpack (1 bit/value) vs the raw floor, measured."""
    values = np.asarray(values, dtype=np.bool_)
    return _encode_measured(values, ["boolpack"] if len(values) else [])


# 64KB trial: train already caps its sample at TRAIN_SAMPLE_BYTES (64KB),
# so a larger trial buffer only inflated the trial's own encode pass
# (measured 78ms -> 40ms per chunk at 256KB -> 64KB with the same verdict:
# the compression ratio on a 64KB prefix tracks the full buffer, and the
# verdict is biased toward raw at smaller samples, which the raw floor
# keeps safe). The trial is the dominant kernel cost on corpora where
# FSST loses (guide §1.2: per-task work after the algorithm is right).
_FSST_TRIAL_BYTES = 1 << 16


def fsst_sample_wins_buf(buf: bytes, lengths: np.ndarray) -> bool:
    """Buffer-level FSST trial for the Arrow path: no string objects."""
    sample = buf[:_FSST_TRIAL_BYTES]
    if not sample:
        return False
    symbols = fsst.train(sample)
    enc = fsst.encode_buffer(sample, symbols)
    table_bytes = sum(len(s) for s in symbols) + 4 * len(symbols)
    return _disk_proxy(enc, b"") + table_bytes < _disk_proxy(sample, b"")

