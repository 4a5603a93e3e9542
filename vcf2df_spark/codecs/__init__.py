"""Codec registry: name -> (encode, decode) over numeric and boolean arrays.

The target engine's closed, exhaustively-tested codec/type matrix — the
re-imagined analogue of the reference's per-type encode switch
(``converter/formatOutput.go:44-88``), with codecs chosen per observed
statistics (see ``planner.py``) instead of per declared type.

Contract: ``encode(values) -> (payload: bytes, aux: bytes, meta: dict)``,
``decode(payload, aux, meta, n) -> values`` with
``decode(*encode(x), len(x))`` bit-identical to ``x``.

String formats (raw, dict, rle, fsst, strnum, zstdhi) are not in this
registry: each lives in its own module as a buffer-level
``encode_from_buf``/``encode_from_codes`` and ``decode_to_buf`` over
(utf8 buffer, lengths), and ``arrow_ops`` is their only entry —
``encode_string_column`` selects, ``decode_string_column`` decodes.
"""

from __future__ import annotations

import numpy as np

from . import bitpack, boolpack, floats, fordelta, raw

_CODECS = {
    bitpack.NAME: (bitpack.encode, bitpack.decode),
    fordelta.NAME: (fordelta.encode, fordelta.decode),
    floats.NAME: (floats.encode, floats.decode),
    floats.DICT_NAME: (floats.encode_dict, floats.decode_dict),
    boolpack.NAME: (boolpack.encode, boolpack.decode),
    raw.NAME: (raw.encode, raw.decode),
}


def _entry(codec: str, meta: dict | None = None):
    if codec not in _CODECS or (meta or {}).get("kind") == "str":
        raise ValueError(
            f"{codec!r} is not a numeric or boolean codec: string blocks are "
            "encoded by arrow_ops.encode_string_column and decoded by "
            "arrow_ops.decode_string_column"
        )
    return _CODECS[codec]


def encode(codec: str, values: np.ndarray) -> tuple[bytes, bytes, dict]:
    return _entry(codec)[0](values)


def decode(codec: str, payload: bytes, aux: bytes, meta: dict, n: int) -> np.ndarray:
    return _entry(codec, meta)[1](payload, aux, meta, n)
