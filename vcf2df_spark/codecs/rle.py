"""RLE codec: run-length encoding over dictionary codes.

Target column: ``conv_id`` — long runs under the engine's stable
``(conv_id, turn_idx)`` sort contract (the Spark-explicit analogue of the
reference's assumed coordinate-sorted input + deterministic schema order,
``converter/schema.go:99-100``). Runs never cross chunk boundaries by
construction (chunk = contiguous subrange of a sorted partition).

Layout: payload = bitpacked run values (dict codes) ++ bitpacked run
lengths; aux = dictionary symbol table. meta carries both widths and the
run count. Codes, table and the optional zstd-12 wrap are the dict
format's (``dictionary.py``).
"""

from __future__ import annotations

import numpy as np

from . import bitpack, dictionary

NAME = "rle"


def encode_from_codes(codes: np.ndarray, ndv: int,
                      table_aux: bytes) -> tuple[bytes, bytes, dict]:
    starts = np.flatnonzero(np.diff(codes, prepend=codes[:1] - 1))
    run_vals = codes[starts].astype(np.uint64)
    run_lens = np.diff(np.append(starts, len(codes))).astype(np.uint64)
    vwidth = bitpack._bit_width(ndv - 1)
    lwidth = bitpack._bit_width(int(run_lens.max(initial=0)))
    vpack = bitpack.pack_u64(run_vals, vwidth)
    return vpack + bitpack.pack_u64(run_lens, lwidth), table_aux, {
        "n_runs": int(len(starts)),
        "vwidth": vwidth,
        "lwidth": lwidth,
        "vbytes": len(vpack),
    }


def decode_to_buf(payload: bytes, aux: bytes, meta: dict,
                  n: int) -> tuple[bytes, np.ndarray]:
    payload = dictionary.unwrap(payload, meta)
    k, vb = meta["n_runs"], meta["vbytes"]
    run_vals = bitpack.unpack_u64(payload[:vb], meta["vwidth"], k).astype(np.int64)
    run_lens = bitpack.unpack_u64(payload[vb:], meta["lwidth"], k).astype(np.int64)
    return dictionary.gather(aux, np.repeat(run_vals, run_lens))
