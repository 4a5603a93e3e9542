"""FSST-style codec: per-chunk trained symbol-table string compression.

Target column: ``text`` (high-entropy strings). Built from scratch per the
published FSST design (Boncz/Neumann/Leis, "FSST: Fast Random Access String
Compression", VLDB 2020): up to 255 symbols of 1..8 bytes, code 255 = escape
followed by one literal byte. This is the engine's analogue of the
reference's array->compact-string encode (``converter/formatOutput.go:60-80``)
taken to its logical end: a typed column mapped to a compact byte stream plus
a small table that rides in the manifest.

Everything is vectorized numpy:
- training: n-gram gain counting via sliding windows + ``np.unique`` on a
  bounded sample;
- encode: greedy longest-match parse computed as (a) per-length window-key
  table lookups (vector searchsorted), then (b) the parse walk extracted by
  pointer doubling (O(n log n) vector ops, no per-byte Python loop);
- decode: escape positions recovered by run-parity analysis, symbol bytes
  scattered per-code.
"""

from __future__ import annotations

import numpy as np

from . import strutil

NAME = "fsst"

MAX_SYMBOLS = 255  # code 255 reserved for escape
MAX_LEN = 8
TRAIN_SAMPLE_BYTES = 1 << 16


def _window_keys(a: np.ndarray, L: int) -> np.ndarray:
    """uint64 little-endian key of every L-byte window of uint8 array ``a``."""
    n = len(a)
    m = n - L + 1
    key = np.zeros(m, dtype=np.uint64)
    for j in range(L):
        key |= a[j : m + j].astype(np.uint64) << np.uint64(8 * j)
    return key


def _candidate_gains(a: np.ndarray, max_symbols: int) -> dict[bytes, int]:
    gains: dict[bytes, int] = {}
    # single bytes: replacing an escape (2 bytes out) with a code (1 byte out)
    u1, c1 = np.unique(a, return_counts=True)
    for b, c in zip(u1, c1):
        gains[bytes([int(b)])] = int(c)
    for L in range(2, MAX_LEN + 1):
        if len(a) < L:
            break
        keys = _window_keys(a, L)
        uniq, counts = np.unique(keys, return_counts=True)
        gain = counts.astype(np.int64) * (L - 1)
        top = np.argsort(gain)[-(max_symbols * 2) :]
        for k, g in zip(uniq[top], gain[top]):
            if g > L:  # must at least beat its own table-entry cost
                gains[int(k).to_bytes(8, "little")[:L]] = int(g)
    return gains


def train(sample: bytes, max_symbols: int = MAX_SYMBOLS,
          iterations: int = 2) -> list[bytes]:
    """Pick up to ``max_symbols`` symbols by byte-savings gain.

    The first pass counts overlapping window frequencies (overestimates:
    overlapping matches can't all be taken). Refinement passes — the move
    FSST's published training makes — parse the sample greedily with the
    current table, recount gains from the *non-overlapping matches the
    parse actually takes* (plus escape-adjacent pairs as new candidates),
    and reselect.
    """
    sample = sample[:TRAIN_SAMPLE_BYTES]
    a = np.frombuffer(sample, dtype=np.uint8)
    if len(a) == 0:
        return []
    gains = _candidate_gains(a, max_symbols)
    symbols = sorted(
        sorted(gains, key=lambda s: (gains[s], s), reverse=True)[:max_symbols]
    )
    for _ in range(max(0, iterations - 1)):
        positions, codes, lens = _parse(a, symbols)
        real: dict[bytes, int] = {}
        # realized gains: bytes saved by each symbol as actually used
        use_codes, use_counts = np.unique(codes[codes != 255], return_counts=True)
        for c, cnt in zip(use_codes, use_counts):
            s = symbols[int(c)]
            real[s] = int(cnt) * max(len(s) - 1, 1)
        # escape positions: their adjacent pairs are fresh candidates
        esc_pos = positions[codes == 255]
        if len(esc_pos):
            pair_pos = esc_pos[esc_pos < len(a) - 1]
            if len(pair_pos):
                pairs = (
                    a[pair_pos].astype(np.uint64)
                    | (a[pair_pos + 1].astype(np.uint64) << np.uint64(8))
                )
                up, cp = np.unique(pairs, return_counts=True)
                for k, cnt in zip(up, cp):
                    s = int(k).to_bytes(2, "little")
                    real[s] = real.get(s, 0) + int(cnt)
            # single escaped bytes still matter (escape costs 2 bytes)
            ue, ce = np.unique(a[esc_pos], return_counts=True)
            for b, cnt in zip(ue, ce):
                s = bytes([int(b)])
                real[s] = real.get(s, 0) + int(cnt)
        symbols = sorted(
            sorted(real, key=lambda s: (real[s], s), reverse=True)[:max_symbols]
        )
    return symbols


def _parse(a: np.ndarray, symbols: list[bytes]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Greedy longest-match parse. Returns (positions, codes, match_lens)."""
    n = len(a)
    # fused (len << 8 | code) per position: one masked assign per length
    best = np.full(n, (1 << 8) | 255, dtype=np.int16)
    by_len: dict[int, tuple[list[int], list[int]]] = {}
    for code, s in enumerate(symbols):
        by_len.setdefault(len(s), ([], []))
        by_len[len(s)][0].append(int.from_bytes(s, "little"))
        by_len[len(s)][1].append(code)
    # one 8-byte little-endian key per position (zero-padded tail); the
    # L-byte window key is key8 & mask_L — valid for every i <= n-L
    padded = np.zeros(n + 8, dtype=np.uint8)
    padded[:n] = a
    key8 = np.zeros(n, dtype=np.uint64)
    for j in range(8):
        key8 |= padded[j : n + j].astype(np.uint64) << np.uint64(8 * j)
    for L in sorted(by_len):  # ascending: longer matches override
        if n < L:
            continue
        tk = np.array(by_len[L][0], dtype=np.uint64)
        tc = np.array(by_len[L][1], dtype=np.int16)
        order = np.argsort(tk)
        tk, tc = tk[order], tc[order]
        mask = np.uint64((1 << (8 * L)) - 1) if L < 8 else np.uint64(0xFFFFFFFFFFFFFFFF)
        m = n - L + 1
        keys = key8[:m] & mask
        pos = np.searchsorted(tk, keys)
        np.minimum(pos, len(tk) - 1, out=pos)
        ok = tk[pos] == keys
        best[:m][ok] = tc[pos[ok]] | np.int16(L << 8)
    # parse walk via a 64-symbol jump table: 6 doublings build J64, a short
    # scalar loop collects every-64th anchor, then 63 vector gathers expand
    jump = np.empty(n + 1, dtype=np.int32)
    jump[:n] = np.arange(n, dtype=np.int32)
    jump[:n] += best >> 8
    jump[n] = n
    np.minimum(jump, n, out=jump)
    j64 = jump
    for _ in range(6):
        j64 = j64[j64]
    anchors = [0]
    i = 0
    while True:
        i = int(j64[i])
        if i >= n:
            break
        anchors.append(i)
    grid = np.empty((64, len(anchors)), dtype=np.int32)
    grid[0] = anchors
    for k in range(1, 64):
        grid[k] = jump[grid[k - 1]]
    positions = grid.T.ravel()
    positions = positions[positions < n]
    positions = np.unique(positions)  # drop sentinel dups from the tail
    hit = best[positions]
    return positions, (hit & np.int16(0xFF)).astype(np.int16), (hit >> 8).astype(np.int64)


def encode_buffer(data: bytes, symbols: list[bytes]) -> bytes:
    a = np.frombuffer(data, dtype=np.uint8)
    if len(a) == 0:
        return b""
    positions, codes, _ = _parse(a, symbols)
    esc = codes == 255
    sizes = np.where(esc, 2, 1).astype(np.int64)
    offs = np.zeros(len(sizes) + 1, dtype=np.int64)
    np.cumsum(sizes, out=offs[1:])
    out = np.empty(offs[-1], dtype=np.uint8)
    out[offs[:-1][~esc]] = codes[~esc].astype(np.uint8)
    out[offs[:-1][esc]] = 255
    out[offs[:-1][esc] + 1] = a[positions[esc]]
    return out.tobytes()


def decode_buffer(data: bytes, symbols: list[bytes]) -> bytes:
    buf = np.frombuffer(data, dtype=np.uint8)
    n = len(buf)
    if n == 0:
        return b""
    e = np.flatnonzero(buf == 255)
    if len(e):
        # every maximal run of consecutive 255s starts at a code position,
        # so within a run: even offset = real escape, odd = literal byte
        run_start = np.diff(e, prepend=-2) > 1
        run_id = np.cumsum(run_start) - 1
        off_in_run = e - e[run_start][run_id]
        real_esc = e[off_in_run % 2 == 0]
    else:
        real_esc = e
    # stream items = real escapes (emit 1 literal) + plain code positions
    consumed = np.zeros(n + 1, dtype=bool)
    consumed[real_esc] = True
    consumed[real_esc + 1] = True
    is_item = ~consumed[:n]
    is_item[real_esc] = True
    item_pos = np.flatnonzero(is_item)
    codes_here = buf[item_pos]
    literal = codes_here == 255
    sym_lens = np.zeros(256, dtype=np.int64)
    for c, s in enumerate(symbols):
        sym_lens[c] = len(s)
    out_lens = np.where(literal, 1, sym_lens[codes_here])
    offs = np.zeros(len(out_lens) + 1, dtype=np.int64)
    np.cumsum(out_lens, out=offs[1:])
    out = np.empty(offs[-1], dtype=np.uint8)
    out[offs[:-1][literal]] = buf[item_pos[literal] + 1]
    starts_all = offs[:-1]
    for c in np.unique(codes_here[~literal]):
        sym = symbols[int(c)]
        starts = starts_all[(~literal) & (codes_here == c)]
        for j, byte in enumerate(sym):
            out[starts + j] = byte
    return out.tobytes()


# parse in cache-resident segments: the O(n)-pass parse is memory-bound on
# large buffers; 256KB keeps all temporaries in L2/L3 (~4x measured). Segments
# decode independently and concatenate to the identical raw buffer.
SEGMENT_BYTES = 1 << 18


def encode_from_buf(buf: bytes, lengths: np.ndarray) -> tuple[bytes, bytes, dict]:
    """Train on the buffer, parse it segment by segment.

    aux = packed symbol table ++ packed lengths; meta records the table's
    size and every segment's code length (the random-access index)."""
    symbols = train(buf)
    segs = [
        encode_buffer(buf[i : i + SEGMENT_BYTES], symbols)
        for i in range(0, len(buf), SEGMENT_BYTES)
    ] or [b""]
    table = strutil.pack_str_list(symbols)
    lpack, lmeta = strutil.pack_lengths(lengths)
    return b"".join(segs), table + lpack, {
        "table_bytes": len(table), **lmeta,
        "seg_code_lens": [len(s) for s in segs],
    }


def _symbols_and_lengths(aux: bytes, meta: dict,
                         n: int) -> tuple[list[bytes], np.ndarray]:
    tb = meta["table_bytes"]
    return strutil.unpack_str_list(aux[:tb]), strutil.unpack_lengths(aux[tb:], meta, n)


def decode_byte_range(payload: bytes, symbols: list[bytes],
                      seg_code_lens: list[int], lo: int, hi: int) -> tuple[bytes, int]:
    """Decode only the segments covering raw-byte range [lo, hi).

    Segments are fixed SEGMENT_BYTES raw-byte windows, so the covering
    segment span is computable without decoding anything — this is the
    random-access property FSST exists for. Returns (decoded bytes of the
    covering segments, raw-byte offset of their start).
    """
    if hi <= lo:
        return b"", lo
    s0 = lo // SEGMENT_BYTES
    s1 = (hi - 1) // SEGMENT_BYTES + 1
    code_offs = [0]
    for cl in seg_code_lens:
        code_offs.append(code_offs[-1] + cl)
    parts = [
        decode_buffer(payload[code_offs[s] : code_offs[s + 1]], symbols)
        for s in range(s0, min(s1, len(seg_code_lens)))
    ]
    return b"".join(parts), s0 * SEGMENT_BYTES


def decode_rows_to_buf(payload: bytes, aux: bytes, meta: dict, n: int,
                       row_lo: int, row_hi: int) -> tuple[bytes, np.ndarray]:
    """Rows [row_lo, row_hi) only: decodes just the covering segments."""
    symbols, lengths = _symbols_and_lengths(aux, meta, n)
    lo_b, hi_b = strutil.byte_span(lengths, row_lo, row_hi)
    body, base = decode_byte_range(payload, symbols, meta["seg_code_lens"],
                                   lo_b, hi_b)
    return body[lo_b - base : hi_b - base], lengths[row_lo:row_hi]


def decode_to_buf(payload: bytes, aux: bytes, meta: dict,
                  n: int) -> tuple[bytes, np.ndarray]:
    return decode_rows_to_buf(payload, aux, meta, n, 0, n)
