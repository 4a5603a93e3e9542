"""Golden byte pin of the on-disk block format (no Spark).

``encode.encode_chunk_arrow`` runs on fixed, seeded inputs built so that
every string, numeric and boolean codec is selected at least once. The
test pins the selected codec set and one sha256 over every block's
``(column, codec, payload, aux, meta)``: any change to a codec's layout,
to the selector's choice or to the meta keys moves the digest. A change
that is meant to leave the format alone must leave this test untouched.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pyarrow as pa

from vcf2df_spark import encode

N = 65536
LABELS = np.array([f"label-{chr(97 + i // 26)}{chr(97 + i % 26)}" for i in range(50)])
WORDS_SEED = 3


def _main_chunk() -> pa.Table:
    rng = np.random.default_rng(42)
    z = rng.zipf(3.0, size=8 * N)
    zipf_codes = z[z <= 50][:N] - 1
    run_codes = np.repeat(rng.zipf(3.0, size=N) % 50, rng.integers(1, 11, N))[:N]
    long_runs = np.repeat(rng.integers(0, 50, N), rng.integers(1, 101, N))[:N]
    words = np.array(["alpha", "beta", "gamma", "delta", "status",
                      "completed", "result", "tool", "call", "user"])
    ts = np.cumsum(rng.integers(0, 10**6, N)) + 1_700_000_000_000_000
    return pa.table({
        "s_dict_z": pa.array(LABELS[zipf_codes]),
        "s_dict": pa.array(LABELS[rng.integers(0, 50, N)]),
        "s_rle_z": pa.array(LABELS[run_codes]),
        "s_rle": pa.array(LABELS[long_runs]),
        "s_strnum": pa.array(
            [f"conv-{i:08d}" for i in np.sort(rng.integers(0, 10**6, N))]
        ),
        "s_fsst": pa.array(
            [" ".join(words[rng.integers(0, 10, 8)]) + f" {i}" for i in range(N)]
        ),
        "s_raw": pa.array([rng.bytes(12).hex() for _ in range(N)]),
        "i_bitpack": pa.array(rng.integers(0, 1000, N).astype(np.int32)),
        "i_fordelta": pa.array(np.cumsum(rng.integers(0, 10**6, N))),
        "i_raw": pa.array(rng.integers(-2**63, 2**63 - 1, N, dtype=np.int64)),
        "ts": pa.array(ts).cast(pa.timestamp("us", tz="UTC")),
        "f_shuffle": pa.array(rng.random(N) * 100),
        "f_dict": pa.array(rng.integers(0, 10, N) * 0.5),
        "b_pack": pa.array(rng.random(N) < 0.3),
    })


def _zstdhi_chunk() -> pa.Table:
    """Over 1MB of Zipf-drawn words: large enough for the zstdhi gate."""
    rng = np.random.default_rng(WORDS_SEED)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    vocab = np.array([
        bytes(letters[rng.integers(0, 26, rng.integers(2, 9))]).decode()
        for _ in range(2000)
    ])
    z = rng.zipf(1.2, size=10**6)
    ws = vocab[z[z <= 2000] - 1]
    return pa.table({
        "s_zstdhi": pa.array([" ".join(ws[i * 20 : (i + 1) * 20])
                              for i in range(20000)]),
    })


def _tiny_chunk() -> pa.Table:
    """One row: no codec beats the raw floor on floats and booleans."""
    return pa.table({
        "f_raw": pa.array([2.5]),
        "b_raw": pa.array([True]),
        "s_empty": pa.array([""]),
    })


def _blocks() -> list[dict]:
    rows = []
    for idx, chunk in enumerate((_main_chunk(), _zstdhi_chunk(), _tiny_chunk())):
        rows.extend(encode.encode_chunk_arrow(chunk, 0, idx))
    return rows


EXPECTED_CODECS = {
    "s_dict_z": "dict", "s_dict": "dict", "s_rle_z": "rle", "s_rle": "rle",
    "s_strnum": "strnum", "s_fsst": "fsst", "s_raw": "raw",
    "s_zstdhi": "zstdhi", "i_bitpack": "bitpack", "i_fordelta": "fordelta",
    "i_raw": "raw", "ts": "fordelta", "f_shuffle": "fshuffle",
    "f_dict": "fdict", "f_raw": "raw", "b_pack": "boolpack", "b_raw": "raw",
    "s_empty": "raw",
}
EXPECTED_DIGEST = "22d8a8cab088b3245e5b434ab0d4d91db1c5d34089c8be9f9efca723f7b3cb02"


def test_block_format_is_pinned():
    rows = _blocks()
    got = {r["column"]: r["codec"] for r in rows}
    assert got == EXPECTED_CODECS
    wrapped = {r["column"] for r in rows if "z" in json.loads(r["meta"])}
    assert wrapped == {"s_dict_z", "s_rle_z"}
    h = hashlib.sha256()
    for key in sorted(
        (r["column"], r["codec"], r["payload"], r["aux"], r["meta"]) for r in rows
    ):
        for part in key:
            b = part.encode() if isinstance(part, str) else bytes(part)
            h.update(len(b).to_bytes(8, "little"))
            h.update(b)
    assert h.hexdigest() == EXPECTED_DIGEST
