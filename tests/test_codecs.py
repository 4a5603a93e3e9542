"""Unit golden tests: codec round-trip per type (SURVEY.md §5.2-1).

Generalizes the reference's pure-function golden tests
(converter/schema_test.go:10-62) and write->independent-read round trip
(converter/convert_test.go:14-50) to every codec with hand-built edge cases.

Numeric and boolean codecs go through the ``codecs`` registry. String
formats go through the one string path: the codec module's buffer-level
encoder, then ``arrow_ops.decode_string_column``.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from vcf2df_spark import arrow_ops, codecs
from vcf2df_spark.codecs import (
    bitpack, dictionary, fordelta, fsst, raw, rle, strnum, zstdhi,
)


INT_CASES = {
    "empty": np.array([], dtype=np.int64),
    "single": np.array([7], dtype=np.int64),
    "constant": np.full(100, 42, dtype=np.int64),
    "sequence": np.arange(1000, dtype=np.int64),
    "negatives": np.array([-5, -1, 0, 3, -(2**40), 2**40], dtype=np.int64),
    "max_width": np.array([0, 2**62, 17], dtype=np.int64),
    "int32": np.array([0, 1, 2, 2**31 - 1], dtype=np.int32),
    "non_monotone_ts": np.array([100, 50, 200, 200, 1], dtype=np.int64),
}

STR_CASES = {
    "empty": np.array([], dtype=object),
    "single_run": np.array(["a"] * 50, dtype=object),
    "all_distinct": np.array([f"v{i}" for i in range(64)], dtype=object),
    "empty_strings": np.array(["", "x", "", "", "y"], dtype=object),
    "utf8": np.array(["héllo 世界 🙂", "plain", "", "héllo 世界 🙂"], dtype=object),
    "long_text": np.array(
        ["the quick brown fox jumps over the lazy dog " * 20,
         "pack my box with five dozen liquor jugs " * 10,
         ""],
        dtype=object,
    ),
}


def _str_block(codec: str, vals) -> tuple[bytes, bytes, dict]:
    """Force-encode ``vals`` with one string format's own encoder."""
    arr = pa.array(list(vals), type=pa.string())
    if codec in ("dict", "rle"):
        mod = dictionary if codec == "dict" else rle
        return mod.encode_from_codes(
            *dictionary.canonical_codes(pc.dictionary_encode(arr))
        )
    buf, lengths = arrow_ops.string_buf_lengths(arr)
    if codec == "strnum":
        return strnum.encode_from_buf(buf, lengths, strnum.analyze(buf, lengths))
    mod = {"raw": raw, "fsst": fsst, "zstdhi": zstdhi}[codec]
    return mod.encode_from_buf(buf, lengths)


def _str_roundtrip(codec: str, vals) -> list:
    payload, aux, meta = _str_block(codec, vals)
    return arrow_ops.decode_string_column(
        codec, payload, aux, meta, len(vals)
    ).to_pylist()


def _size(block) -> int:
    return len(block[0]) + len(block[1])


@pytest.mark.parametrize("name", list(INT_CASES))
@pytest.mark.parametrize("codec", ["bitpack", "fordelta", "raw"])
def test_int_roundtrip(codec, name):
    vals = INT_CASES[name]
    if codec == "fordelta":
        vals = vals.astype(np.int64)
    payload, aux, meta = codecs.encode(codec, vals)
    out = codecs.decode(codec, payload, aux, meta, len(vals))
    assert np.array_equal(out, vals)
    if codec != "fordelta":
        assert out.dtype == vals.dtype


@pytest.mark.parametrize("name", list(STR_CASES))
@pytest.mark.parametrize("codec", ["dict", "rle", "fsst", "raw"])
def test_str_roundtrip(codec, name):
    vals = STR_CASES[name]
    assert _str_roundtrip(codec, vals) == list(vals)


def test_bitpack_width_zero():
    payload, aux, meta = codecs.encode("bitpack", np.full(10, 5, dtype=np.int64))
    assert meta["width"] == 0 and payload == b""


def test_fordelta_zero_delta():
    vals = np.array([1000, 1000, 1000], dtype=np.int64)
    payload, aux, meta = codecs.encode("fordelta", vals)
    assert meta["width"] == 0
    assert np.array_equal(codecs.decode("fordelta", payload, aux, meta, 3), vals)


def test_dict_compresses_low_cardinality():
    vals = np.array(["user", "assistant", "tool", "user"] * 1000, dtype=object)
    assert _size(_str_block("dict", vals)) < _size(_str_block("raw", vals)) / 4


def test_rle_compresses_runs():
    vals = np.repeat(np.array([f"conv-{i:04d}" for i in range(10)], dtype=object), 500)
    block = _str_block("rle", vals)
    assert block[2]["n_runs"] == 10
    assert _size(block) < _size(_str_block("raw", vals)) / 20


def test_fsst_compresses_repetitive_text():
    vals = np.array(
        ["status: completed successfully with result code %d" % (i % 7)
         for i in range(500)],
        dtype=object,
    )
    assert _size(_str_block("fsst", vals)) < len(_str_block("raw", vals)[0]) / 2


def test_fsst_escape_byte_255_in_data():
    # literal 0xFF bytes in utf-8 multi-byte chars stress the escape path
    vals = np.array(["￿￿", "ÿÿÿ", "a￿b"], dtype=object)
    assert _str_roundtrip("fsst", vals) == list(vals)


def test_fsst_buffer_roundtrip_adversarial():
    data = bytes(range(256)) * 3 + b"\xff" * 10 + b"ab\xffab\xff\xff"
    symbols = fsst.train(data)
    enc = fsst.encode_buffer(data, symbols)
    assert fsst.decode_buffer(enc, symbols) == data


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), max_size=200))
def test_fordelta_property(xs):
    vals = np.array(xs, dtype=np.int64)
    payload, aux, meta = fordelta.encode(vals)
    assert np.array_equal(fordelta.decode(payload, aux, meta, len(vals)), vals)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.text(max_size=40), max_size=100))
def test_fsst_property(xs):
    assert _str_roundtrip("fsst", xs) == xs


@settings(max_examples=50, deadline=None)
@given(st.lists(st.binary(max_size=64), min_size=0, max_size=50))
def test_fsst_raw_bytes_property(chunks):
    data = b"".join(chunks)
    symbols = fsst.train(data)
    assert fsst.decode_buffer(fsst.encode_buffer(data, symbols), symbols) == data


@settings(max_examples=30, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**50), min_size=1, max_size=100),
       st.integers(min_value=0, max_value=63))
def test_pack_unpack_property(xs, extra_width):
    vals = np.array(xs, dtype=np.uint64)
    width = max(int(v).bit_length() for v in xs)
    buf = bitpack.pack_u64(vals, width)
    assert np.array_equal(bitpack.unpack_u64(buf, width, len(vals)), vals)


STRNUM_CASES = {
    "conv_ids": np.array([f"conv-{i:08d}" for i in [5, 3, 3, 9, 100]], dtype=object),
    "single": np.array(["user_0001"], dtype=object),
    "all_digits": np.array(["0042", "9999", "0000"], dtype=object),
    "wide": np.array([f"x{i:018d}" for i in range(20)], dtype=object),
}


@pytest.mark.parametrize("name", list(STRNUM_CASES))
def test_strnum_roundtrip(name):
    vals = STRNUM_CASES[name]
    assert _str_roundtrip("strnum", vals) == list(vals)


@pytest.mark.parametrize(
    "vals",
    [
        ["conv-1", "conv-22"],          # ragged lengths
        ["conv-a001", "conv-b002"],     # differing prefix
        ["hello", "world"],             # no digit suffix
        [],
    ],
)
def test_strnum_rejects_nonconforming(vals):
    buf, lengths = arrow_ops.string_buf_lengths(pa.array(vals, type=pa.string()))
    assert strnum.analyze(buf, lengths) is None


def test_strnum_beats_dict_on_sorted_ids():
    vals = np.repeat(
        np.array([f"conv-{i:08d}" for i in range(500)], dtype=object), 10
    )
    assert _size(_str_block("strnum", vals)) < _size(_str_block("dict", vals)) / 4


@pytest.mark.parametrize("name", list(STR_CASES))
def test_zstdhi_roundtrip(name):
    vals = STR_CASES[name]
    assert _str_roundtrip("zstdhi", vals) == list(vals)


# --- float64 codecs (fshuffle, fdict) -----------------------------------------


def _roundtrip_f64(codec, vals):
    vals = np.asarray(vals, dtype=np.float64)
    payload, aux, meta = codecs.encode(codec, vals)
    out = codecs.decode(codec, payload, aux, meta, len(vals))
    # bit-level comparison: NaN payloads and -0.0 must survive exactly
    assert np.array_equal(vals.view(np.int64), out.view(np.int64)), codec


@pytest.mark.parametrize("codec", ["fshuffle", "fdict", "raw"])
def test_float_codecs_roundtrip(codec):
    rng = np.random.default_rng(7)
    _roundtrip_f64(codec, rng.random(1000) * 1e6)
    _roundtrip_f64(codec, np.zeros(0))
    _roundtrip_f64(codec, [1.5])
    special = np.array(
        [0.0, -0.0, np.inf, -np.inf, np.nan, -np.nan, 1e-308, 1.7976931348623157e308]
    )
    _roundtrip_f64(codec, special)
    # distinct NaN bit patterns survive (fdict works on bit patterns)
    weird_nan = np.frombuffer(np.int64(0x7FF8000000000123).tobytes(), dtype=np.float64)
    _roundtrip_f64(codec, np.concatenate([special, weird_nan]))


def test_fdict_beats_raw_on_low_cardinality():
    vals = np.tile(np.array([1.25, 2.5, 3.75]), 1000)
    payload, aux, _ = codecs.encode("fdict", vals)
    assert len(payload) + len(aux) < vals.nbytes / 4


def test_float_hypothesis():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=50, deadline=None)
    @given(st.lists(st.floats(allow_nan=True, allow_infinity=True, width=64)))
    def check(xs):
        for codec in ("fshuffle", "fdict"):
            _roundtrip_f64(codec, xs)

    check()


# --- boolean codec (boolpack) --------------------------------------------------


@pytest.mark.parametrize("codec", ["boolpack", "raw"])
def test_bool_codec_roundtrip(codec):
    rng = np.random.default_rng(11)
    for vals in (
        rng.random(1000) < 0.3,
        np.zeros(0, dtype=bool),
        np.array([True]),
        np.array([False] * 17),
        np.array([True] * 9),
    ):
        payload, aux, meta = codecs.encode(codec, vals)
        out = codecs.decode(codec, payload, aux, meta, len(vals))
        assert out.dtype == np.bool_
        assert np.array_equal(vals, out)


def test_boolpack_is_one_bit_per_value():
    vals = np.ones(8000, dtype=bool)
    payload, aux, _ = codecs.encode("boolpack", vals)
    assert len(payload) == 1000 and not aux


# --- zstdhi segmented frames: round-trip + random access ------------------------


def test_zstdhi_multiframe_roundtrip_and_range():
    rng = np.random.default_rng(5)
    # > 2 segments of utf8
    vals = np.array(
        ["row-%06d " % i + "x" * int(rng.integers(20, 120)) for i in range(40000)],
        dtype=object,
    )
    payload, aux, meta = _str_block("zstdhi", vals)
    assert len(meta["seg_code_lens"]) >= 3  # actually multi-frame
    out = arrow_ops.decode_string_column("zstdhi", payload, aux, meta, len(vals))
    assert out.to_pylist() == list(vals)

    # random access decodes only covering frames, matches the full decode
    for lo, hi in ((0, 5), (17000, 17040), (39990, 40000), (100, 100)):
        got = arrow_ops.decode_string_rows(
            "zstdhi", payload, aux, meta, len(vals), lo, hi
        ).to_pylist()
        assert got == list(vals[lo:hi]), (lo, hi)


def test_zstdhi_legacy_single_frame_range():
    """Pre-framing blocks (meta without seg_code_lens) must random-access
    correctly past the 1MB boundary: the legacy buffer is based at byte 0,
    not at a frame index (regression: shifted slice returned wrong rows)."""
    vals = np.array(["row-%06d-" % i + "y" * 60 for i in range(30000)],
                    dtype=object)
    buf, lengths = arrow_ops.string_buf_lengths(pa.array(vals, type=pa.string()))
    # legacy layout: one frame over the whole buffer, no seg_code_lens
    payload = bytes(zstdhi._CODEC.compress(buf))
    lmin = int(lengths.min())
    lwidth = bitpack._bit_width(int(lengths.max()) - lmin)
    aux = bitpack.pack_u64((lengths - lmin).astype(np.uint64), lwidth)
    meta = {"lwidth": lwidth, "lmin": lmin, "raw_len": len(buf),
            "level": zstdhi.LEVEL}

    out = arrow_ops.decode_string_column("zstdhi", payload, aux, meta, len(vals))
    assert out.to_pylist() == list(vals)
    for lo, hi in ((0, 3), (20000, 20005), (29995, 30000)):
        got = arrow_ops.decode_string_rows(
            "zstdhi", payload, aux, meta, len(vals), lo, hi
        ).to_pylist()
        assert got == list(vals[lo:hi]), (lo, hi)


# --- dict / rle with the zstd-12 wrap of the code stream ------------------------


def test_z12_wrapped_dict_and_rle_roundtrip():
    """A 50-label Zipf column selects ``dict`` with the zstd-12 wrap
    (meta ``z``); short runs of the same labels select a wrapped ``rle``.
    Both decode through the chunk decoder and through row-range access;
    the numeric registry refuses them with a pointer to the string path."""
    from vcf2df_spark.decode import decode_chunk_arrow
    from vcf2df_spark.encode import encode_chunk_arrow

    n = 65536
    labels = np.array([f"label-{chr(97 + i // 26)}{chr(97 + i % 26)}"
                       for i in range(50)])
    rng = np.random.default_rng(42)
    z = rng.zipf(3.0, size=8 * n)
    runs = np.repeat(rng.zipf(3.0, size=n) % 50, rng.integers(1, 11, n))[:n]
    chunk = pa.table({"zipf": pa.array(labels[z[z <= 50][:n] - 1]),
                      "runs": pa.array(labels[runs])})
    rows = encode_chunk_arrow(chunk, 0, 0)
    by_col = {r["column"]: r for r in rows}
    assert {c: r["codec"] for c, r in by_col.items()} == {"zipf": "dict",
                                                          "runs": "rle"}
    for r in rows:
        assert "z" in json.loads(r["meta"])

    decoded = decode_chunk_arrow(rows)
    for col in by_col:
        assert decoded.column(col).equals(chunk.column(col))
    lo, hi = 30001, 30417
    for col, r in by_col.items():
        got = arrow_ops.decode_string_rows(
            r["codec"], r["payload"], r["aux"], json.loads(r["meta"]), n, lo, hi
        )
        assert got.to_pylist() == chunk.column(col).to_pylist()[lo:hi]
        with pytest.raises(ValueError, match="arrow_ops.decode_string_column"):
            codecs.decode(r["codec"], r["payload"], r["aux"],
                          json.loads(r["meta"]), n)
