"""Property tests for the Arrow-native string path (arrow_ops).

The buffer arithmetic (offsets, slices, non-zero array offsets) is the
riskiest part of the hot path — sliced chunks share parent buffers, so an
off-by-one reads foreign bytes silently.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from vcf2df_spark import arrow_ops


def _roundtrip(arr: pa.Array) -> list:
    codec, payload, aux, meta, raw = arrow_ops.encode_string_column(arr)
    out = arrow_ops.decode_string_column(codec, payload, aux, meta, len(arr))
    return out.to_pylist()


@settings(max_examples=60, deadline=None)
@given(st.lists(st.text(max_size=30), max_size=60),
       st.integers(min_value=0, max_value=10),
       st.integers(min_value=0, max_value=60))
def test_sliced_array_roundtrip(xs, off, ln):
    """Slices with non-zero offsets share the parent's buffers."""
    arr = pa.array(xs, type=pa.string())
    sl = arr.slice(min(off, len(arr)), ln)
    assert _roundtrip(sl) == sl.to_pylist()


@settings(max_examples=40, deadline=None)
@given(st.lists(st.text(alphabet="héllo 世界🙂x ", max_size=50), max_size=80))
def test_multibyte_roundtrip(xs):
    arr = pa.array(xs, type=pa.string())
    assert _roundtrip(arr) == xs


def test_chunked_array_roundtrip():
    ch = pa.chunked_array([
        pa.array(["a", "bb"], type=pa.string()),
        pa.array([], type=pa.string()),
        pa.array(["ccc", "", "d"], type=pa.string()),
    ])
    codec, payload, aux, meta, raw = arrow_ops.encode_string_column(ch)
    out = arrow_ops.decode_string_column(codec, payload, aux, meta, len(ch))
    assert out.to_pylist() == ch.combine_chunks().to_pylist()


def test_buf_lengths_of_taken_array():
    """take() produces arrays with scattered parent references."""
    arr = pa.array([f"v{i}" * (i % 5 + 1) for i in range(100)])
    idx = pa.array(np.arange(99, -1, -2))
    taken = arr.take(idx)
    buf, lengths = arrow_ops.string_buf_lengths(taken)
    rebuilt = arrow_ops.strings_from_buf(buf, lengths)
    assert rebuilt.to_pylist() == taken.to_pylist()


def test_strings_from_buf_empty():
    out = arrow_ops.strings_from_buf(b"", np.zeros(0, dtype=np.int64))
    assert len(out) == 0


def test_session_window_consistency(spark):
    """Spark's built-in session_window agrees with the lag-based
    sessionize operator on session counts (internal consistency)."""
    from pyspark.sql import functions as F

    from vcf2df_spark.operators.relational import q_sessionize

    sf = "/root/testdata/sf0.001"
    ours = q_sessionize(spark, sf)
    n_sessions_ours = ours.count()
    ev = spark.read.parquet(f"{sf}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    builtin = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n"))
    )
    assert builtin.count() == n_sessions_ours


@settings(max_examples=30, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=200), min_size=1, max_size=400),
       st.data())
def test_decode_string_rows_fsst_random_access(xs, data):
    """Row-range decode equals full decode + slice, for fsst and raw."""
    from vcf2df_spark.codecs import fsst as fsst_mod

    arr = pa.array(xs, type=pa.string())
    n = len(xs)
    lo = data.draw(st.integers(min_value=0, max_value=n))
    hi = data.draw(st.integers(min_value=lo, max_value=n))
    # force-encode with fsst regardless of selector choice
    buf, lengths = arrow_ops.string_buf_lengths(arr)
    payload, aux, meta = fsst_mod.encode_from_buf(buf, lengths)
    out = arrow_ops.decode_string_rows("fsst", payload, aux, meta, n, lo, hi)
    assert out.to_pylist() == xs[lo:hi]
