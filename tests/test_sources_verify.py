"""Source readers (parquet / jsonl.gz / csv) + fast multiset verifier."""

from __future__ import annotations

import gzip
import json

import pandas as pd

from vcf2df_spark import fixtures, sources, verify
from vcf2df_spark.encode import encode_transcripts
from vcf2df_spark.decode import decode_blocks


def _write_jsonl_gz(pdf: pd.DataFrame, path: str, extras: list[str] = ()):
    with gzip.open(path, "wt", encoding="utf-8") as f:
        for r in pdf.itertuples(index=False):
            row = {
                "conv_id": r.conv_id,
                "turn_idx": int(r.turn_idx),
                "role": r.role,
                "text": r.text,
                "tool": r.tool,
                "ts": pd.Timestamp(r.ts).isoformat(),
            }
            for e in extras:
                row[e] = getattr(r, e)
            f.write(json.dumps(row, ensure_ascii=False) + "\n")


def test_jsonl_gz_source_roundtrip(spark, tmp_path):
    """gzip JSONL in (the reference's gzip-text analogue) -> encode ->
    decode -> bit-identical vs the parquet load of the same rows."""
    src = fixtures.transcripts_small(n_convs=100)
    jpath = str(tmp_path / "t.jsonl.gz")
    ppath = str(tmp_path / "t.parquet")
    _write_jsonl_gz(src, jpath)
    fixtures.write_parquet(src, ppath)

    from_json = sources.read_transcripts(spark, jpath, "jsonl")
    from_parq = sources.read_transcripts(spark, ppath, "parquet")
    res = verify.multiset_equal(from_json, from_parq)
    assert res["equal"], res

    blocks = encode_transcripts(from_json, num_partitions=4)
    decoded = decode_blocks(blocks)
    res = verify.multiset_equal(decoded, from_parq)
    assert res["equal"], res


def test_jsonl_gz_dynamic_extras_roundtrip(spark, tmp_path):
    """Reference M1 through the TEXT source (schema.go:17-107 derives the
    schema from the text header): a jsonl.gz with extra typed columns must
    carry them into the engine and round-trip bit-identically — round-2's
    pinned six-column _JSON_SCHEMA silently dropped them."""
    src = fixtures.transcripts_extended(n_convs=60)
    src = src.drop(columns=["tags"])  # JSON int arrays tested separately
    jpath = str(tmp_path / "ext.jsonl.gz")
    ppath = str(tmp_path / "ext.parquet")
    _write_jsonl_gz(src, jpath, extras=["score", "flagged", "model", "tokens_out"])
    fixtures.write_parquet(src, ppath)

    from_json = sources.read_transcripts(spark, jpath, "jsonl")
    from_parq = sources.read_transcripts(spark, ppath, "parquet")
    assert set(from_json.columns) == set(from_parq.columns)  # extras kept
    res = verify.multiset_equal(from_json, from_parq)
    assert res["equal"], res

    blocks = encode_transcripts(from_json, num_partitions=4)
    decoded = decode_blocks(blocks)
    res = verify.multiset_equal(decoded, from_parq)
    assert res["equal"], res


def test_jsonl_int_array_extra_serializes(spark, tmp_path):
    # array<long> extra -> comma-joined string (P6, formatOutput.go:60-69)
    rows = [
        {"conv_id": "c1", "turn_idx": 0, "role": "user", "text": "hi",
         "tool": "", "ts": "2025-01-01T00:00:00", "tags": [3, 1, 4]},
        {"conv_id": "c1", "turn_idx": 1, "role": "assistant", "text": "yo",
         "tool": "", "ts": "2025-01-01T00:00:05", "tags": []},
    ]
    jpath = str(tmp_path / "arr.jsonl.gz")
    with gzip.open(jpath, "wt", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    df = sources.read_transcripts(spark, jpath, "jsonl")
    got = {r["turn_idx"]: r["tags"] for r in df.select("turn_idx", "tags").collect()}
    assert got == {0: "3,1,4", 1: ""}


def test_source_missing_core_column_fails_loudly(spark, tmp_path):
    jpath = str(tmp_path / "bad.jsonl.gz")
    with gzip.open(jpath, "wt", encoding="utf-8") as f:
        f.write(json.dumps({"conv_id": "c1", "text": "hi"}) + "\n")
    import pytest

    with pytest.raises(ValueError, match="missing core transcript columns"):
        sources.read_transcripts(spark, jpath, "jsonl")


def test_csv_dynamic_extras(spark, tmp_path):
    src = fixtures.transcripts_extended(n_convs=20).drop(columns=["tags"])
    cpath = str(tmp_path / "ext.csv")
    out = src.copy()
    out["ts"] = out["ts"].dt.strftime("%Y-%m-%dT%H:%M:%S.%f")
    out.to_csv(cpath, index=False)
    df = sources.read_transcripts(spark, cpath, "csv")
    assert {"score", "flagged", "model", "tokens_out"} <= set(df.columns)
    kinds = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert kinds["score"] == "double" and kinds["flagged"] == "boolean"
    assert kinds["tokens_out"] == "bigint" and kinds["ts"] == "timestamp"
    assert df.count() == len(src)


def test_csv_source(spark, tmp_path):
    src = fixtures.transcripts_tiny()
    cpath = str(tmp_path / "t.csv")
    out = src.copy()
    out["ts"] = out["ts"].dt.strftime("%Y-%m-%dT%H:%M:%S.%f")
    out.to_csv(cpath, index=False)
    df = sources.read_transcripts(spark, cpath, "csv")
    assert df.count() == 4
    assert [f.name for f in df.schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    ]


def test_multiset_detects_single_bit_difference(spark):
    src = fixtures.transcripts_tiny()
    a = spark.createDataFrame(src)
    mod = src.copy()
    mod.loc[0, "text"] = mod.loc[0, "text"] + "!"
    b = spark.createDataFrame(mod)
    assert not verify.multiset_equal(a, b)["equal"]
    assert verify.multiset_equal(a, spark.createDataFrame(src.sample(frac=1.0, random_state=3)))["equal"]


def test_multiset_is_bit_exact_for_doubles(spark):
    # ADVICE r2: xxhash64 canonicalizes -0.0 and NaN payloads; the verifier
    # must hash raw float bits so codec-level bit corruption is visible
    import struct

    rows_a = [("c", 0, 0.0), ("c", 1, float("nan"))]
    nan_payload = struct.unpack("<d", struct.pack("<q", 0x7FF8000000000001))[0]
    rows_b = [("c", 0, -0.0), ("c", 1, float("nan"))]
    rows_c = [("c", 0, 0.0), ("c", 1, nan_payload)]
    schema = "conv_id string, turn_idx int, score double"
    a = spark.createDataFrame(rows_a, schema)
    assert not verify.multiset_equal(a, spark.createDataFrame(rows_b, schema))["equal"]
    assert not verify.multiset_equal(a, spark.createDataFrame(rows_c, schema))["equal"]
    assert verify.multiset_equal(a, spark.createDataFrame(rows_a, schema))["equal"]


def test_orc_source_roundtrip(spark, tmp_path):
    """ORC in (the other schema-carrying columnar landing format) ->
    bit-identical vs the parquet load of the same rows, extras included."""
    src = fixtures.transcripts_extended(n_convs=60).drop(columns=["tags"])
    ppath = str(tmp_path / "o.parquet")
    opath = str(tmp_path / "o.orc")
    fixtures.write_parquet(src, ppath)
    from_parq = sources.read_transcripts(spark, ppath, "parquet")
    from_parq.write.orc(opath)  # typed columns carried natively

    from_orc = sources.read_transcripts(spark, opath, "orc")
    assert set(from_orc.columns) == set(from_parq.columns)
    res = verify.multiset_equal(from_orc, from_parq)
    assert res["equal"], res

    blocks = encode_transcripts(from_orc, num_partitions=4)
    decoded = decode_blocks(blocks)
    res = verify.multiset_equal(decoded, from_parq)
    assert res["equal"], res


def test_tsv_source_roundtrip(spark, tmp_path):
    """Tab-separated export with RFC-4180 quoting -> same rows as the
    parquet load (text columns in the fixture contain no tabs/newlines,
    quoting covers commas and quotes)."""
    import csv as _csv

    src = fixtures.transcripts_small(n_convs=60)
    ppath = str(tmp_path / "t2.parquet")
    tpath = str(tmp_path / "t2.tsv")
    fixtures.write_parquet(src, ppath)
    out = src.copy()
    out["ts"] = out["ts"].map(lambda v: pd.Timestamp(v).isoformat())
    out.to_csv(tpath, sep="\t", index=False,
               quoting=_csv.QUOTE_MINIMAL, quotechar='"')

    from_tsv = sources.read_transcripts(spark, tpath, "tsv")
    from_parq = sources.read_transcripts(spark, ppath, "parquet")
    res = verify.multiset_equal(from_tsv, from_parq)
    assert res["equal"], res


def _parquet_jobs(spark, fn, group):
    """Spark jobs ``fn`` runs under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_footer_schema_equals_spark_inference(spark, tmp_path):
    """The footer schema of a single pyarrow-written file is exactly the
    schema Spark infers, for a naive and a tz-aware ts (ms and us) and
    every extra type normalize_input accepts, and read_transcripts plans
    it without a Spark job."""
    import datetime as dt
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    n, day = 3, dt.datetime(2024, 5, 1, 12, 30)
    table = pa.table({
        "conv_id": pa.array(["c"] * n), "turn_idx": pa.array([0, 1, 2], pa.int32()),
        "role": pa.array(["user"] * n), "text": pa.array(["t"] * n),
        "tool": pa.array([""] * n),
        "ts": pa.array([day] * n, pa.timestamp("us")),
        "ts_tz": pa.array([day] * n, pa.timestamp("us", tz="UTC")),
        "ts_ms": pa.array([day] * n, pa.timestamp("ms")),
        "ts_ms_tz": pa.array([day] * n, pa.timestamp("ms", tz="Asia/Tokyo")),
        "s": pa.array(["x", None, "z"]), "ls": pa.array(["x"] * n, pa.large_string()),
        "i8": pa.array([1] * n, pa.int8()), "i16": pa.array([1] * n, pa.int16()),
        "i32": pa.array([1] * n, pa.int32()), "i64": pa.array([1] * n, pa.int64()),
        "f32": pa.array([0.5] * n, pa.float32()), "f64": pa.array([0.5] * n),
        "dec": pa.array([decimal.Decimal("1.25")] * n, pa.decimal128(9, 2)),
        "dec_wide": pa.array([decimal.Decimal("1.25")] * n, pa.decimal128(30, 4)),
        "flag": pa.array([True, False, None]),
        "day": pa.array([day.date()] * n, pa.date32()),
        "li": pa.array([[1, 2]] * n, pa.list_(pa.int64())),
        "li32": pa.array([[1]] * n, pa.list_(pa.int32())),
        "lf": pa.array([[0.5]] * n, pa.list_(pa.float64())),
        "lf32": pa.array([[0.5]] * n, pa.list_(pa.float32())),
    }).replace_schema_metadata(None)
    table = table.cast(pa.schema(  # non-nullable fields read as nullable
        [pa.field("conv_id", pa.string(), nullable=False)] + list(table.schema)[1:]))
    path = str(tmp_path / "typed.parquet")
    pq.write_table(table, path)

    want = spark.read.parquet(path).schema
    assert sources.footer_schema(spark, path) == want
    assert spark.read.schema(want).parquet(path).schema == want
    ours = sources.read_transcripts(spark, path)
    assert ours.schema == sources.normalize_input(spark.read.parquet(path)).schema
    assert _parquet_jobs(
        spark, lambda: sources.read_transcripts(spark, path), "footer") == 0
    assert verify.multiset_equal(
        ours, sources.normalize_input(spark.read.parquet(path)))["equal"]


def test_footer_schema_falls_back_to_inference(spark, tmp_path):
    """A directory input, a file Spark wrote and a type the footer mapping
    does not cover exactly all go through Spark's inference: one
    inference job for the directory, and the same frame as before."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = fixtures.transcripts_small(n_convs=20)
    d = tmp_path / "dir"
    d.mkdir()
    fixtures.write_parquet(src, str(d / "a.parquet"))
    assert sources.footer_schema(spark, str(d)) is None
    assert _parquet_jobs(
        spark, lambda: sources.read_transcripts(spark, str(d)), "dir-infer") >= 1
    got = sources.read_transcripts(spark, str(d))
    assert got.schema == sources.normalize_input(spark.read.parquet(str(d))).schema

    spark.read.parquet(str(d)).coalesce(1).write.parquet(str(tmp_path / "sw"))
    [spark_file] = (tmp_path / "sw").glob("*.parquet")
    assert sources.footer_schema(spark, str(spark_file)) is None

    odd = str(tmp_path / "odd.parquet")
    for col in (pa.array([1], pa.uint8()), pa.array([b"x"]),
                pa.array([1], pa.timestamp("ns")),
                pa.array([{"a": 1}])):
        pq.write_table(pa.table({"c": col}), odd)
        assert sources.footer_schema(spark, odd) is None
