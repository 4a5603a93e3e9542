"""Dynamic extra-column support (reference M1, converter/schema.go:17-107):
input tables carry arbitrary typed columns beyond the six core ones; the
engine derives per-column type + codec and round-trips them bit-identically.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vcf2df_spark import fixtures
from vcf2df_spark.decode import decode_blocks
from vcf2df_spark.encode import encode_transcripts, normalize_input


@pytest.fixture(scope="module")
def extended_roundtrip(spark):
    pdf = fixtures.transcripts_extended(n_convs=300)
    src = spark.createDataFrame(pdf)
    blocks = encode_transcripts(src, num_partitions=8).cache()
    decoded = decode_blocks(blocks).toPandas()
    normalized = normalize_input(src).toPandas()
    blocks_pdf = blocks.select("column", "codec", "n_rows").toPandas()
    blocks.unpersist()
    return normalized, decoded, blocks_pdf


def test_extra_columns_survive_roundtrip(extended_roundtrip):
    normalized, decoded, _ = extended_roundtrip
    assert set(decoded.columns) == set(normalized.columns)
    # core order first, extras lexical (reference M2, schema.go:99-100)
    assert list(decoded.columns) == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        "flagged", "model", "score", "tags", "tokens_out",
    ]
    l = normalized.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    r = decoded.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(l) == len(r)
    for col in ("conv_id", "role", "text", "tool", "model", "tags"):
        assert (l[col].to_numpy() == r[col].to_numpy()).all(), col
    for col in ("turn_idx", "tokens_out", "flagged"):
        assert np.array_equal(l[col].to_numpy(), r[col].to_numpy()), col
    # doubles bit-identical, not approximately equal
    assert np.array_equal(
        l["score"].to_numpy().view(np.int64),
        r["score"].to_numpy().view(np.int64),
    )
    lts = l["ts"].astype("datetime64[us]").astype("int64").to_numpy()
    rts = r["ts"].astype("datetime64[us]").astype("int64").to_numpy()
    assert np.array_equal(lts, rts)


def test_extra_columns_get_typed_codecs(extended_roundtrip):
    _, _, blocks_pdf = extended_roundtrip
    by_col = blocks_pdf.groupby("column")["codec"].agg(set)
    # every extra column actually encoded, with a codec from its type family
    assert by_col["score"] <= {"fshuffle", "fdict", "raw"}
    assert by_col["flagged"] <= {"boolpack", "raw"}
    assert by_col["model"] <= {"dict", "rle", "fsst", "strnum", "zstdhi", "raw"}
    assert by_col["tokens_out"] <= {"bitpack", "fordelta", "raw"}
    assert by_col["tags"] <= {"dict", "rle", "fsst", "strnum", "zstdhi", "raw"}


def test_normalize_types_and_defaults(spark):
    """Typed zero-defaults for nulls (formatOutput.go:89-116), array
    serialization (P6, formatOutput.go:60-80), unsupported types dropped
    (schema.go:86-87)."""
    base = pd.Timestamp("2026-03-01").value // 1000
    df = spark.createDataFrame(
        [
            ("c", 0, "user", "hi", "", base, None, None, None,
             [1, 2, 3], [1.5, 2.0], {"k": "v"}),
            ("c", 1, "user", "yo", "", base + 1, 2.5, True, 7,
             None, None, None),
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts_us long, score double, flag boolean, cnt int, "
        "iarr array<int>, farr array<double>, m map<string,string>",
    ).select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.timestamp_micros("ts_us").alias("ts"),
        "score", "flag", "cnt", "iarr", "farr", "m",
    )
    out = normalize_input(df).toPandas()
    # map column dropped; extras lexical after core
    assert list(out.columns) == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        "cnt", "farr", "flag", "iarr", "score",
    ]
    assert out["score"].tolist() == [0.0, 2.5]
    assert out["flag"].tolist() == [False, True]
    assert out["cnt"].tolist() == [0, 7]
    assert out["cnt"].dtype.kind == "i"
    assert out["iarr"].tolist() == ["1,2,3", ""]
    assert out["farr"].tolist() == ["1.50,2.00", ""]


def test_schema_from_blocks_matches_decode(spark, extended_roundtrip):
    pdf = fixtures.transcripts_extended(n_convs=50)
    blocks = encode_transcripts(spark.createDataFrame(pdf), num_partitions=4)
    schema = decode_blocks(blocks).schema
    names = [f.name for f in schema.fields]
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert names == ["conv_id", "turn_idx", "role", "text", "tool", "ts",
                     "flagged", "model", "score", "tags", "tokens_out"]
    assert types["score"] == "double"
    assert types["flagged"] == "boolean"
    assert types["tokens_out"] == "bigint"
    assert types["turn_idx"] == "int"
    assert types["ts"] == "timestamp"


def test_column_pruned_decode_includes_extras(spark):
    pdf = fixtures.transcripts_extended(n_convs=40)
    blocks = encode_transcripts(spark.createDataFrame(pdf), num_partitions=4)
    out = decode_blocks(blocks, columns=["conv_id", "score"]).toPandas()
    assert list(out.columns) == ["conv_id", "score"]
    assert len(out) == len(pdf)


def test_manifest_describes_extra_columns(spark):
    from vcf2df_spark import manifest

    pdf = fixtures.transcripts_extended(n_convs=30)
    blocks = encode_transcripts(spark.createDataFrame(pdf), num_partitions=2)
    m = manifest.build_manifests(blocks, "t", "src").toPandas()
    import json as _json

    desc = _json.loads(m.iloc[0]["column_desc"])
    assert desc["conv_id"] == manifest.CORE_DESCRIPTIONS["conv_id"]
    assert desc["score"] == "extra input column (f64)"
    assert desc["flagged"] == "extra input column (bool)"
    assert desc["tokens_out"] == "extra input column (i64)"
    assert desc["model"] == "extra input column (str)"


def test_fetch_conversation_with_extras(spark, tmp_path):
    from vcf2df_spark import scan

    pdf = fixtures.transcripts_extended(n_convs=60)
    blocks = encode_transcripts(spark.createDataFrame(pdf), num_partitions=4,
                                chunk_rows=256)
    wh = str(tmp_path / "wh")
    blocks.write.parquet(f"{wh}/blocks")
    target = "conv-00000011"
    got = scan.fetch_conversation(spark, wh, target)
    want = (pdf[pdf.conv_id == target].sort_values("turn_idx")
            .reset_index(drop=True))
    assert len(got) == len(want) > 0
    assert list(got.columns) == ["conv_id", "turn_idx", "role", "text",
                                 "tool", "ts", "flagged", "model", "score",
                                 "tags", "tokens_out"]
    assert np.array_equal(
        got["score"].to_numpy().view(np.int64),
        want["score"].to_numpy().view(np.int64),
    )
    assert (got["flagged"].to_numpy() == want["flagged"].to_numpy()).all()
    assert (got["model"].to_numpy() == want["model"].to_numpy()).all()
    assert {c: str(t) for c, t in got.dtypes.items()} == {
        "conv_id": "object", "turn_idx": "int32", "role": "object",
        "text": "object", "tool": "object", "ts": "datetime64[ns]",
        "flagged": "bool", "model": "object", "score": "float64",
        "tags": "object", "tokens_out": "int64",
    }
    assert (got["ts"].to_numpy() == want["ts"].to_numpy()).all()


def test_decode_rejects_heterogeneous_warehouse(spark, tmp_path):
    # ADVICE r2: decode must fail loudly instead of decoding every chunk
    # against one sampled chunk's schema. Two failure shapes:
    # (a) two encodes appended into one dir with overlapping chunk keys
    # (b) disjoint chunk keys but different column sets
    import pytest
    from pyspark.sql import functions as F

    from vcf2df_spark import fixtures
    from vcf2df_spark.decode import decode_blocks
    from vcf2df_spark.encode import encode_transcripts

    base = fixtures.transcripts_tiny()
    ext = base.copy()
    ext["score"] = 1.5

    path_a = str(tmp_path / "blocks_a")
    encode_transcripts(spark.createDataFrame(base), 2).write.mode(
        "append").parquet(path_a)
    encode_transcripts(spark.createDataFrame(ext), 2).write.mode(
        "append").parquet(path_a)
    with pytest.raises(Exception, match="colliding chunk keys"):
        decode_blocks(spark.read.parquet(path_a)).collect()

    path_b = str(tmp_path / "blocks_b")
    b_base = encode_transcripts(spark.createDataFrame(base), 2)
    b_ext = encode_transcripts(spark.createDataFrame(ext), 4).filter(
        F.col("partition_id") >= 2
    )
    b_base.unionByName(b_ext).write.parquet(path_b)
    with pytest.raises(Exception, match="heterogeneous chunk schemas"):
        decode_blocks(spark.read.parquet(path_b)).collect()
