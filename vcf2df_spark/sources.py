"""Transcript source readers: parquet, ORC, JSONL(.gz), CSV/TSV — dynamic schema.

The reference's source is a gzipped VCF text stream whose *output schema is
computed per input file* from header metadata (``converter/convert.go:42``,
``converter/schema.go:17-107``: 16 fixed columns + one typed column per
``##INFO`` declaration). The engine mirrors that for its text sources: the
six core columns are required, and any extra columns the file carries are
discovered (Spark schema inference = the header-read analogue for
schema-less text), typed, and funneled through ``normalize_input`` exactly
like the parquet path — so a jsonl.gz or csv export with extra columns
round-trips them instead of silently dropping them.

Scale note: like gzip VCF, a ``.jsonl.gz`` file is non-splittable — one
task per file. That is acceptable for ingest-once conversion (the
reference's whole job) but the engine immediately repartitions by content
hash, so the non-splittable read never constrains the encode parallelism
beyond the file count. Land many moderate files, not one giant one.
Schema inference costs one extra pass over the text input; pass ``schema``
explicitly to skip it when the layout is known.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .blocks import TRANSCRIPT_COLUMNS
from .encode import normalize_input


def _require_core(df: DataFrame, path: str) -> None:
    """Fail fast (S2 source validation, ``fileTools.go:21-29`` analogue)
    when a source lacks any of the six core transcript columns."""
    missing = [c for c in TRANSCRIPT_COLUMNS if c not in df.columns]
    if missing:
        raise ValueError(
            f"source {path} is missing core transcript columns {missing}; "
            f"found {df.columns}"
        )


def _parse_ts(df: DataFrame) -> DataFrame:
    """Text sources carry ``ts`` as an ISO-8601 string; parse it. A source
    whose inference already yielded a timestamp passes through."""
    if isinstance(df.schema["ts"].dataType, T.StringType):
        df = df.withColumn("ts", F.to_timestamp("ts"))
    return df


# (physical type, logical type) -> the Spark type its parquet converter infers
_PARQUET_TYPES = {
    ("BOOLEAN", "None"): T.BooleanType(), ("FLOAT", "None"): T.FloatType(),
    ("DOUBLE", "None"): T.DoubleType(), ("BYTE_ARRAY", "String"): T.StringType(),
    ("INT32", "None"): T.IntegerType(), ("INT32", "Date"): T.DateType(),
    ("INT32", "Int8"): T.ByteType(), ("INT32", "Int16"): T.ShortType(),
    ("INT32", "Int32"): T.IntegerType(), ("INT64", "None"): T.LongType(),
    ("INT64", "Int64"): T.LongType(),
}


def _leaf_type(col, ntz: bool):
    """The Spark type of one parquet leaf column as Spark's converter
    infers it; None where this mapping is not exact."""
    import json

    logical = json.loads(col.logical_type.to_json())
    kind = logical["Type"]
    if kind == "Decimal":
        return T.DecimalType(logical["precision"], logical["scale"])
    if kind == "Int":
        kind = f"Int{logical['bitWidth']}" if logical["isSigned"] else "UInt"
    if kind == "Timestamp" and logical["timeUnit"] != "nanoseconds":
        utc = logical["isAdjustedToUTC"] or not ntz
        return T.TimestampType() if utc else T.TimestampNTZType()
    return _PARQUET_TYPES.get((col.physical_type, kind))


def footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema ``spark.read.parquet(path)`` infers for a single local
    parquet file, read from its footer on the driver, so the read plans
    without Spark's one-task inference job.

    Spark's converter is followed leaf by leaf: a naive timestamp is
    ``timestamp_ntz`` (``spark.sql.parquet.inferTimestampNTZ.enabled``),
    a UTC-adjusted one ``timestamp``, and every field is nullable. Returns
    None, and the caller infers as before, for a directory or remote
    input, a file Spark wrote (its footer carries Spark's own schema) and
    any type or nesting this mapping does not cover exactly.
    """
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    if "://" in path or not os.path.isfile(path):
        return None
    md = pq.read_metadata(path)
    if b"org.apache.spark.sql.parquet.row.metadata" in (md.metadata or {}):
        return None
    ntz = spark.conf.get(
        "spark.sql.parquet.inferTimestampNTZ.enabled", "true") == "true"
    fields, leaf = [], 0
    for f in md.schema.to_arrow_schema():
        listed = pa.types.is_list(f.type) or pa.types.is_large_list(f.type)
        if (pa.types.is_nested(f.type) and not listed) or (
                listed and pa.types.is_nested(f.type.value_type)):
            return None
        t = _leaf_type(md.schema.column(leaf), ntz)
        leaf += 1
        if t is None:
            return None
        fields.append(T.StructField(
            f.name, T.ArrayType(t, True) if listed else t, True))
    return T.StructType(fields) if leaf == md.num_columns else None


def read_transcripts(
    spark: SparkSession, path: str, fmt: str = "parquet", schema=None
) -> DataFrame:
    """Load a transcript table from ``path`` in the given format.

    ``schema`` (optional, jsonl/csv): explicit input schema; when omitted
    the schema is inferred from the data — the dynamic-schema move the
    reference makes from the VCF header (``schema.go:17-107``). Extra
    columns beyond the core six flow through ``normalize_input`` (typed
    zero-defaults, lexical order, unsupported shapes dropped).
    """
    if fmt == "parquet":
        schema = footer_schema(spark, path)
        reader = spark.read if schema is None else spark.read.schema(schema)
        df = reader.parquet(path)
    elif fmt == "orc":
        # the other schema-carrying columnar landing format Spark ships
        # with; same typed path as parquet (no inference pass needed)
        df = spark.read.orc(path)
    elif fmt in ("json", "jsonl"):
        if schema is not None:
            df = spark.read.schema(schema).json(path)
        else:
            df = spark.read.json(path)
        _require_core(df, path)
        df = _parse_ts(df)
    elif fmt in ("csv", "tsv"):
        # escape='"' = RFC-4180 doubled quotes (pandas/excel exports);
        # Spark's default backslash escape mis-parses them, which silently
        # degrades every later column's inferred type to string
        reader = spark.read.option("header", "true").option("escape", '"')
        if fmt == "tsv":
            reader = reader.option("sep", "\t")
        if schema is not None:
            df = reader.schema(schema).csv(path)
        else:
            df = reader.option("inferSchema", "true").csv(path)
        _require_core(df, path)
        df = _parse_ts(df)
    else:
        raise ValueError(f"unsupported transcript format: {fmt}")
    _require_core(df, path)
    return normalize_input(df)
