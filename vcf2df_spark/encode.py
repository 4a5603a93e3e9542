"""Distributed encode: transcripts DataFrame -> encoded blocks DataFrame.

The Spark re-imagination of the reference's single-threaded convert loop
(``converter/convert.go:67-98``): the per-row parse/format pipeline becomes
a declarative plan — salted repartition (skew defusal), stable in-partition
sort (the determinism contract the reference got from coordinate-sorted
input + lexical schema order, ``converter/schema.go:99-100``), then one
Arrow-native ``applyInArrow`` that pivots each partition's columns through
the stats-driven codec kernels. No per-row Python anywhere; strings never
materialize as Python objects (see arrow_ops.py).

Scale design (100 TB / 1000 executors):
- the only shuffle is the salted repartition by
  ``xxhash64(conv_id, turn_idx // TURNS_PER_SPLIT) % num_partitions``;
  mega-conversations split across partitions at TURNS_PER_SPLIT boundaries,
  so no single task inherits a whole skewed conversation;
- partition count is a parameter: size so each group ~ a few hundred MB;
- chunking inside the UDF (CHUNK_ROWS) bounds peak memory per task
  regardless of group size;
- the in-task sort and dictionary encode are Arrow C++ (cache-friendly),
  codec kernels run on cache-resident segments — per-byte cost stays
  compute-bound, so throughput scales with cores instead of saturating
  memory bandwidth.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import arrow_ops, planner, zonemap
from .blocks import BLOCKS_SCHEMA, TRANSCRIPT_COLUMNS

TURNS_PER_SPLIT = 256  # conversations longer than this are split across partitions
CHUNK_ROWS = 65536

_STRING_COLS = ("conv_id", "role", "text", "tool")

_BLOCKS_ARROW_SCHEMA = pa.schema(
    [
        pa.field("partition_id", pa.int32()),
        pa.field("chunk_idx", pa.int32()),
        pa.field("column", pa.string()),
        pa.field("codec", pa.string()),
        pa.field("n_rows", pa.int64()),
        pa.field("payload", pa.binary()),
        pa.field("aux", pa.binary()),
        pa.field("meta", pa.string()),
        pa.field("raw_bytes", pa.int64()),
        pa.field("enc_bytes", pa.int64()),
        pa.field("stat_min_str", pa.string()),
        pa.field("stat_max_str", pa.string()),
        pa.field("stat_min_num", pa.int64()),
        pa.field("stat_max_num", pa.int64()),
    ]
)


def encode_chunk_arrow(chunk: pa.Table, partition_id: int, chunk_idx: int,
                       fsst_cache: dict | None = None) -> list[dict]:
    """Encode one sorted chunk: one block per column, Arrow/numpy kernels only.

    Dynamic schema (reference M1, ``converter/schema.go:17-107``): every
    column of the chunk is encoded, not just the six core ones — the column
    type is dispatched from the Arrow type and recorded in the block meta
    as ``ctype`` so decode can rebuild the exact input type.

    ``fsst_cache`` carries per-column FSST trial verdicts across the chunks
    of one group (the raw floor in the selector keeps a stale verdict safe).
    """
    rows = []
    n = chunk.num_rows
    cache = fsst_cache if fsst_cache is not None else {}
    for col in chunk.schema.names:
        if col == "_pkey":
            continue
        arr = chunk.column(col)
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        t = arr.type
        smin_str = smax_str = None
        smin_num = smax_num = None
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            ctype = "str"
            codec, payload, aux, meta, raw_bytes = arrow_ops.encode_string_column(
                arr, hints=cache.setdefault(col, {})
            )
            if col == "conv_id" and n:  # chunk is sorted by (conv_id, turn_idx)
                smin_str = arr[0].as_py()
                smax_str = arr[n - 1].as_py()
            elif n:
                # zone maps for the other string columns (role/tool/extras).
                # Guard on average width so the min_max pass never walks a
                # long-text column whose stats could not prune anyway; the
                # 64-char cap keeps block rows small (stats are optional —
                # a null stat just means "no pruning on this chunk").
                data_bytes = arr.nbytes - 4 * n  # offsets are int32
                if data_bytes <= 64 * n:
                    mm = pc.min_max(arr)
                    lo, hi = mm["min"].as_py(), mm["max"].as_py()
                    if lo is not None and len(lo) <= 64 and len(hi) <= 64:
                        smin_str, smax_str = lo, hi
        elif pa.types.is_boolean(t):
            ctype = "bool"
            values = arr.to_numpy(zero_copy_only=False)
            codec, payload, aux, meta, raw_bytes = planner.encode_best_bool(values)
            if n:
                smin_num = int(values.min())
                smax_num = int(values.max())
        elif pa.types.is_floating(t):
            ctype = "f64"
            values = arr.cast(pa.float64()).to_numpy(zero_copy_only=False)
            codec, payload, aux, meta, raw_bytes = planner.encode_best_float(values)
            if n:
                # order-preserving int64 keys (zonemap.py): int64 compare of
                # the stats == double compare of the values
                keys = zonemap.f64_key_array(values)
                smin_num = int(keys.min())
                smax_num = int(keys.max())
        else:
            if pa.types.is_timestamp(t):
                ctype = "ts"
                values = arr.cast(pa.int64()).to_numpy(zero_copy_only=False)
            else:
                ctype = "i32" if t.bit_width <= 32 else "i64"
                values = arr.to_numpy(zero_copy_only=False)
            codec, payload, aux, meta, raw_bytes = planner.encode_best(values)
            if n:
                smin_num = int(values.min())
                smax_num = int(values.max())
        meta = {**meta, "ctype": ctype}
        rows.append(
            {
                "partition_id": partition_id,
                "chunk_idx": chunk_idx,
                "column": col,
                "codec": codec,
                "n_rows": n,
                "payload": payload,
                "aux": aux,
                "meta": json.dumps(meta, separators=(",", ":")),
                "raw_bytes": int(raw_bytes),
                "enc_bytes": len(payload) + len(aux),
                "stat_min_str": smin_str,
                "stat_max_str": smax_str,
                "stat_min_num": smin_num,
                "stat_max_num": smax_num,
            }
        )
    return rows


# tag of the error a group raises on duplicate (conv_id, turn_idx) keys;
# the encode job matches it in the failed write's message
DUPLICATE_KEYS = "VCF2DF_DUPLICATE_KEYS"


def _count_adjacent_dups(table: pa.Table) -> int:
    """Duplicate (conv_id, turn_idx) count on a sorted group — vectorized
    adjacent equality, no extra shuffle or pass over the input. The salted
    partition key is a function of (conv_id, turn_idx // TURNS_PER_SPLIT),
    so all copies of one key land in the same group; sorted order makes
    them adjacent."""
    if table.num_rows < 2:
        return 0
    conv = table.column("conv_id")
    if isinstance(conv, pa.ChunkedArray):
        conv = conv.combine_chunks()
    codes = pc.dictionary_encode(conv).indices.to_numpy(zero_copy_only=False)
    turn = table.column("turn_idx").to_numpy(zero_copy_only=False)
    return int(((codes[1:] == codes[:-1]) & (turn[1:] == turn[:-1])).sum())


def _make_encode_group(chunk_rows: int = CHUNK_ROWS, detect_dups: bool = False):
    def _encode_group(table: pa.Table) -> pa.Table:
        partition_id = int(table.column("_pkey")[0].as_py())
        idx = pc.sort_indices(
            table, sort_keys=[("conv_id", "ascending"), ("turn_idx", "ascending")]
        )
        table = table.take(idx)
        if detect_dups:
            n_dups = _count_adjacent_dups(table)
            if n_dups:
                raise ValueError(
                    f"{DUPLICATE_KEYS}: {n_dups} duplicate (conv_id, turn_idx) "
                    f"rows in partition {partition_id}"
                )
        out: list[dict] = []
        fsst_cache: dict = {}
        for chunk_idx, lo in enumerate(range(0, table.num_rows, chunk_rows)):
            chunk = table.slice(lo, chunk_rows)
            out.extend(encode_chunk_arrow(chunk, partition_id, chunk_idx, fsst_cache))
        return pa.Table.from_pylist(out, schema=_BLOCKS_ARROW_SCHEMA)

    return _encode_group


_encode_group = _make_encode_group()


def with_partition_key(df: DataFrame, num_partitions: int) -> DataFrame:
    """Salted deterministic partition key; splits skewed conversations."""
    return df.withColumn(
        "_pkey",
        F.pmod(
            F.xxhash64("conv_id", (F.col("turn_idx") / F.lit(TURNS_PER_SPLIT)).cast("int")),
            F.lit(num_partitions),
        ).cast("int"),
    )


def normalize_input(df: DataFrame) -> DataFrame:
    """Project the 6 core columns + any extra columns; typed normalization.

    Dynamic schema, the reference's load-bearing M1 move
    (``converter/schema.go:17-107``): beyond the six core columns the input
    may carry arbitrary extra columns. Each is normalized by type exactly
    like the reference's INFO-header type switch (schema.go:51-88):
    string/int/double/bool/timestamp pass through with typed zero-defaults
    for nulls (``converter/formatOutput.go:89-116`` — never null);
    array<int> and array<float> are serialized to comma-joined strings
    (formatOutput.go:60-80, floats at %.2f); unsupported types are dropped
    (schema.go:86-87 ``default: continue``). Extras are appended in lexical
    order — the reference's determinism contract (schema.go:99-100).

    ts unifies to TIMESTAMP (LTZ): parquet written without tz info reads
    back as TIMESTAMP_NTZ; with the session timezone pinned to UTC
    (session.py) the cast is value-identical, so bit-identity on
    unix_micros is preserved in both directions. Null keys
    (conv_id/turn_idx/ts) are invalid input and fail loudly at encode
    (non-nullable output schema).
    """
    from pyspark.sql import types as T

    empty = F.lit("")
    cols = [
        F.coalesce("conv_id", empty).alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.coalesce("role", empty).alias("role"),
        F.coalesce("text", empty).alias("text"),
        F.coalesce("tool", empty).alias("tool"),
        F.col("ts").cast("timestamp").alias("ts"),
    ]
    core = set(TRANSCRIPT_COLUMNS)
    extras = {f.name: f.dataType for f in df.schema.fields if f.name not in core}
    # reserved-name collisions fail HERE, not silently later: "_pkey" would
    # be overwritten by with_partition_key, and "__"-prefixed columns would
    # encode but then be dropped by decode's marker filter (data loss)
    reserved = [n for n in extras if n == "_pkey" or n.startswith("__")]
    if reserved:
        raise ValueError(
            f"input columns {reserved} collide with engine-reserved names "
            "('_pkey', '__*'); rename them before encoding"
        )
    int_types = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    float_types = (T.FloatType, T.DoubleType)
    for name in sorted(extras):
        t = extras[name]
        c = F.col(name)
        if isinstance(t, T.StringType):
            cols.append(F.coalesce(c, empty).alias(name))
        elif isinstance(t, int_types):
            cols.append(F.coalesce(c.cast("long"), F.lit(0)).alias(name))
        elif isinstance(t, (*float_types, T.DecimalType)):
            cols.append(F.coalesce(c.cast("double"), F.lit(0.0)).alias(name))
        elif isinstance(t, T.BooleanType):
            cols.append(F.coalesce(c, F.lit(False)).alias(name))
        elif isinstance(t, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            cols.append(
                F.coalesce(c.cast("timestamp"),
                           F.timestamp_micros(F.lit(0))).alias(name)
            )
        elif isinstance(t, T.ArrayType) and isinstance(t.elementType, int_types):
            cols.append(F.coalesce(F.array_join(c, ","), empty).alias(name))
        elif isinstance(t, T.ArrayType) and isinstance(t.elementType, float_types):
            cols.append(
                F.coalesce(
                    F.array_join(
                        F.transform(
                            c, lambda x: F.format_string("%.2f", x.cast("double"))
                        ),
                        ",",
                    ),
                    empty,
                ).alias(name)
            )
        # anything else: dropped, like the reference's unsupported INFO shapes
    return df.select(*cols)


def encode_keyed(keyed: DataFrame, chunk_rows: int = CHUNK_ROWS,
                 detect_dups: bool = False) -> DataFrame:
    """Pre-keyed transcripts (has _pkey) -> blocks; Arrow-native UDF.

    ``chunk_rows`` trades compression ratio against zone-map pruning
    granularity: chunks are contiguous (conv_id, turn_idx)-sorted slices of
    a partition, so smaller chunks give the pruned read
    (datasource.scan_warehouse) finer min/max pruning within each hash
    partition.

    ``detect_dups`` fuses the (conv_id, turn_idx)-uniqueness validation
    into the encode pass itself: a group holding duplicate keys raises an
    error tagged ``DUPLICATE_KEYS``, which fails the action that consumes
    the blocks, instead of costing a separate windowed pass + action over
    the full input (the validate-then-encode default used to read the
    100-TB input twice).
    """
    return keyed.groupBy("_pkey").applyInArrow(
        _make_encode_group(chunk_rows, detect_dups), BLOCKS_SCHEMA
    )


def encode_transcripts(df: DataFrame, num_partitions: int = 32,
                       chunk_rows: int = CHUNK_ROWS) -> DataFrame:
    """transcripts -> blocks. One shuffle (groupBy _pkey); Arrow-native."""
    return encode_keyed(
        with_partition_key(normalize_input(df), num_partitions), chunk_rows
    )
