"""Distributed decode: encoded blocks DataFrame -> transcripts DataFrame.

The independent-reader half of the round-trip contract (reference analogue:
``readParquet`` re-opening the output with a second reader,
``converter/convert_test.go:63-97``). Groups the column blocks of each
(partition, chunk) and reverses the codec kernels; bit-identical by the
codec contract, verified in tests by per-turn ``text`` equality and full
column comparison under stable (conv_id, turn_idx) ordering. The chunk
kernel (``decode_chunk_arrow``) is shared with the datasource, the one
decoder of blocks on disk; the grouped ``decode_blocks`` serves blocks
that exist only in memory.

Dynamic schema: each block's meta carries ``ctype`` (str/i32/i64/ts/f64/
bool), so decode rebuilds exactly the columns the table was encoded with —
core six plus any extras — without a hardcoded column list. The output
schema is derived from the blocks' own metadata (the Spark analogue of
reading a Parquet footer): thin readers turn blocks or manifests into
per-chunk (column, ctype) signatures and ``ctypes_from_signatures`` makes
the one schema decision over them.

Arrow-native like the encode path: string columns are rebuilt directly
from (utf8 buffer, offsets) with no per-row Python.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from . import arrow_ops, codecs
from .blocks import TRANSCRIPT_COLUMNS

# legacy blocks (written before ctype landed) carry only the core columns
_CORE_CTYPES = {
    "conv_id": "str", "role": "str", "text": "str", "tool": "str",
    "turn_idx": "i32", "ts": "ts",
}

_CTYPE_TO_ARROW = {
    "str": pa.string(),
    "i32": pa.int32(),
    "i64": pa.int64(),
    "ts": pa.timestamp("us", tz="UTC"),
    "f64": pa.float64(),
    "bool": pa.bool_(),
}


def _column_order(cols) -> list[str]:
    """Core columns in canonical order, then extras lexically (M2)."""
    core = [c for c in TRANSCRIPT_COLUMNS if c in cols]
    return core + sorted(c for c in cols if c not in set(TRANSCRIPT_COLUMNS))


def group_keys(blocks: DataFrame) -> list[str]:
    """Decode group identity. A streaming warehouse's blocks live under
    ``epoch=N`` partition dirs, so reading the whole warehouse surfaces an
    ``epoch`` column — it MUST be part of the group key or two epochs that
    reuse (partition_id, chunk_idx) would be fused into one corrupt chunk
    (ADVICE r2: the pid-remap alone breaks on restart with a different
    num_partitions)."""
    return ["partition_id", "chunk_idx"] + (
        ["epoch"] if "epoch" in blocks.columns else []
    )


def _decode_one(r: dict, n: int) -> pa.Array:
    payload = bytes(r["payload"] or b"")
    aux = bytes(r["aux"] or b"")
    meta = json.loads(r["meta"])
    ctype = resolve_ctype(r["column"], meta.get("ctype"))
    if ctype == "str":
        arr = arrow_ops.decode_string_column(r["codec"], payload, aux, meta, n)
        if pa.types.is_large_string(arr.type):
            arr = arr.cast(pa.string())
        return arr
    values = codecs.decode(r["codec"], payload, aux, meta, n)
    if ctype == "ts":
        return pa.array(np.asarray(values, dtype=np.int64)).cast(
            pa.timestamp("us", tz="UTC")
        )
    if ctype == "i32":
        return pa.array(np.asarray(values, dtype=np.int32), type=pa.int32())
    if ctype == "i64":
        return pa.array(np.asarray(values, dtype=np.int64), type=pa.int64())
    if ctype == "f64":
        return pa.array(np.asarray(values, dtype=np.float64), type=pa.float64())
    if ctype == "bool":
        return pa.array(np.asarray(values, dtype=np.bool_), type=pa.bool_())
    raise ValueError(f"unknown ctype {ctype}")


def decode_chunk_arrow(block_rows: list[dict]) -> pa.Table:
    """Block dicts (one per column present) -> reconstructed Arrow chunk.

    Columns absent from ``block_rows`` are skipped — the column-pruned
    decode path ships only the requested columns' blocks to this UDF.
    """
    by_col = {r["column"]: r for r in block_rows}
    n = int(block_rows[0]["n_rows"])
    order = _column_order(by_col)
    arrays = [_decode_one(by_col[c], n) for c in order]
    schema = pa.schema([pa.field(c, a.type) for c, a in zip(order, arrays)])
    return pa.Table.from_arrays(arrays, schema=schema)


def _decode_group(table: pa.Table) -> pa.Table:
    return decode_chunk_arrow(table.to_pylist())


def _default_array(ctype: str, n: int) -> pa.Array:
    """Typed zero-default column for a merged-schema read — the SAME
    defaults ``normalize_input`` imputes on encode (str "", int 0,
    f64 0.0, bool false, ts epoch-0), so an evolved column reads back
    exactly as if the old rows had been encoded after the evolution."""
    if ctype == "str":
        return pa.nulls(n, pa.string()).fill_null("")
    if ctype == "ts":
        return pa.array(np.zeros(n, dtype=np.int64)).cast(
            pa.timestamp("us", tz="UTC")
        )
    np_dtype = {"i32": np.int32, "i64": np.int64, "f64": np.float64,
                "bool": np.bool_}[ctype]
    return pa.array(np.zeros(n, dtype=np_dtype),
                    type=_CTYPE_TO_ARROW[ctype])


def schema_from_ctypes(ctypes: dict[str, str]):
    """(column -> ctype) map -> the decode output Spark schema (canonical
    column order, non-nullable)."""
    from pyspark.sql import types as T

    to_spark = {
        "str": T.StringType(), "i32": T.IntegerType(), "i64": T.LongType(),
        "ts": T.TimestampType(), "f64": T.DoubleType(), "bool": T.BooleanType(),
    }
    return T.StructType(
        [T.StructField(c, to_spark[ctypes[c]], False)
         for c in _column_order(ctypes)]
    )


def resolve_ctype(column: str, ctype: str | None) -> str:
    """A block's ctype. Legacy blocks (written before ctype landed) carry
    none: core columns resolve to their known types, anything else to str."""
    return ctype or _CORE_CTYPES.get(column, "str")


def refuse_colliding_chunks(collided: bool) -> None:
    """The loud failure for blocks of one column sharing a chunk key. Only
    the grouped decode can fuse them; the datasource decodes file by file,
    so it never calls this."""
    if collided:
        raise ValueError(
            "colliding chunk keys: multiple blocks for one column share a "
            "(partition_id, chunk_idx[, epoch]) group — two encode jobs "
            "appended into one blocks dir without distinct partition dirs; "
            "decode refuses to fuse them"
        )


def ctypes_from_signatures(
    sigs,
    requested: list[str] | None = None,
    merge: bool = False,
) -> dict[str, str]:
    """The schema decision: (column -> ctype) from schema signatures.

    ``sigs`` is an iterable of signatures, each an iterable of (column,
    ctype) pairs whose ctype is None for legacy blocks — one per chunk from
    the blocks readers, one per partition from the manifests' schema_sig.
    Readers only produce signatures; every rule lives here:

    - strict (the default): more than one distinct signature is a
      heterogeneous warehouse (a second encode appending different extras,
      legacy pre-ctype blocks mixed with new, a streaming schema change
      across epochs) and fails LOUDLY instead of decoding every chunk
      against one sampled chunk's schema (ADVICE r2).
    - ``merge=True`` is additive schema evolution: the signatures UNION
      into one superset schema. Chunks missing a merged column decode with
      the typed zero-defaults ``normalize_input`` uses.
    - a column with two ctypes always raises — a type change is never
      guessable, so never merged.
    - no signature at all (zero matching blocks, e.g. a zone-map-pruned
      scan) gives a typed empty result: ``requested`` columns (default the
      core six) get their known types, unknown extras string — so
      downstream filters resolve instead of failing analysis.
    """
    uniq = sorted(
        {tuple(sorted((tuple(e) for e in s), key=lambda e: (e[0], e[1] or "")))
         for s in sigs},
        key=str,
    )
    if len(uniq) > 1 and not merge:
        raise ValueError(
            f"heterogeneous chunk schemas in warehouse ({len(uniq)} distinct "
            "column/ctype sets) — decode refuses to guess; re-encode to one "
            "schema (jobs/compact.py --merge-schemas unifies additive "
            "evolution) or decode subsets. Signatures: "
            + "; ".join(str(list(s)) for s in uniq)
        )
    ctypes: dict[str, str] = {}
    for s in uniq:
        for col, ct0 in s:
            ct = resolve_ctype(col, ct0)
            prev = ctypes.setdefault(col, ct)
            if prev != ct:
                raise ValueError(
                    f"column '{col}' appears with two ctypes "
                    f"({prev} vs {ct}) across chunks — a type CHANGE is "
                    "never merged; re-encode the offending batch"
                )
    if not ctypes:
        ctypes = {c: resolve_ctype(c, None)
                  for c in requested or TRANSCRIPT_COLUMNS}
    return ctypes


def _data_blocks(blocks: DataFrame, columns: list[str] | None) -> DataFrame:
    """The block rows a decode of ``columns`` reads: markers dropped, and
    only the requested columns' rows when ``columns`` is given."""
    import pyspark.sql.functions as F

    blocks = blocks.filter(~F.col("column").startswith("__"))
    if columns is not None:
        blocks = blocks.filter(F.col("column").isin(list(columns)))
    return blocks


def _spark_signatures(blocks: DataFrame) -> list:
    """Spark reader: every chunk's sorted (column, ctype) signature,
    deduplicated, from one aggregation over the narrow (keys, column,
    ctype) projection of the data blocks. Cost is O(chunks) metadata rows
    — parquet column pruning keeps the scan narrow; the result is
    O(distinct signatures)."""
    import pyspark.sql.functions as F

    per_chunk = (
        blocks.select(
            *group_keys(blocks), "column",
            F.get_json_object("meta", "$.ctype").alias("ctype"),
        )
        .groupBy(*group_keys(blocks))
        .agg(
            F.sort_array(F.collect_list(F.struct("column", "ctype"))).alias("sig"),
            (F.count("*") > F.count_distinct("column")).alias("collided"),
        )
    )
    rows = per_chunk.select("sig", "collided").distinct().collect()
    refuse_colliding_chunks(any(r["collided"] for r in rows))
    return [r["sig"] for r in rows]


def decode_blocks(blocks: DataFrame, columns: list[str] | None = None
                  ) -> DataFrame:
    """blocks -> transcripts (row order unspecified; sort to compare).

    The grouped decode of in-memory blocks (the oracle operators, bench
    and the tests' reference reader); blocks on disk are decoded in place
    by the datasource (``datasource.read_warehouse``), with no shuffle.

    ``columns`` prunes the decode to the requested columns: only those
    columns' block rows are shuffled and decoded — the columnar read path
    (analogue of ReadSchema pruning at a parquet scan, but over our own
    encoded blocks).

    The output schema is derived from the blocks' own metadata (footer
    analogue) by one narrow aggregate (:func:`_spark_signatures`), and
    :func:`ctypes_from_signatures` decides, strictly: heterogeneous chunk
    signatures fail loudly (additive evolution is
    ``read_warehouse(..., merge_schemas=True)``, as jobs/compact.py
    --merge-schemas uses it).
    """
    data = _data_blocks(blocks, columns)
    ctypes = ctypes_from_signatures(_spark_signatures(data), columns)
    return data.groupBy(*group_keys(data)).applyInArrow(
        _decode_group, schema_from_ctypes(ctypes)
    )
