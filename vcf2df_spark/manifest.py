"""Per-partition manifests: lineage, byte accounting, checkpoint/resume.

The manifests table is the engine's commit log — the queryable
generalization of the reference's self-describing Parquet footer metadata
(``converter/convert.go:64``, ``converter/reservedColumns.go:31-56``).
A partition is durable iff its manifest row has status='committed'; the
encode job left-anti-joins planned partitions against committed manifests
to resume after failure (SURVEY.md §4.3). Blocks are written partitioned
by partition_id with dynamic partition overwrite, so re-encoding a
partition is idempotent.

Sandbox note: the production target is Iceberg (atomic snapshot commits);
no Iceberg runtime jar ships with this pyspark, so the documented fallback
is the same layout on plain Parquet — blocks partitioned by partition_id,
manifests append-only, manifest-write-last as the commit point.
"""

from __future__ import annotations

import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .blocks import BLOCKS_SCHEMA

# per-column data dictionary (reference: human-readable column descriptions
# in the Parquet footer, converter/reservedColumns.go:31-56, README.md:75-77)
CORE_DESCRIPTIONS = {
    "conv_id": "conversation identifier (string key)",
    "turn_idx": "0-based turn index within the conversation",
    "role": "speaker role (user/assistant/tool/system)",
    "text": "utterance text (utf8)",
    "tool": "tool name for tool turns, empty otherwise",
    "ts": "event timestamp (microseconds since epoch, UTC)",
}


def _column_desc_expr():
    """column -> description; extras described by their carried type."""
    desc = None
    for name, text in CORE_DESCRIPTIONS.items():
        clause = F.when(F.col("column") == name, F.lit(text))
        desc = clause if desc is None else desc.when(F.col("column") == name, F.lit(text))
    return desc.otherwise(
        F.concat(
            F.lit("extra input column ("),
            F.coalesce(F.get_json_object("meta", "$.ctype"), F.lit("str")),
            F.lit(")"),
        )
    )


def build_manifests(
    blocks: DataFrame,
    job_id: str,
    input_path: str,
    num_partitions: int | None = None,
    shard_dirs: int | None = None,
) -> DataFrame:
    """Aggregate block rows into one committed manifest row per partition.

    Pure DataFrame aggregation (partial+final hash-agg, no custom shuffle):
    codec map, byte totals, and an order-insensitive checksum from the
    per-block payload hashes.
    """
    per_block_hash = F.sha2(
        F.concat_ws(
            "|",
            F.col("column"),
            F.col("chunk_idx").cast("string"),
            F.col("codec"),
            F.sha2(F.coalesce(F.col("payload"), F.lit(b"")), 256),
            F.sha2(F.coalesce(F.col("aux"), F.lit(b"")), 256),
        ),
        256,
    )
    # n_rows from one designated column's blocks (conv_id is always present):
    # dividing sum(n_rows) by a hardcoded column count silently mis-reports on
    # column-pruned or partially-written blocks, and breaks with extra columns.
    # codecs as a sorted distinct list of "column:codec" strings: per-chunk
    # measured selection legitimately picks different codecs for the same
    # column across chunks (dict vs rle flips, zstdhi's size gate), so a
    # column->codec MAP would throw DUPLICATED_MAP_KEY.
    is_data = ~F.col("column").startswith("__")  # marker rows excluded
    agg = (
        blocks.withColumn("_bh", per_block_hash)
        .withColumn("_desc", _column_desc_expr())
        .groupBy("partition_id")
        .agg(
            (F.max("chunk_idx") + 1).cast("int").alias("n_chunks"),
            F.sum(
                F.when(F.col("column") == "conv_id", F.col("n_rows"))
            ).cast("long").alias("n_rows"),
            F.to_json(
                F.sort_array(
                    F.array_distinct(
                        F.collect_list(F.concat_ws(":", "column", "codec"))
                    )
                )
            ).alias("codecs"),
            F.to_json(
                F.map_from_entries(
                    F.array_sort(
                        F.array_distinct(
                            F.collect_list(F.struct("column", F.col("_desc")))
                        )
                    )
                )
            ).alias("column_desc"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
            F.sha2(F.concat_ws("", F.sort_array(F.collect_list("_bh"))), 256).alias(
                "checksum"
            ),
            # partition-level conv_id zone map (min/max over the chunk zone
            # maps): the manifests table alone prunes a point lookup to ~1
            # partition dir, so the interactive read never lists blocks
            F.min(
                F.when(F.col("column") == "conv_id", F.col("stat_min_str"))
            ).alias("_conv_min_raw"),
            F.max(
                F.when(F.col("column") == "conv_id", F.col("stat_max_str"))
            ).alias("_conv_max_raw"),
            # a chunk whose conv_id/turn_idx stats are null (suppressed or
            # legacy) is NOT covered by the min/max above — F.min/F.max skip
            # nulls, so without this flag _route's range fallback would
            # silently prune partitions that do hold the key (ADVICE r3)
            F.max(
                F.when(
                    (F.col("column") == "conv_id")
                    & F.col("stat_min_str").isNull(), 1
                ).otherwise(0)
            ).alias("_conv_stat_nulls"),
            # turn_max bounds the split index of the hash partitioner, so a
            # lookup knows how many pkey_for(conv, split) dirs to compute
            F.max(
                F.when(F.col("column") == "turn_idx", F.col("stat_max_num"))
            ).alias("_turn_max_raw"),
            F.max(
                F.when(
                    (F.col("column") == "turn_idx")
                    & F.col("stat_max_num").isNull(), 1
                ).otherwise(0)
            ).alias("_turn_stat_nulls"),
            # per-partition (column -> ctype) signature: O(partitions)
            # read planning (datasource.ctypes_from_manifests) instead of
            # the full blocks-metadata pull; null ctype entries are legacy
            # blocks whose type decode.resolve_ctype supplies
            F.to_json(
                F.map_from_entries(
                    F.array_sort(
                        F.array_distinct(
                            F.collect_list(
                                F.when(
                                    is_data,
                                    F.struct(
                                        F.col("column"),
                                        F.get_json_object(
                                            "meta", "$.ctype"
                                        ).alias("ctype"),
                                    ),
                                )
                            )
                        )
                    )
                )
            ).alias("schema_sig"),
        )
    )
    return agg.select(
        F.lit(job_id).alias("job_id"),
        "partition_id",
        "n_chunks",
        "n_rows",
        "codecs",
        "column_desc",
        "raw_bytes",
        "enc_bytes",
        "checksum",
        F.lit(input_path).alias("input_path"),
        F.lit("committed").alias("status"),
        F.lit(int(time.time() * 1_000_000)).alias("committed_at"),
        # null conv range = "this partition is unprunable" (_route keeps it)
        F.when(F.col("_conv_stat_nulls") == 0, F.col("_conv_min_raw")).alias(
            "conv_min"
        ),
        F.when(F.col("_conv_stat_nulls") == 0, F.col("_conv_max_raw")).alias(
            "conv_max"
        ),
        F.lit(num_partitions).cast("int").alias("num_partitions"),
        F.when(F.col("_turn_stat_nulls") == 0, F.col("_turn_max_raw")).alias(
            "turn_max"
        ),
        F.lit(shard_dirs).cast("int").alias("shard_dirs"),
        "schema_sig",
    )


def committed_partitions(spark: SparkSession, manifests_path: str, job_id: str) -> list[int]:
    """Sorted ids of the partitions already durable for this job.

    A missing manifests table (a fresh warehouse) fails the read, on any
    filesystem, and yields no ids without a Spark job. The read names the
    three columns it needs, so an existing table costs one scan job and no
    footer-inference job; duplicate commits are dropped on the driver.
    """
    try:
        m = spark.read.schema("job_id STRING, partition_id INT, status STRING").parquet(
            manifests_path
        )
    except AnalysisException:
        return []
    rows = (
        m.filter((F.col("job_id") == job_id) & (F.col("status") == "committed"))
        .select("partition_id")
        .collect()
    )
    return sorted({r.partition_id for r in rows})


def blocks_dir(root: str, pid: int, shard_dirs: int | None) -> str:
    """The hive directory that holds partition ``pid``'s blocks."""
    return (f"{root}/shard={pid % shard_dirs}/partition_id={pid}"
            if shard_dirs else f"{root}/partition_id={pid}")


def with_layout(blocks: DataFrame, shard_dirs: int | None) -> tuple[DataFrame, list[str]]:
    """``blocks`` and the hive partition columns of the warehouse layout
    (a ``shard`` level above the partition dirs when ``shard_dirs``)."""
    if not shard_dirs:
        return blocks, ["partition_id"]
    return (
        blocks.withColumn("shard", F.pmod(F.col("partition_id"), F.lit(shard_dirs))),
        ["shard", "partition_id"],
    )


def read_blocks(
    spark: SparkSession,
    root: str,
    pids: list[int] | None = None,
    shard_dirs: int | None = None,
) -> DataFrame:
    """The blocks under ``root``, or only partitions ``pids`` read by
    directory (basePath keeps the partition columns): the manifests of a
    write are built from exactly the dirs it wrote, never from other
    partitions' payloads. The read carries the blocks schema, so it plans
    without a footer-inference job."""
    reader = spark.read.schema(BLOCKS_SCHEMA)
    if pids is None:
        return reader.parquet(root)
    return reader.option("basePath", root).parquet(
        *[blocks_dir(root, p, shard_dirs) for p in pids]
    )


def resume_filter(keyed: DataFrame, committed: DataFrame) -> DataFrame:
    """Drop rows of already-committed partitions (left-anti commit-log join).

    ``committed`` is tiny (one row per partition) — broadcast it so the
    anti-join is shuffle-free on the big side.
    """
    return keyed.join(
        F.broadcast(committed.withColumnRenamed("partition_id", "_pkey")),
        on="_pkey",
        how="left_anti",
    )
