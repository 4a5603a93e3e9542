"""Per-partition manifests: lineage, byte accounting, checkpoint/resume.

The manifests table is the engine's commit log — the queryable
generalization of the reference's self-describing Parquet footer metadata
(``converter/convert.go:64``, ``converter/reservedColumns.go:31-56``).
A partition is durable iff its manifest row has status='committed'; the
encode job left-anti-joins planned partitions against committed manifests
to resume after failure (SURVEY.md §4.3). Blocks are written partitioned
by partition_id with dynamic partition overwrite, so re-encoding a
partition is idempotent.

Only this module knows the manifests' columns: it writes them
(:func:`build_manifests`), reads them driver-side (:class:`WarehouseMeta`)
and rewrites them distributed (:func:`rewritten_manifests`).

Sandbox note: the production target is Iceberg (atomic snapshot commits);
no Iceberg runtime jar ships with this pyspark, so the documented fallback
is the same layout on plain Parquet — blocks partitioned by partition_id,
manifests append-only, manifest-write-last as the commit point.
"""

from __future__ import annotations

import functools
import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .blocks import BLOCKS_SCHEMA, MANIFEST_SCHEMA

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
            # nulls, so without this flag the route's range fallback would
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
            # read planning (WarehouseMeta.ctypes) instead of
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
        # null conv range = "this partition is unprunable" (route keeps it)
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


_ROUTING_COLUMNS = ("partition_id", "status", "conv_min", "conv_max",
                    "num_partitions", "turn_max", "shard_dirs")


class WarehouseMeta:
    """The one reader of a warehouse's manifests table, driver-side.

    :meth:`load` runs one pyarrow dataset discovery of ``{warehouse}/
    manifests`` (local paths and URIs alike, no Spark job); each view then
    reads only its own columns, O(partitions) narrow rows. Only
    ``FileNotFoundError`` means "no manifests" (bench/test warehouses):
    every view is then empty or None. Any other error propagates — an
    unreachable remote URI must not look like a fresh warehouse, or encode
    would resume from zero and decode_verify would skip its check.
    """

    def __init__(self, dataset):
        self._ds = dataset
        self.exists = dataset is not None
        self.names = set(dataset.schema.names) if self.exists else set()
        self.has_epoch = "epoch" in self.names  # a streaming warehouse

    @classmethod
    def load(cls, warehouse: str) -> WarehouseMeta:
        import pyarrow.dataset as pads

        try:
            ds = pads.dataset(f"{warehouse}/manifests", format="parquet",
                              partitioning="hive")
        except FileNotFoundError:
            ds = None
        return cls(ds)

    def rows(self, columns, committed: bool = False) -> list[dict]:
        """The manifest rows projected onto whichever of ``columns`` exist;
        ``committed`` keeps status='committed' rows (when status exists)."""
        import pyarrow.dataset as pads

        cols = [c for c in columns if c in self.names]
        if not cols:
            return []
        flt = (pads.field("status") == "committed"
               if committed and "status" in self.names else None)
        return self._ds.to_table(columns=cols, filter=flt).to_pylist()

    @functools.cached_property
    def _routing_rows(self) -> list[dict]:
        return self.rows(_ROUTING_COLUMNS)

    @property
    def mods(self) -> set:
        """num_partitions values over ALL rows, committed or not."""
        return {r.get("num_partitions") for r in self._routing_rows}

    @property
    def turn_max(self) -> int | None:
        """Max persisted turn_max; None when any row lacks it."""
        tm = [r.get("turn_max") for r in self._routing_rows]
        return None if not tm or None in tm else max(tm)

    def route(self, conv_ids) -> tuple[list[int] | None, int | None]:
        """(sorted partition ids that can hold any of ``conv_ids``,
        shard_dirs), or (None, None) when the manifests cannot prune.

        Preferred route: the encode partitioner is a deterministic hash
        (``pmod(xxhash64(conv_id, turn_idx // 256), N)``), so with the
        modulus and the max turn index on record a batch of K keys
        COMPUTES its partition dirs (sparkhash.pkey_for) from this one
        read. Conv min/max ranges cannot prune a hash layout, but serve
        as the fallback for manifests without routing metadata; a row
        with a null range (legacy or stat-suppressed) is always kept."""
        from .encode import TURNS_PER_SPLIT
        from .sparkhash import pkey_for

        if "conv_min" not in self.names or "conv_max" not in self.names:
            return None, None
        t = [r for r in self._routing_rows if r.get("status") == "committed"]
        if not t:
            return None, None

        shard_vals = {r.get("shard_dirs") for r in t} - {None}
        shard_dirs = shard_vals.pop() if len(shard_vals) == 1 else None

        mods = {r.get("num_partitions") for r in t}
        turn_maxes = [r.get("turn_max") for r in t]
        if None not in mods and None not in turn_maxes:
            n_splits = max(turn_maxes) // TURNS_PER_SPLIT + 1
            return sorted(
                {
                    pkey_for(cid, s, n)
                    for cid in conv_ids for n in mods for s in range(n_splits)
                }
            ), shard_dirs
        return sorted(
            {
                r["partition_id"]
                for r in t
                if r["conv_min"] is None
                or any(r["conv_min"] <= cid <= r["conv_max"] for cid in conv_ids)
            }
        ), shard_dirs

    def ctypes(self) -> dict[str, str] | None:
        """column -> ctype from the committed ``schema_sig`` rows (the
        read-planning analogue of opening ONE Parquet footer); None when a
        signature is unavailable (no manifests, pre-r4 manifests, or any
        null signature), so the caller derives it from the blocks."""
        from .decode import ctypes_from_signatures

        if "schema_sig" not in self.names:
            return None
        sigs = {r["schema_sig"] for r in self.rows(["schema_sig"], committed=True)}
        if not sigs or None in sigs:
            return None
        return ctypes_from_signatures(
            (json.loads(sig).items() for sig in sigs), merge=True
        )

    def committed_ids(self, job_id: str) -> list[int]:
        """Sorted ids of the partitions ``job_id`` has committed."""
        return sorted({
            r["partition_id"]
            for r in self.rows(["partition_id", "job_id"], committed=True)
            if r.get("job_id") == job_id
        })

    def checksums(self) -> list[tuple[int, str]]:
        """(partition_id, checksum) of every manifest row."""
        return [(r["partition_id"], r.get("checksum"))
                for r in self.rows(["partition_id", "checksum"])]

    def column_desc(self) -> dict[str, str] | None:
        """column -> description, merged over the committed rows."""
        merged: dict[str, str] = {}
        for r in self.rows(["column_desc"], committed=True):
            merged.update(json.loads(r["column_desc"] or "{}"))
        return dict(sorted(merged.items())) or None


def committed_partitions(warehouse: str, job_id: str) -> list[int]:
    """Sorted ids of the partitions already durable for this job; a fresh
    warehouse has none. A driver read, no Spark job."""
    return WarehouseMeta.load(warehouse).committed_ids(job_id)


def rewritten_manifests(
    spark: SparkSession, warehouse: str, pids, fresh: DataFrame | None
) -> DataFrame:
    """The manifests table after partitions ``pids`` were rewritten: every
    other row, read and filtered by executors (never collected to the
    driver), plus the ``fresh`` rows, both projected by name onto
    MANIFEST_SCHEMA (pre-r4 rows get a null schema_sig)."""

    def project(df: DataFrame) -> DataFrame:
        have = set(df.columns)
        return df.select(*[
            (F.col(f.name) if f.name in have else F.lit(None))
            .cast(f.dataType).alias(f.name)
            for f in MANIFEST_SCHEMA.fields
        ])

    out = project(spark.read.parquet(f"{warehouse}/manifests")
                  .filter(~F.col("partition_id").isin(sorted(pids))))
    return out if fresh is None else out.unionByName(project(fresh))


def blocks_dir(root: str, pid: int, shard_dirs: int | None) -> str:
    """The hive directory that holds partition ``pid``'s blocks."""
    return (f"{root}/shard={pid % shard_dirs}/partition_id={pid}"
            if shard_dirs else f"{root}/partition_id={pid}")


def routed_blocks_dirs(root: str, pids, shard_dirs: int | None) -> list[tuple]:
    """(pid, dir, pyarrow dataset) for each of ``pids`` whose blocks dir
    exists: the shard dir first, then the legacy single-level dir. Opens
    only those dirs — never a whole-tree listing."""
    import pyarrow.dataset as pads

    out = []
    for pid in sorted(pids):
        for d in dict.fromkeys([blocks_dir(root, pid, shard_dirs),
                                blocks_dir(root, pid, None)]):
            try:
                out.append((pid, d, pads.dataset(d, format="parquet")))
                break
            except FileNotFoundError:
                continue
    return out


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
