"""Routed staged rewrite: targeted delete and upsert, and the one staged
write path (``stage_and_swap``) every warehouse writer publishes through.

The point-write analogue of the routed point read (scan.fetch_conversation):
given a set of conversation ids, rewrite ONLY the partition dirs their hash
routes to — at the 100-TB design point that is a couple of dirs out of
~400k, never a warehouse scan. Reference analogue: correcting a file means
re-running the CLI on it (``converter/convert_test.go:25-31`` deletes and
regenerates the whole output); ours is partition-bounded. jobs/encode.py
appends through the same path: its merged partitions are the committed
ones its new rows hash to.

Commit discipline:

1. route: manifests hash-routing metadata -> candidate partition ids
   (loud failure without it — never a silent full scan); the route covers
   the replacement's own turn range too, so an upsert beyond the
   warehouse's persisted turn_max stays inside the routed set;
2. stage: ONLY the routed partition dirs are read, decoded in place by
   the datasource (``read_warehouse(partition_ids=...)`` — no full-tree
   listing, no decode shuffle), target conversations drop out, new rows
   (if any) union in, survivors re-encode through the SAME salted hash
   partitioner (the one Exchange) and land in a scratch dir ALREADY
   hive-partitioned like the warehouse. New rows whose columns differ
   from the committed schema are refused before anything is staged. Row
   counts ride this one job via observe() — no cache/count pre-passes.
   The applyInArrow group key IS partition_id, so each task holds whole
   groups and partitionBy writes every chunk group into one file (the
   blocks write invariant). Every later action reads the STAGING files —
   never a read-then-overwrite of live dirs in one lineage (the
   CLAUDE.md rule, applied to blocks);
3. stage manifests (they read the staged blocks): untouched rows are
   filtered and written by executors, NEVER collected to the driver (at
   ~400k manifest rows a driver materialization is a multi-hundred-MB
   single-threaded round-trip on every delete);
4. commit: the block dirs and ``manifests/`` publish as ONE journaled
   swap (``commit.swap``; an emptied partition loses its dir), which the
   next taker of the lock rolls forward after a crash.

Local-filesystem warehouses only (loud failure otherwise — see commit):
the directory swaps use os/shutil, which silently no-op on remote URIs.
One writer at a time per warehouse (O_EXCL ``.rewrite_lock``, taken by
encode, delete and upsert alike). The lock does NOT coordinate with a
streaming epoch writer; streaming warehouses are refused in place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import commit


class RewriteError(RuntimeError):
    """Warehouse not rewritable in place (missing routing metadata,
    streaming epochs, ambiguous partitioner, remote URI), or new rows
    whose columns differ from the committed schema."""


# above this many ids, drop-filters use a broadcast LEFT ANTI join instead
# of an isin literal list: a bulk GDPR batch inlined as 100k+ literals
# bloats the plan tree and the codegen source (the same reason resume's
# committed-id filter is an anti-join, not isin)
_ISIN_MAX_IDS = 1000


def _without_ids(spark: SparkSession, df: DataFrame, conv_ids: list) -> DataFrame:
    """df minus the given conv_ids — literal isin for small batches,
    broadcast anti-join for bulk ones."""
    if len(conv_ids) <= _ISIN_MAX_IDS:
        return df.filter(~F.col("conv_id").isin(conv_ids))
    ids_df = spark.createDataFrame(
        [(c,) for c in conv_ids], "conv_id string"
    )
    return df.join(F.broadcast(ids_df), "conv_id", "left_anti")


def routed_rewrite(
    spark: SparkSession,
    warehouse: str,
    conv_ids: list[str],
    job_id: str,
    desc: str,
    replacement: DataFrame | None = None,
) -> dict:
    """Remove ``conv_ids``' rows from the warehouse; insert ``replacement``
    rows (already normalized, same schema as the decoded warehouse) if
    given. Returns a JSON-able summary dict. Raises RewriteError when the
    warehouse cannot be rewritten in place."""
    try:
        local = commit.require_local(warehouse, "warehouse")
    except ValueError as e:
        raise RewriteError(str(e)) from e
    wh = local.rstrip("/")

    # one rewrite at a time per warehouse: two concurrent staged rewrites
    # would race on the staging dir and the manifests swap (last writer
    # silently drops the other's rows). Taking the lock finishes (or
    # wipes) whatever a crashed rewrite left in the staging dir.
    try:
        with commit.locked(wh, ".rewrite_lock", ".rewrite_staging", job_id,
                           "rewrite") as staging:
            return _routed_rewrite_locked(
                spark, wh, staging, conv_ids, job_id, desc, replacement
            )
    except commit.LockHeldError as e:
        raise RewriteError(str(e)) from None


def _routed_rewrite_locked(
    spark: SparkSession,
    wh: str,
    staging: str,
    conv_ids: list[str],
    job_id: str,
    desc: str,
    replacement: DataFrame | None,
) -> dict:
    from . import manifest
    from .encode import TURNS_PER_SPLIT, with_partition_key
    from .sparkhash import pkey_for

    conv_ids = sorted(set(conv_ids))
    # ONE driver-side manifests read (no Spark distinct job, r6) plans the
    # rewrite and routes the whole batch (a per-id loop would pay K full
    # metadata reads on a bulk GDPR delete)
    meta = manifest.WarehouseMeta.load(wh)
    p_list, shard_dirs = meta.route(conv_ids)
    if p_list is None:
        raise RewriteError(
            "warehouse has no manifests routing metadata "
            "(num_partitions); targeted rewrite needs it — re-encode "
            "with jobs/encode.py or compact first"
        )
    pids: set = set(p_list)

    if meta.has_epoch:
        raise RewriteError(
            "streaming (epoch-partitioned) warehouses cannot be rewritten "
            "in place; compact to a batch warehouse first "
            "(jobs/compact.py) — for deletes, jobs/delete.py "
            "--via-compact --out NEW_WH folds the erasure into that "
            "compaction"
        )
    mods = meta.mods
    num_partitions = mods.pop() if len(mods) == 1 and None not in mods else None
    if num_partitions is None:
        raise RewriteError(
            "ambiguous num_partitions across manifest rows; compact the "
            "warehouse to one partitioner first"
        )

    # ADVICE r5 (medium): an upsert whose replacement carries turn_idx
    # beyond the warehouse's persisted turn_max would re-key rows into
    # partitions OUTSIDE the manifest-derived routed set. Extend the route
    # with the replacement's own turn range (one tiny agg on the small
    # side); stage_and_swap's stray check stays as the loud guard.
    n_inserted = 0
    if replacement is not None:
        rep_agg = replacement.agg(
            F.count(F.lit(1)).alias("n"), F.max("turn_idx").alias("tmax")
        ).collect()[0]
        n_inserted = int(rep_agg["n"])
        if rep_agg["tmax"] is not None and meta.turn_max is not None:
            lo = meta.turn_max // TURNS_PER_SPLIT + 1
            hi = int(rep_agg["tmax"]) // TURNS_PER_SPLIT + 1
            for cid in conv_ids:
                for s in range(lo, hi):
                    pids.add(pkey_for(cid, s, num_partitions))

    new = (None if replacement is None
           else with_partition_key(replacement, num_partitions))
    stats = stage_and_swap(spark, wh, staging, meta, pids, new, job_id, desc,
                           num_partitions, shard_dirs, drop_ids=conv_ids)
    if stats is None:
        return {
            "status": "noop", "rows_deleted": 0, "rows_inserted": 0,
            "partitions_routed": sorted(pids),
        }
    written = set(stats["pids"])
    return {
        "status": "ok",
        "rows_deleted": stats["before"] - stats["kept"],
        "rows_inserted": int(n_inserted),
        "partitions_routed": sorted(pids),
        "partitions_rewritten": sorted(written),
        "partitions_emptied": sorted(pids - written),
    }


def _refuse_schema_drift(meta, new: DataFrame) -> None:
    """RewriteError when ``new``'s (column, type) set differs from the
    committed schema: written, it would leave partitions that every later
    read refuses as incomplete chunk groups."""
    from .decode import schema_from_ctypes

    have = meta.ctypes()
    if have is None:
        return
    want = {(f.name, f.dataType.simpleString())
            for f in schema_from_ctypes(have).fields}
    cols = {(f.name, f.dataType.simpleString())
            for f in new.schema.fields if f.name != "_pkey"}
    if cols != want:
        raise RewriteError(
            "new rows' columns differ from the warehouse schema: "
            f"extra {sorted(cols - want)}, missing {sorted(want - cols)}; "
            "write rows with exactly the warehouse's columns and types, "
            "or re-encode the whole table into a new warehouse")


def stage_and_swap(
    spark: SparkSession,
    wh: str,
    staging: str | None,
    meta,
    merge,
    new: DataFrame | None,
    job_id: str,
    desc: str,
    num_partitions: int,
    shard_dirs: int | None,
    drop_ids=(),
    detect_dups: bool = False,
) -> dict | None:
    """The one write path of every warehouse writer (encode, delete,
    upsert): decode the live dirs of partitions ``merge``, drop
    ``drop_ids``' rows, union the ``new`` rows (keyed by
    ``encode.with_partition_key``), re-encode, write hive-partitioned
    into ``{staging}/blocks``, stage the manifests (fresh rows for the
    written partitions plus every other row of ``meta``'s table), then
    publish the blocks dirs and ``manifests/`` as ONE ``commit.swap``.
    ``staging`` None writes straight into the warehouse: only for one
    with no manifests and nothing to merge (a fresh remote encode).

    Returns the observed counts (``before``/``kept``: rows of the merged
    dirs; ``rows``/``parts``/``raw``/``enc``/``pids``: the written
    blocks; ``max_rows``/``mean_rows``: the fresh manifest rows), or None
    when no row was dropped or added. Raises RewriteError, before
    anything is staged, when ``new``'s columns differ from the committed
    schema (a warehouse without manifests, or with pre-r4 ones, is not
    checked)."""
    from pyspark.sql import Observation

    from . import manifest
    from .datasource import read_warehouse
    from .encode import encode_keyed, with_partition_key

    if new is not None:
        _refuse_schema_drift(meta, new)
    merge = set(merge)
    root = f"{wh}/blocks"
    dest = staging or wh
    # decode ONLY the merged partitions' dirs, in place (no decode
    # shuffle): no full-tree listing — at ~400k partition dirs the
    # listing IS the planning cost. Counts ride the staging write via
    # observe(): no cache, no count jobs, the decode+encode runs exactly
    # once.
    live = [pid for pid, _d, _ds in
            manifest.routed_blocks_dirs(root, merge, shard_dirs)]
    obs = {k: Observation() for k in ("before", "kept", "blocks")}
    rows = new
    if live:
        dec = read_warehouse(spark, wh, partition_ids=live)
        dec = dec.observe(obs["before"], F.count(F.lit(1)).alias("n"))
        kept = _without_ids(spark, dec, drop_ids) if drop_ids else dec
        kept = with_partition_key(kept, num_partitions).observe(
            obs["kept"], F.count(F.lit(1)).alias("n"))
        rows = kept if new is None else kept.unionByName(new)
    if rows is None:
        return None

    # one applyInArrow group per partition_id, so partitionBy writes every
    # chunk group into one file (the blocks write invariant). The target
    # is always new: the staging dir is wiped when the lock is taken, and
    # a direct write only goes to a warehouse with no manifests.
    is_conv = F.col("column") == "conv_id"
    blocks = encode_keyed(rows, detect_dups=detect_dups).observe(
        obs["blocks"],
        F.sum(F.when(is_conv, F.col("n_rows"))).alias("rows"),
        F.count(F.when(is_conv & (F.col("chunk_idx") == 0), 1)).alias("parts"),
        F.sum("raw_bytes").alias("raw"),
        F.sum("enc_bytes").alias("enc"),
        F.sort_array(F.collect_set("partition_id")).alias("pids"),
    )
    blocks, part_cols = manifest.with_layout(blocks, shard_dirs)
    blocks.write.mode("overwrite").partitionBy(*part_cols).parquet(
        f"{dest}/blocks")
    got = obs["blocks"].get
    stats = {k: int(got[k] or 0) for k in ("rows", "parts", "raw", "enc")}
    stats["pids"] = list(got["pids"] or [])
    stats["before"] = int(obs["before"].get["n"]) if live else 0
    stats["kept"] = int(obs["kept"].get["n"]) if live else 0
    if stats["before"] == stats["kept"] == stats["rows"]:
        return None

    # the staged partitions ARE the written set; one that already holds
    # committed rows but was not merged would lose them in the swap
    written = set(stats["pids"])
    stray = (written - merge) & set(meta.committed_ids())
    if stray:  # explicit raise: survives python -O
        raise RewriteError(
            f"re-keyed rows left the merged partitions: {sorted(stray)}"
        )

    # manifests read the written blocks (which must still be there) and
    # commit with them: every untouched row + fresh rows for the written
    # partitions, filtered and written by executors — never collected to
    # the driver, and no plan reads and overwrites wh/manifests in one
    # lineage (the swap is driver-side fs ops).
    obs_m = Observation()
    swapped = merge | written
    fresh = manifest.build_manifests(
        manifest.read_blocks(spark, f"{dest}/blocks", sorted(written),
                             shard_dirs),
        job_id, desc, num_partitions=num_partitions, shard_dirs=shard_dirs,
    ).observe(obs_m, F.max("n_rows").alias("mx"), F.avg("n_rows").alias("mean")
              ) if written else None
    staged_m = (manifest.rewritten_manifests(spark, wh, swapped, fresh)
                if meta.exists else fresh)
    staged_m.coalesce(4).write.mode("overwrite").parquet(f"{dest}/manifests")
    if fresh is not None:
        stats["max_rows"], stats["mean_rows"] = obs_m.get["mx"], obs_m.get["mean"]
    if staging is None:
        return stats

    pairs = []
    for pid in sorted(swapped):
        pairs.append((manifest.blocks_dir(root, pid, shard_dirs),
                      manifest.blocks_dir(f"{staging}/blocks", pid, shard_dirs)))
        if shard_dirs:  # a legacy single-level dir goes too
            pairs.append((manifest.blocks_dir(root, pid, None), None))
    pairs.append((f"{wh}/manifests", f"{staging}/manifests"))
    commit.swap(wh, staging, pairs)
    return stats
