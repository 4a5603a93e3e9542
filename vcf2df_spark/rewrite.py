"""Routed staged rewrite: the shared core of targeted delete and upsert.

The point-write analogue of the routed point read (scan.fetch_conversation):
given a set of conversation ids, rewrite ONLY the partition dirs their hash
routes to — at the 100-TB design point that is a couple of dirs out of
~400k, never a warehouse scan. Reference analogue: correcting a file means
re-running the CLI on it (``converter/convert_test.go:25-31`` deletes and
regenerates the whole output); ours is partition-bounded.

Commit discipline (same as jobs/encode.py):

1. route: manifests hash-routing metadata -> candidate partition ids
   (loud failure without it — never a silent full scan); the route covers
   the replacement's own turn range too, so an upsert beyond the
   warehouse's persisted turn_max stays inside the routed set;
2. stage: ONLY the routed partition dirs are read (basePath read — no
   full-tree listing), target conversations drop out, replacement rows
   (if any) union in, survivors re-encode through the SAME salted hash
   partitioner and land in a scratch dir ALREADY hive-partitioned like
   the warehouse. Row counts ride this one job via observe() — no
   cache/count pre-passes. The applyInArrow group key IS partition_id,
   so each task holds whole groups and partitionBy writes every chunk
   group into one file (the blocks write invariant). Every later action
   reads the STAGING files — never a read-then-overwrite of live dirs
   in one lineage (the CLAUDE.md rule, applied to blocks);
3. stage manifests (they read the staged blocks): untouched rows are
   filtered and written by executors, NEVER collected to the driver (at
   ~400k manifest rows a driver materialization is a multi-hundred-MB
   single-threaded round-trip on every delete);
4. commit: the routed block dirs swap for their staged replacements
   (driver-side renames — partitions emptied by a delete just lose their
   dir), then the manifests dir swaps LAST. A crash between the two
   leaves stale checksums over new blocks, which decode_verify flags.

Local-filesystem warehouses only (loud failure otherwise — see fsutil):
the directory swaps use os/shutil, which silently no-op on remote URIs.
One rewrite at a time per warehouse (O_EXCL ``.rewrite_lock``; concurrent
rewrites would race on the staging dir and the manifests swap). The lock
does NOT coordinate with a concurrent encode-append or streaming epoch
writer to the same warehouse — a manifest file appended during the swap
window would be lost with the old directory. Run rewrites in maintenance
windows (or against quiesced warehouses), like any compaction.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class RewriteError(RuntimeError):
    """Warehouse not rewritable in place (missing routing metadata,
    streaming epochs, ambiguous partitioner, remote URI)."""


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
    from . import fsutil

    try:
        local = fsutil.require_local(warehouse, "warehouse")
    except ValueError as e:
        raise RewriteError(str(e)) from e
    wh = local.rstrip("/")

    # one rewrite at a time per warehouse: two concurrent staged rewrites
    # would race on the staging dir and the manifests swap (last writer
    # silently drops the other's rows)
    try:
        with fsutil.exclusive_lock(f"{wh}/.rewrite_lock", job_id, "rewrite"):
            # crash recovery: a rewrite that died between the manifests
            # rename and the staging move leaves NO manifests dir (every
            # read breaks). Restore the pre-swap manifests — over the
            # possibly-new blocks they may carry stale checksums, which
            # decode_verify flags, the same observable state as a crash
            # between the blocks and manifests commits.
            old_m = f"{wh}/.manifests_old"
            if not os.path.exists(f"{wh}/manifests") and os.path.exists(old_m):
                os.rename(old_m, f"{wh}/manifests")
            return _routed_rewrite_locked(
                spark, wh, conv_ids, job_id, desc, replacement
            )
    except fsutil.LockHeldError as e:
        raise RewriteError(str(e)) from None


def _routed_rewrite_locked(
    spark: SparkSession,
    wh: str,
    conv_ids: list[str],
    job_id: str,
    desc: str,
    replacement: DataFrame | None,
) -> dict:
    from pyspark.sql import Observation

    from . import fsutil, manifest
    from .decode import decode_blocks
    from .encode import TURNS_PER_SPLIT, encode_keyed, with_partition_key
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
    # side); the post-staging stray check below stays as the loud guard.
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

    # decode ONLY the routed partitions. Reading the routed dirs directly
    # (basePath keeps the hive partition_id column) skips the full-tree
    # file listing a filtered whole-warehouse read pays — at ~400k
    # partition dirs the listing IS the planning cost — and keeps the
    # blocks relation a bare scan, so decode's schema derivation stays
    # driver-side (no Spark aggregate job).
    root = f"{wh}/blocks"
    routed_dirs = [d for _pid, d, _ds in
                   manifest.routed_blocks_dirs(root, pids, shard_dirs)]
    if routed_dirs:
        blocks = spark.read.option("basePath", root).parquet(*routed_dirs)
    else:
        # no routed dir exists (pure insert into fresh partitions, or a
        # miss): fall back to the tree + filter — also the path that keeps
        # non-hive layouts failing exactly as before
        blocks = spark.read.parquet(root).filter(
            F.col("partition_id").isin(sorted(pids))
        )
    dec = decode_blocks(blocks)

    # counts ride the staging write via observe() — no cache, no separate
    # count jobs, the routed decode+encode runs exactly once (r6; the
    # same move VERDICT r5 prescribed for append_index's bookkeeping)
    obs_before, obs_after = Observation(), Observation()
    dec = dec.observe(obs_before, F.count(F.lit(1)).alias("n"))
    kept = _without_ids(spark, dec, conv_ids).observe(
        obs_after, F.count(F.lit(1)).alias("n")
    )
    if replacement is not None:
        kept = kept.unionByName(replacement)

    # stage: survivors (+ replacements) re-key through the same salted
    # hash partitioner and land in a scratch dir, hive-partitioned the
    # same way as the warehouse. Each applyInArrow task holds whole
    # groups (group key == partition_id), so partitionBy writes every
    # chunk group into one file — the blocks write invariant — and the
    # commit becomes driver-side directory swaps instead of a second
    # Spark read+repartition+overwrite pass over the staged bytes.
    keyed = with_partition_key(kept, num_partitions)
    staging = f"{wh}/.rewrite_staging"
    fsutil.rmtree_checked(staging)
    staged, part_cols = manifest.with_layout(encode_keyed(keyed), shard_dirs)
    staged.write.partitionBy(*part_cols).parquet(f"{staging}/blocks")
    n_before = int(obs_before.get["n"])
    n_after = int(obs_after.get["n"])

    if n_after == n_before and n_inserted == 0:
        fsutil.rmtree_checked(staging)
        return {
            "status": "noop", "rows_deleted": 0, "rows_inserted": 0,
            "partitions_routed": sorted(pids),
        }

    # staged partition dirs ARE the rewritten-partition set
    live_pids: set[int] = set()
    for dirpath, dirs, _files in os.walk(f"{staging}/blocks"):
        for d in dirs:
            if d.startswith("partition_id="):
                live_pids.add(int(d.split("=", 1)[1]))
    stray = live_pids - set(pids)
    if stray:  # explicit raise: survives python -O (ADVICE r5)
        fsutil.rmtree_checked(staging)
        raise RewriteError(
            f"re-keyed rows left the routed partitions: {sorted(stray)}"
        )

    # manifests staged FIRST (they read the staged blocks, which must
    # still exist), committed LAST: untouched rows + fresh rows for the
    # rewritten partitions, written by executors — no driver
    # materialization of the warehouse-sized table, and no plan ever
    # reads and overwrites wh/manifests in one lineage (the staging
    # write reads wh/manifests, the swap is driver-side fs ops).
    fresh = manifest.build_manifests(
        spark.read.parquet(f"{staging}/blocks"), job_id, desc,
        num_partitions=num_partitions, shard_dirs=shard_dirs,
    ) if live_pids else None
    manifest.rewritten_manifests(spark, wh, pids, fresh).coalesce(4).write.parquet(
        f"{staging}/manifests"
    )

    # commit blocks: swap the routed dirs for their staged replacements;
    # a partition emptied by the delete has no staged dir — removed.
    emptied = sorted(set(pids) - live_pids)
    for pid in sorted(pids):
        dst = manifest.blocks_dir(root, pid, shard_dirs)
        legacy = f"{root}/partition_id={pid}"
        for d in {dst, legacy}:
            if os.path.isdir(d):
                fsutil.rmtree_checked(d)
        src = manifest.blocks_dir(f"{staging}/blocks", pid, shard_dirs)
        if os.path.isdir(src):
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(src, dst)

    # commit manifests LAST. A crash between the blocks swap and here
    # leaves stale checksums over new blocks, which decode_verify flags —
    # the same observable state as before.
    old = f"{wh}/.manifests_old"
    fsutil.rmtree_checked(old)
    os.rename(f"{wh}/manifests", old)
    shutil.move(f"{staging}/manifests", f"{wh}/manifests")
    fsutil.rmtree_checked(old)
    fsutil.rmtree_checked(staging)

    return {
        "status": "ok",
        "rows_deleted": int(n_before - n_after),
        "rows_inserted": int(n_inserted),
        "partitions_routed": sorted(pids),
        "partitions_rewritten": sorted(live_pids),
        "partitions_emptied": emptied,
    }
