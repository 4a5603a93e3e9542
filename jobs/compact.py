"""Compaction job: streaming epoch warehouse -> batch-shaped warehouse.

    spark-submit --py-files vcf2df_spark.zip jobs/compact.py \
        --warehouse /path/stream_wh --out /path/compacted_wh --partitions 32

Structured Streaming appends one block set per epoch: micro-batch-sized
chunks (often far below the 64k-row target) with per-epoch directories.
That layout is correct but degrades over time — more chunk metadata, worse
compression (small dictionaries, short runs), more files to open per scan.
This job is the engine's OPTIMIZE: one shuffle-free datasource read over
all epochs, one standard re-encode (global sort contract, 64k chunks,
salted hash partitioning), manifests with hash-routing metadata — after
which point lookups route in O(1) and scans see batch-shaped chunks.

The read side is the same scan the SQL surface uses, so compaction doubles
as an end-to-end exercise of epoch-keyed decode. The output is written to
a NEW warehouse directory: compaction never mutates its input (swap is the
caller's atomic-rename/catalog-flip, matching the blocks-first,
manifest-commit-last convention of the encode job).

``run_compact`` is also the delete path for epoch warehouses
(jobs/delete.py --via-compact): ``exclude_conv_ids`` drops those
conversations during the re-encode, folding a GDPR erasure into the
compaction a streaming warehouse periodically needs anyway — the delete
rides a rewrite that was already scheduled, instead of paying its own.
``--drop-where`` is the retention sweep on the same ride: age out rows by
SQL predicate (``ts < timestamp'...'``) during the rewrite the warehouse
was going to pay regardless.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def run_compact(
    spark,
    warehouse: str,
    out: str,
    partitions: int = 32,
    shard_dirs: int = 0,
    job_id: str = "compact",
    exclude_conv_ids: list[str] | None = None,
    drop_where: str | None = None,
    merge_schemas: bool = False,
) -> dict:
    """Re-encode ``warehouse`` (any layout, incl. streaming epochs) into a
    fresh batch-shaped warehouse at ``out``; optionally drop
    ``exclude_conv_ids`` and/or rows matching the ``drop_where`` SQL
    predicate (the retention-sweep shape: ``ts < timestamp'...'``) on the
    way. Returns the verdict dict."""
    import os

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from vcf2df_spark import manifest
    from vcf2df_spark.datasource import read_warehouse
    from vcf2df_spark.decode import group_keys
    from vcf2df_spark.encode import encode_keyed, with_partition_key

    if os.path.exists(out):
        return {"status": "error",
                "error": f"--out {out} already exists; "
                         "compaction writes a fresh warehouse"}

    t0 = time.time()
    old_blocks = spark.read.parquet(f"{warehouse}/blocks")
    before = old_blocks.agg(
        # epoch-aware chunk identity: two epochs may reuse (pid, chunk)
        F.count_distinct(*group_keys(old_blocks)).alias("chunks"),
        F.sum("enc_bytes").alias("enc"),
        # row count from block METADATA (one column's n_rows), no decode
        F.sum(F.when(F.col("column") == "conv_id", F.col("n_rows")))
        .alias("rows"),
    ).collect()[0]

    # epoch-aware and shuffle-free; merge_schemas is additive schema
    # evolution: epochs/batches with DIFFERENT extra columns decode against
    # their union schema, typed zero-defaults filling the pre-evolution
    # chunks, so every later read of the output is homogeneous and strict
    df = read_warehouse(spark, warehouse, merge_schemas=merge_schemas)
    if exclude_conv_ids:
        from vcf2df_spark.rewrite import _without_ids

        df = _without_ids(spark, df, sorted(set(exclude_conv_ids)))
    if drop_where:
        # null-safe: a predicate that evaluates NULL for a row must KEEP
        # it (filter(~NULL) would silently drop it)
        df = df.filter(~F.coalesce(F.expr(drop_where), F.lit(False)))
    keyed = with_partition_key(df, partitions)
    # one pass, no cache: the counts ride the blocks write through
    # observe() (a chunk is its conv_id block), and the manifests read back
    # the fresh output dirs instead of re-running the encode
    is_conv = F.col("column") == "conv_id"
    obs = Observation("compact")
    blocks = encode_keyed(keyed).observe(
        obs,
        F.sum(F.when(is_conv, F.col("n_rows"))).alias("rows"),
        F.count(F.when(is_conv, 1)).alias("chunks"),
        F.sum("enc_bytes").alias("enc"),
    )
    blocks, part_cols = manifest.with_layout(blocks, shard_dirs)
    blocks.write.partitionBy(*part_cols).parquet(f"{out}/blocks")
    after = obs.get
    manifest.build_manifests(
        manifest.read_blocks(spark, f"{out}/blocks"), job_id, warehouse,
        num_partitions=partitions, shard_dirs=shard_dirs or None,
    ).write.parquet(f"{out}/manifests")

    verdict = {
        "status": "ok",
        "rows": int(after["rows"] or 0),
        "chunks_before": int(before["chunks"]),
        "chunks_after": int(after["chunks"] or 0),
        "enc_bytes_before": int(before["enc"]),
        "enc_bytes_after": int(after["enc"] or 0),
        "wall_sec": round(time.time() - t0, 2),
    }
    if exclude_conv_ids or drop_where:
        # `or 0`: a warehouse with zero conv_id blocks reports None here,
        # like the after-side guards (ADVICE r5)
        verdict["rows_deleted"] = int(before["rows"] or 0) - verdict["rows"]
    return verdict


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--warehouse", required=True, help="input warehouse (any layout)")
    p.add_argument("--out", required=True, help="output warehouse (must not exist)")
    p.add_argument("--partitions", type=int, default=32)
    p.add_argument("--shard-dirs", type=int, default=0,
                   help="two-level output layout (see jobs/encode.py)")
    p.add_argument("--job-id", default="compact")
    p.add_argument("--drop-where", default=None,
                   help="retention sweep: SQL predicate over the decoded "
                        "columns; matching rows are dropped during the "
                        "re-encode (e.g. \"ts < timestamp'2023-01-01'\"). "
                        "NULL-evaluating rows are kept.")
    p.add_argument("--merge-schemas", action="store_true",
                   help="additive schema evolution: unify batches/epochs "
                        "whose extra columns differ (union schema, typed "
                        "zero-defaults for pre-evolution rows); type "
                        "CHANGES still fail loudly")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from vcf2df_spark.session import get_spark
    from vcf2df_spark.shipping import ensure_shipped

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(master=args.master, app_name=f"compact:{args.job_id}")
    ensure_shipped(spark)
    try:
        verdict = run_compact(
            spark, args.warehouse, args.out, args.partitions,
            args.shard_dirs, args.job_id, drop_where=args.drop_where,
            merge_schemas=args.merge_schemas,
        )
    finally:
        if owns_session:
            spark.stop()
    print(json.dumps(verdict))
    if verdict["status"] != "ok":
        sys.exit(2)


if __name__ == "__main__":
    main()
