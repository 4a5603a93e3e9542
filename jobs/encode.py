"""Encode job: transcripts table -> encoded blocks + manifests.

The spark-submit entry point (north_rule form):

    spark-submit --py-files vcf2df_spark.zip jobs/encode.py \
        --input /path/transcripts.parquet --out /path/warehouse \
        --partitions 32 [--job-id JOB] [--fail-after K]

Reference analogue: the CLI conversion entry point ``vcf2df --vcf X --out D``
(``vcf2df.go:13-37`` -> ``converter/convert.go:17``), generalized to a
resumable, partition-parallel job. ``--fail-after`` injects a failure after
K partitions for the resume test (SURVEY.md §5.2-4).

Encode appends (SURVEY.md §4.3): it stages its partition dirs and the
manifests and publishes them with one journaled swap under the
warehouse's ``.rewrite_lock`` (vcf2df_spark/rewrite.py ``stage_and_swap``,
shared with delete and upsert). A committed partition the new rows hash
to is merged with them; a key already committed exits 5 like an in-input
duplicate (replacing rows is jobs/upsert.py's job), and a warehouse
written with another ``--partitions``/``--shard-dirs``, or input whose
columns differ from the committed schema, exits 2.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--format", default="parquet", choices=["parquet", "orc", "jsonl", "csv", "tsv"],
                   help="input format (jsonl = gzip-friendly line JSON, the "
                        "reference's gzip-text analogue)")
    p.add_argument("--out", required=True, help="warehouse dir: gets /blocks and /manifests")
    p.add_argument("--partitions", type=int, default=32)
    p.add_argument("--job-id", default="job-default")
    p.add_argument("--master", default=None)
    p.add_argument("--fail-after", type=int, default=None,
                   help="encode only the first K pending partitions, then exit(3)")
    p.add_argument("--shard-dirs", type=int, default=0,
                   help="two-level blocks layout: shard=partition_id%%N dirs "
                        "above the partition_id dirs. At ~400k partitions a "
                        "single directory level strains object-store "
                        "listings; N~1024 keeps every level small. Layout "
                        "only — chunk identity and all readers unchanged.")
    p.add_argument("--on-duplicates", choices=["fail", "quarantine"],
                   default="fail",
                   help="input invariant: (conv_id, turn_idx) must be unique. "
                        "fail -> exit(5); quarantine -> keep one copy per key, "
                        "write the rest to <out>/quarantine (reference analogue: "
                        "multi-allelic warning, parseVariant.go:16-18 — but loud). "
                        "A key the warehouse already holds exits 5 either way")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from vcf2df_spark import commit, manifest
    from vcf2df_spark.session import get_spark

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(master=args.master, app_name=f"encode:{args.job_id}")
    try:
        try:
            wh = commit.require_local(args.out, "warehouse").rstrip("/")
        except ValueError as e:
            # a remote warehouse cannot be locked or swapped: only a fresh
            # one (no manifests) gets a direct write
            if manifest.WarehouseMeta.load(args.out).exists:
                code, out = 2, {"job_id": args.job_id, "status": "error",
                                "error": str(e)}
            else:
                code, out = _encode(spark, args, args.out, None)
        else:
            os.makedirs(wh, exist_ok=True)
            try:
                with commit.locked(wh, ".rewrite_lock", ".rewrite_staging",
                                   args.job_id, "encode") as staging:
                    code, out = _encode(spark, args, wh, staging)
            except commit.LockHeldError as e:
                code, out = 2, {"job_id": args.job_id, "status": "error",
                                "error": str(e)}
    finally:
        if owns_session:
            spark.stop()
    print(json.dumps(out))
    if code:
        sys.exit(code)


def _encode(spark, args, wh: str, staging: str | None) -> tuple[int, dict]:
    """Encode ``args.input`` into warehouse ``wh`` through the staged write
    path (``staging`` None: direct write); (exit code, JSON line)."""
    from pyspark.errors import PythonException
    from pyspark.sql import functions as F

    from vcf2df_spark import manifest
    from vcf2df_spark.encode import DUPLICATE_KEYS, with_partition_key
    from vcf2df_spark.rewrite import RewriteError, stage_and_swap
    from vcf2df_spark.sources import read_transcripts

    t0 = time.time()
    # read under the lock: the manifests cannot change until the swap
    meta = manifest.WarehouseMeta.load(wh)
    shard_dirs = args.shard_dirs or None
    if meta.has_epoch or meta.mods - {args.partitions} \
            or meta.shards - {shard_dirs}:
        return 2, {"job_id": args.job_id, "status": "error", "error": (
            f"warehouse partitioner (num_partitions {sorted(meta.mods, key=str)}, "
            f"shard_dirs {sorted(meta.shards, key=str)}"
            f"{', streaming epochs' if meta.has_epoch else ''}) differs from "
            f"--partitions {args.partitions} --shard-dirs {args.shard_dirs}; "
            "encode into a warehouse with the same partitioner, or compact")}

    df = read_transcripts(spark, args.input, args.format)

    # input invariant (SURVEY.md §1.5 B3): (conv_id, turn_idx) unique.
    # fail (the default) is FUSED into the encode pass below — the UDF sees
    # each partition sorted by (conv_id, turn_idx) and raises on adjacent
    # duplicates, which aborts the staging write: one shuffle, one pass over
    # the input. quarantine must materialize the dropped rows, so only that
    # explicit repair mode pays for the windowed pre-pass.
    n_dup_rows = 0
    if args.on_duplicates == "quarantine":
        from pyspark.sql.window import Window

        wdup = Window.partitionBy("conv_id", "turn_idx").orderBy(
            F.unix_micros("ts"), F.md5("text")
        )
        ranked = df.withColumn("_rn", F.row_number().over(wdup))
        dupes = ranked.filter(F.col("_rn") > 1).drop("_rn")
        n_dup_rows = dupes.count()
        if n_dup_rows:
            dupes.write.mode("append").parquet(f"{wh}/quarantine")
            df = ranked.filter(F.col("_rn") == 1).drop("_rn")

    keyed = with_partition_key(df, args.partitions)

    # the committed set is materialized on the driver: it cuts the plan's
    # lineage to the manifests table the swap replaces
    committed_ids = meta.committed_ids(args.job_id)
    pending = keyed
    if committed_ids:
        # broadcast left-anti join, NOT an isin literal list: at the SCALE.md
        # design point (~400k partitions) an inlined isin is a multi-MB plan
        # and a slow analyzer pass; the anti-join ships one small table
        committed_df = spark.createDataFrame(
            [(int(i),) for i in committed_ids], "partition_id int"
        )
        pending = manifest.resume_filter(keyed, committed_df)

    # a partition that already holds committed rows is merged: its live
    # dir decodes into the same encode group as the new rows, so the fused
    # duplicate check also sees re-inserted keys. Learning which ones is
    # one small job; a fresh warehouse pays it only for --fail-after.
    merge: set = set()
    committed = set(meta.committed_ids())
    if committed or args.fail_after is not None:
        new_pids = sorted(r[0] for r in
                          pending.select("_pkey").distinct().collect())
        if args.fail_after is not None:
            new_pids = new_pids[:args.fail_after]
            keep = spark.createDataFrame([(p,) for p in new_pids], "_pkey int")
            pending = pending.join(F.broadcast(keep), "_pkey")
        merge = committed & set(new_pids)

    try:
        stats = stage_and_swap(
            spark, wh, staging, meta, merge, pending, args.job_id, args.input,
            args.partitions, shard_dirs,
            # after quarantine the input is unique: the check then fails
            # only a key the warehouse already holds (committed twice, it
            # would fail every later append that merges its partition)
            detect_dups=True,
        )
    except RewriteError as e:
        return 2, {"job_id": args.job_id, "status": "error", "error": str(e)}
    except PythonException as e:
        if DUPLICATE_KEYS not in str(e):
            raise
        # the error path alone pays for the exact count
        dup_total = int(
            pending.groupBy("conv_id", "turn_idx").count()
            .agg(F.sum(F.col("count") - 1)).collect()[0][0] or 0
        )
        out = {"job_id": args.job_id, "status": "invalid-input",
               "duplicate_rows": dup_total}
        if not dup_total:
            out["reinserted"] = (
                "the input repeats (conv_id, turn_idx) keys already in the "
                "warehouse; replace conversations with jobs/upsert.py")
        return 5, out
    if stats is None:
        return 0, {"job_id": args.job_id, "status": "noop",
                   "committed_before": len(committed_ids)}

    rows = stats["rows"] - stats["kept"]
    wall = time.time() - t0
    return (3 if args.fail_after is not None else 0), {
        "job_id": args.job_id,
        "status": "partial" if args.fail_after is not None else "ok",
        "committed_before": len(committed_ids),
        "partitions_encoded": stats["parts"],
        "partitions_merged": len(merge),
        "rows_encoded": rows,
        "raw_bytes": stats["raw"],
        "enc_bytes": stats["enc"],
        "ratio": round(stats["raw"] / max(stats["enc"], 1), 3),
        "quarantined_rows": n_dup_rows,
        # skew report: per-partition row counts of the fresh manifest rows
        "partition_max_over_mean": round(
            stats["max_rows"] / max(stats["mean_rows"], 1), 3),
        "wall_sec": round(wall, 2),
        "turns_per_sec": int(rows / wall),
    }


if __name__ == "__main__":
    main()
