"""Encode job: transcripts table -> encoded blocks + manifests.

The spark-submit entry point (north_rule form):

    spark-submit --py-files vcf2df_spark.zip jobs/encode.py \
        --input /path/transcripts.parquet --out /path/warehouse \
        --partitions 32 [--job-id JOB] [--fail-after K]

Reference analogue: the CLI conversion entry point ``vcf2df --vcf X --out D``
(``vcf2df.go:13-37`` -> ``converter/convert.go:17``), generalized to a
resumable, partition-parallel job. ``--fail-after`` injects a failure after
K partitions for the resume test (SURVEY.md §5.2-4).
"""

from __future__ import annotations

import argparse
import json
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
    p.add_argument("--on-duplicates", choices=["fail", "quarantine", "ignore"],
                   default="fail",
                   help="input invariant: (conv_id, turn_idx) must be unique. "
                        "fail -> exit(5); quarantine -> keep one copy per key, "
                        "write the rest to <out>/quarantine (reference analogue: "
                        "multi-allelic warning, parseVariant.go:16-18 — but loud)")
    args = p.parse_args(argv)

    from pyspark.errors import PythonException
    from pyspark.sql import Observation, SparkSession
    from pyspark.sql import functions as F

    from vcf2df_spark import manifest
    from vcf2df_spark.encode import DUPLICATE_KEYS, encode_keyed, with_partition_key
    from vcf2df_spark.session import get_spark

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(master=args.master, app_name=f"encode:{args.job_id}")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    blocks_path = f"{args.out}/blocks"
    manifests_path = f"{args.out}/manifests"

    t0 = time.time()
    from vcf2df_spark.sources import read_transcripts

    df = read_transcripts(spark, args.input, args.format)

    # input invariant (SURVEY.md §1.5 B3): (conv_id, turn_idx) unique.
    # fail (the default) is FUSED into the encode pass below — the UDF sees
    # each partition sorted by (conv_id, turn_idx) and raises on adjacent
    # duplicates, which aborts the blocks write: one shuffle, one pass over
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
            dupes.write.mode("append").parquet(f"{args.out}/quarantine")
            df = ranked.filter(F.col("_rn") == 1).drop("_rn")

    keyed = with_partition_key(df, args.partitions)

    # materialize the committed set on the driver: cuts the plan's lineage to
    # the manifests table we append to below (self-referential read-write)
    committed_ids = manifest.committed_partitions(args.out, args.job_id)
    n_committed = len(committed_ids)
    pending = keyed
    if committed_ids:
        # broadcast left-anti join, NOT an isin literal list: at the SCALE.md
        # design point (~400k partitions) an inlined isin is a multi-MB plan
        # and a slow analyzer pass; the anti-join ships one small table
        committed_df = spark.createDataFrame(
            [(int(i),) for i in committed_ids], "partition_id int"
        )
        pending = manifest.resume_filter(keyed, committed_df)

    truncated = False
    if args.fail_after is not None:
        keep = (
            pending.select("_pkey").distinct().orderBy("_pkey")
            .limit(args.fail_after)
        )
        pending = pending.join(F.broadcast(keep), "_pkey", "inner")
        truncated = True

    # ONE pass, no cache: the stats ride the blocks write through observe()
    # (observed metrics reject DISTINCT: a partition is its chunk-0 conv_id
    # block), and the written partition ids scope the manifests read below
    detect = args.on_duplicates == "fail"
    is_conv = F.col("column") == "conv_id"
    obs = Observation("encode")
    blocks = encode_keyed(pending, detect_dups=detect).observe(
        obs,
        F.sum(F.when(is_conv, F.col("n_rows"))).alias("rows"),
        F.count(F.when(is_conv & (F.col("chunk_idx") == 0), 1)).alias("parts"),
        F.sum("raw_bytes").alias("raw"),
        F.sum("enc_bytes").alias("enc"),
        F.sort_array(F.collect_set("partition_id")).alias("pids"),
    )
    blocks, part_cols = manifest.with_layout(blocks, args.shard_dirs)
    try:
        # blocks first (idempotent per-partition overwrite), manifest commit
        # last. The dynamic-overwrite commit stages every dir and moves them
        # only at job commit, so a write aborted by duplicate keys leaves
        # the live blocks untouched.
        try:
            blocks.write.mode("overwrite").partitionBy(*part_cols).parquet(
                blocks_path
            )
        except PythonException as e:
            if DUPLICATE_KEYS not in str(e):
                raise
            # the error path alone pays for the exact count
            dup_total = (
                pending.groupBy("conv_id", "turn_idx").count()
                .agg(F.sum(F.col("count") - 1)).collect()[0][0]
            )
            print(json.dumps({"job_id": args.job_id, "status": "invalid-input",
                              "duplicate_rows": int(dup_total)}))
            sys.exit(5)
        stats = obs.get
        if not stats["pids"]:
            print(json.dumps({"job_id": args.job_id, "status": "noop",
                              "committed_before": n_committed}))
            return

        # manifests from exactly the dirs this run wrote: the encode UDF
        # never re-runs, and committed or foreign partitions are never read
        obs_m = Observation("manifests")
        manifest.build_manifests(
            manifest.read_blocks(spark, blocks_path, stats["pids"],
                                 args.shard_dirs or None),
            args.job_id, args.input, num_partitions=args.partitions,
            shard_dirs=args.shard_dirs or None,
        ).observe(
            obs_m, F.max("n_rows").alias("mx"), F.avg("n_rows").alias("mean")
        ).write.mode("append").parquet(manifests_path)
        # skew report: per-partition row counts from the manifest rows (free)
        psizes = obs_m.get
        balance = round(psizes["mx"] / max(psizes["mean"], 1), 3)
        rows = stats["rows"]
        wall = time.time() - t0
        print(json.dumps({
            "job_id": args.job_id,
            "status": "partial" if truncated else "ok",
            "committed_before": n_committed,
            "partitions_encoded": int(stats["parts"]),
            "rows_encoded": int(rows),
            "raw_bytes": int(stats["raw"]),
            "enc_bytes": int(stats["enc"]),
            "ratio": round(stats["raw"] / max(stats["enc"], 1), 3),
            "quarantined_rows": n_dup_rows,
            "partition_max_over_mean": balance,
            "wall_sec": round(wall, 2),
            "turns_per_sec": int(rows / wall),
        }))
        if truncated:
            sys.exit(3)
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    main()
