"""Upsert job: replace (or insert) whole conversations in place.

    spark-submit --py-files vcf2df_spark.zip jobs/upsert.py \
        --warehouse /path/warehouse --input /path/corrected.parquet

Completes the point-write story the routed point read started
(scan.fetch_conversation): correcting one conversation used to be a
delete + re-encode-append under a second job id; this is ONE routed
staged rewrite (vcf2df_spark/rewrite.py, shared with jobs/delete.py).

Every conversation present in --input is replaced atomically-per-dir:
its old rows drop out, the input's rows take their place, and only the
partitions those conversations hash-route to are rewritten. A
conversation NOT yet in the warehouse inserts cleanly — the replacement
rows re-key through the same salted hash partitioner, so they land in
exactly the routed dirs. Reference analogue: re-running the CLI on a
corrected file (``converter/convert_test.go:25-31`` regenerates the whole
output); ours is partition-bounded.

Input contract: same as jobs/encode.py — the six core transcript columns
plus any typed extras, passed through ``encode.normalize_input``. The
input's columns and types must match the warehouse's: drift exits 2
(``"status": "error"``) before anything is staged.

Input rows must be unique on (conv_id, turn_idx), as for jobs/encode.py:
a repeated key exits 5 (``"status": "invalid-input"``) before anything
is staged.

Prints one JSON line: rows_deleted, rows_inserted, partitions_rewritten.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--warehouse", required=True)
    p.add_argument("--input", required=True,
                   help="parquet/jsonl.gz/csv with the replacement rows; "
                        "every conv_id present here is replaced in full")
    p.add_argument("--format", default="parquet",
                   choices=["parquet", "orc", "json", "jsonl", "csv", "tsv"])
    p.add_argument("--job-id", default=None)
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vcf2df_spark.rewrite import RewriteError, routed_rewrite
    from vcf2df_spark.session import get_spark
    from vcf2df_spark.shipping import ensure_shipped
    from vcf2df_spark.sources import read_transcripts

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(master=args.master, app_name="upsert")
    ensure_shipped(spark)
    t0 = time.time()

    # read_transcripts already routes through encode.normalize_input
    replacement = read_transcripts(spark, args.input, args.format)
    # the job that collects the conv ids also counts repeated keys: the
    # input invariant of jobs/encode.py, checked before anything is staged
    per_conv = replacement.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.size(F.collect_set("turn_idx")).alias("keys"),
    ).collect()
    conv_ids = sorted(r["conv_id"] for r in per_conv)
    dup_rows = sum(r["n"] - r["keys"] for r in per_conv)
    if dup_rows:
        print(json.dumps({"status": "invalid-input",
                          "duplicate_rows": int(dup_rows)}))
        if owns_session:
            spark.stop()
        sys.exit(5)
    if not conv_ids:
        print(json.dumps({"status": "noop", "rows_inserted": 0,
                          "wall_sec": round(time.time() - t0, 2)}))
        if owns_session:
            spark.stop()
        return
    job_id = args.job_id or "upsert-" + "-".join(conv_ids[:3])

    try:
        out = routed_rewrite(
            spark, args.warehouse, conv_ids, job_id,
            f"upsert:{args.input}", replacement=replacement,
        )
    except RewriteError as e:
        print(json.dumps({"status": "error", "error": str(e)}))
        sys.exit(2)
    finally:
        if owns_session:
            spark.stop()

    out["wall_sec"] = round(time.time() - t0, 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
