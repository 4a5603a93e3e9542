"""Decode-verify job: blocks + manifests -> reconstructed table -> verdict.

    spark-submit --py-files vcf2df_spark.zip jobs/decode_verify.py \
        --warehouse /path/warehouse --source /path/transcripts.parquet

Reference analogue: the independent re-read verification loop
(``converter/convert_test.go:63-97``) as a first-class job: decode every
block, reassemble under stable (conv_id, turn_idx) ordering, and compare
every column bit-identical to the source (ts as unix_micros int64 — the
north_rule per-turn text-equality invariant plus full bit identity).

Each side is read once. The decode is the verified datasource read: a
scan task holds one partition's files (``TranscriptReader.plan``), so it
recomputes the manifest checksum of each partition from the block rows it
already holds and counts the mismatches, which ride the decoded side's
signature aggregate. Every manifest row of a partition that has blocks is
compared exactly once; any other count fails the job. A single-file source
plans its schema from the parquet footer. On a batch, flat or streaming
warehouse that is 4 Spark jobs: the two signature aggregates.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def verify_frames(spark, warehouse: str, source: str, meta):
    """(decoded, source, expected): the verified read of the blocks (its
    tally columns only when ``meta`` exists), the normalized source, and
    how many manifest rows its scan tasks must compare."""
    from vcf2df_spark.datasource import planned_comparisons, read_warehouse
    from vcf2df_spark.sources import read_transcripts

    decoded = read_warehouse(spark, warehouse, verify_checksums=meta.exists)
    expected = planned_comparisons(warehouse, meta) if meta.exists else 0
    return decoded, read_transcripts(spark, source), expected


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--warehouse", required=True)
    p.add_argument("--source", required=True)
    p.add_argument("--master", default=None)
    p.add_argument("--deep", action="store_true",
                   help="exact exceptAll comparison (two full-data shuffles) "
                        "instead of the O(1)-shuffle multiset signature")
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from vcf2df_spark import manifest as manifest_mod
    from vcf2df_spark.datasource import VERIFY_COLUMNS
    from vcf2df_spark.session import get_spark

    from pyspark.sql import SparkSession

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(master=args.master, app_name="decode_verify")
    t0 = time.time()

    # manifest integrity: every manifest row of a partition that has
    # blocks is compared with the checksum recomputed from them. Only a
    # warehouse without manifests (e.g. a bench warehouse) skips the
    # check (-1); any other error fails the job.
    meta = manifest_mod.WarehouseMeta.load(args.warehouse)
    decoded, source, expected = verify_frames(
        spark, args.warehouse, args.source, meta)
    tallies = VERIFY_COLUMNS if meta.exists else ()

    if args.deep:
        # exact: column SETS must match (a warehouse missing a whole column
        # must not verify), then exceptAll in both directions is empty
        # (timestamps compared as unix_micros)
        data_cols = set(decoded.columns) - set(tallies)
        cols_equal = data_cols == set(source.columns)
        common = sorted(data_cols & set(source.columns))

        def canon(df):
            from pyspark.sql import types as T

            from vcf2df_spark.functions import f64_bits
            from vcf2df_spark.shipping import ensure_shipped

            ensure_shipped(df.sparkSession)
            exprs = []
            for name in common:
                dt = df.schema[name].dataType
                if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
                    exprs.append(F.unix_micros(name).alias(f"{name}_us"))
                elif isinstance(dt, (T.DoubleType, T.FloatType)):
                    # raw bit pattern: exceptAll canonicalizes NaN payloads
                    # and -0.0, which would mask codec bit corruption
                    exprs.append(
                        f64_bits(F.col(name).cast("double")).alias(f"{name}_bits")
                    )
                else:
                    exprs.append(F.col(name))
            return df.select(*exprs)

        d, s = canon(decoded), canon(source)
        missing = s.exceptAll(d).count()
        extra = d.exceptAll(s).count()
        n_src = s.count()
        counts = decoded.select(
            F.count("*").alias("n"),
            *[F.coalesce(F.sum(c), F.lit(0)).alias(c) for c in tallies],
        ).collect()[0]
        n_dec, sums = counts.n, {c: counts[c] for c in tallies}
        rows_equal = (cols_equal and missing == 0 and extra == 0
                      and n_src == n_dec)
    else:
        from vcf2df_spark.verify import multiset_equal

        res = multiset_equal(source, decoded, sums=tallies)
        n_src, n_dec, sums = res["rows_left"], res["rows_right"], res["sums"]
        rows_equal = res["equal"]
        missing = extra = 0 if rows_equal else -1

    checksum_mismatches = compared = -1
    column_desc = None
    if meta.exists:
        column_desc = meta.column_desc()  # self-describing output
        if sums[VERIFY_COLUMNS[1]] != expected:
            raise RuntimeError(
                f"checksum check incomplete: the scan compared "
                f"{sums[VERIFY_COLUMNS[1]]} of the {expected} manifest rows "
                "it planned (a partition spread over several scan tasks, "
                "or a task that decoded no row)"
            )
        checksum_mismatches, compared = sums[VERIFY_COLUMNS[0]], expected
    ok = rows_equal and checksum_mismatches <= 0

    print(json.dumps({
        "status": "bit-identical" if ok else "MISMATCH",
        "rows_source": n_src,
        "rows_decoded": n_dec,
        "rows_missing": missing,
        "rows_extra": extra,
        "manifest_checksum_mismatches": checksum_mismatches,
        "manifest_rows_compared": compared,
        "column_desc": column_desc,
        "wall_sec": round(time.time() - t0, 2),
    }))
    if owns_session:
        spark.stop()
    if not ok:
        sys.exit(4)


if __name__ == "__main__":
    main()
