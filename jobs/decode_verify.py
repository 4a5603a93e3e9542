"""Decode-verify job: blocks + manifests -> reconstructed table -> verdict.

    spark-submit --py-files vcf2df_spark.zip jobs/decode_verify.py \
        --warehouse /path/warehouse --source /path/transcripts.parquet

Reference analogue: the independent re-read verification loop
(``converter/convert_test.go:63-97``) as a first-class job: decode every
block, reassemble under stable (conv_id, turn_idx) ordering, and compare
every column bit-identical to the source (ts as unix_micros int64 — the
north_rule per-turn text-equality invariant plus full bit identity).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


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
    from vcf2df_spark.datasource import read_warehouse
    from vcf2df_spark.encode import normalize_input
    from vcf2df_spark.session import get_spark

    from pyspark.sql import SparkSession

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(master=args.master, app_name="decode_verify")
    t0 = time.time()

    meta = manifest_mod.WarehouseMeta.load(args.warehouse)
    blocks = spark.read.parquet(f"{args.warehouse}/blocks")
    # shuffle-free datasource read; also asserts chunk-group completeness
    decoded = read_warehouse(spark, args.warehouse)
    source = normalize_input(spark.read.parquet(args.source))

    # manifest integrity: recompute each partition's content checksum from
    # the stored blocks and compare it to every manifest row of that
    # partition. Only a warehouse without manifests (e.g. a bench
    # warehouse) skips the check (-1); any other error fails the job.
    checksum_mismatches = -1
    column_desc = None
    if meta.exists:
        column_desc = meta.column_desc()  # self-describing output
        recomputed = dict(
            manifest_mod.build_manifests(blocks, "verify", args.source)
            .select("partition_id", "checksum").collect()
        )
        checksum_mismatches = sum(
            1 for pid, committed in meta.checksums()
            if pid in recomputed and recomputed[pid] != committed
        )

    if args.deep:
        # exact: column SETS must match (a warehouse missing a whole column
        # must not verify), then exceptAll in both directions is empty
        # (timestamps compared as unix_micros)
        cols_equal = set(decoded.columns) == set(source.columns)
        common = sorted(set(decoded.columns) & set(source.columns))

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
        n_dec = d.count()
        rows_equal = (cols_equal and missing == 0 and extra == 0
                      and n_src == n_dec)
    else:
        from vcf2df_spark.verify import multiset_equal

        res = multiset_equal(source, decoded)
        n_src, n_dec = res["rows_left"], res["rows_right"]
        rows_equal = res["equal"]
        missing = extra = 0 if rows_equal else -1
    ok = rows_equal and checksum_mismatches <= 0

    print(json.dumps({
        "status": "bit-identical" if ok else "MISMATCH",
        "rows_source": n_src,
        "rows_decoded": n_dec,
        "rows_missing": missing,
        "rows_extra": extra,
        "manifest_checksum_mismatches": checksum_mismatches,
        "column_desc": column_desc,
        "wall_sec": round(time.time() - t0, 2),
    }))
    if owns_session:
        spark.stop()
    if not ok:
        sys.exit(4)


if __name__ == "__main__":
    main()
