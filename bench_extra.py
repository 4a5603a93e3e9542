"""Phase-isolation micro-bench (guide §1.4): noop-sink timings for each
stage of the bench pipeline, separating compute from sinks and from the
per-call planning/scheduling overhead. NOT the driver metric — bench.py
stays the frozen measurement surface; this file exists so OPTIMIZATION_r*
claims about where the time goes are reproducible.

    SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
        python bench_extra.py

Prints one JSON line with median-of-N timings for: the input scan, the
encode shuffle alone, the full encode (noop sink), the decode schema
derivation (Spark aggregate vs driver fast path), grouped decode, the
datasource scan, the verify signatures, and the routed rewrite pair.
"""

from __future__ import annotations

import json
import os
import shutil
import time


def timed(fn, n=5):
    fn()  # warm
    ts = []
    for _ in range(n):
        t0 = time.time()
        fn()
        ts.append(time.time() - t0)
    ts.sort()
    return round(ts[len(ts) // 2], 3)


def main() -> None:
    from pyspark.sql import functions as F

    import bench
    from vcf2df_spark import datasource
    from vcf2df_spark.decode import (
        _file_signatures, _spark_signatures, ctypes_from_signatures,
        decode_blocks,
    )
    from vcf2df_spark.encode import (
        encode_keyed, normalize_input, with_partition_key,
    )
    from vcf2df_spark.session import get_spark
    from vcf2df_spark.shipping import ensure_shipped
    from vcf2df_spark.verify import _signature, multiset_equal

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = bench._sf_from_dir(sf_dir)
    input_path = bench.bench_input(sf)
    partitions = max(32, int(cpus) * 2)
    wh = "/tmp/vcf2df_bench_extra_wh"

    spark = get_spark(master=f"local[{cpus}]", app_name="bench-extra",
                      shuffle_partitions=partitions)
    ensure_shipped(spark)
    sc = spark.sparkContext
    out: dict = {"sf": sf, "cpus": int(cpus)}

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    src = normalize_input(spark.read.parquet(input_path))
    out["rows"] = src.count()
    keyed = with_partition_key(src, partitions)

    sc.setJobDescription("extra: src scan")
    out["src_scan_noop_sec"] = timed(lambda: noop(src))
    sc.setJobDescription("extra: shuffle only")
    out["encode_shuffle_only_sec"] = timed(
        lambda: noop(keyed.repartition(partitions, "_pkey")))
    sc.setJobDescription("extra: encode noop")
    out["encode_noop_sec"] = timed(lambda: noop(encode_keyed(keyed)))

    shutil.rmtree(wh, ignore_errors=True)
    sc.setJobDescription("extra: encode write")
    t0 = time.time()
    encode_keyed(keyed).write.option("compression", "zstd").parquet(
        f"{wh}/blocks")
    out["encode_write_sec"] = round(time.time() - t0, 3)

    stored = spark.read.parquet(f"{wh}/blocks")
    sc.setJobDescription("extra: schema derivation (Spark aggregate)")
    out["schema_spark_job_sec"] = timed(
        lambda: ctypes_from_signatures(_spark_signatures(stored)))
    sc.setJobDescription("extra: schema derivation (driver fast path)")
    out["schema_fast_path_sec"] = timed(
        lambda: ctypes_from_signatures(_file_signatures(stored, None)))
    sc.setJobDescription("extra: grouped decode")
    out["decode_grouped_count_sec"] = timed(
        lambda: decode_blocks(stored).count())
    sc.setJobDescription("extra: datasource scan")
    out["decode_scan_count_sec"] = timed(
        lambda: datasource.read_warehouse(spark, wh).count())
    sc.setJobDescription("extra: signature src")
    out["signature_src_sec"] = timed(lambda: _signature(src))
    sc.setJobDescription("extra: verify (parallel signatures)")
    out["verify_sec"] = timed(
        lambda: multiset_equal(src, decode_blocks(stored)), n=3)
    sc.setJobDescription(None)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
