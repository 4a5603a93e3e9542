"""SparkSession factory with the engine's required configuration.

UTC session timezone + Arrow transfer are load-bearing: the bit-identity
contract for ``ts`` (compared as unix_micros int64, SURVEY.md §7 "hard
parts") must survive the JVM<->Python Arrow boundary in both directions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(master: str | None = None, app_name: str = "vcf2df_spark",
              shuffle_partitions: int = 32) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    return (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.adaptive.enabled", "true")
        # AQE's coalescing floor stays at its 1m default ON PURPOSE
        # (measured, r6): lowering it to 64k doubled the encode stage's
        # task count (18 -> 33 on the sf0.1 bench) but bought nothing —
        # after the FSST-trial fix the stage is JVM<->Arrow transfer
        # bound, not kernel bound — while the extra output files taxed
        # every later datasource read (one Python task per file, ~0.03-0.05
        # CPU-s each on warm workers) and cost 1.5% disk (page-zstd loses
        # cross-chunk sharing). Override via env
        # SPARK_GRAFT_AQE_MIN_PARTITION if a future kernel gets heavier.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "1m"),
        )
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .getOrCreate()
    )
