"""Engine-through oracle queries: run the REAL compression engine
(encode -> blocks -> decode) inside a driver-checked query.

``dynamic_roundtrip`` derives an extended transcript table (6 core columns
plus a double, a bool, a low-cardinality string and an int64 — the
reference's arbitrary-INFO-columns shape, ``converter/schema.go:17-107``)
from the events table, pushes it through encode_transcripts/decode_blocks,
and emits order-insensitive per-column checksums over the DECODED rows.
The DuckDB oracle computes identical checksums over the same derived table
directly — so the oracle check passes iff the engine's round-trip is
bit-identical on every column including the dynamic extras.

Checksums are sums of 56-bit md5 prefixes modulo a 31-bit prime (no
HUGEINT/overflow divergence; rendering is printf-compatible on both
engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_P = 2_147_483_629  # sums stay far below int64 even at sf1


def _derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        F.format_string("u%06d", "user_id").alias("conv_id"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .cast("int")
        .alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.lit("").alias("tool"),
        F.col("ts"),
        F.coalesce("value", F.lit(0.0)).alias("score"),
        F.coalesce(F.col("value") > 250, F.lit(False)).alias("flagged"),
        F.upper(F.substring("event_type", 1, 1)).alias("klass"),
        F.coalesce(
            F.get_json_object("props", "$.k").cast("int"), F.lit(0)
        ).cast("long").alias("knum"),
    )


def _h(col) -> F.Column:
    """Order-insensitive column checksum, DuckDB-reproducible."""
    h56 = F.conv(F.substring(F.md5(col), 1, 14), 16, 10).cast("long")
    return F.sum(F.pmod(h56, F.lit(_P)))


def q_dynamic_roundtrip(spark, sf_dir):
    from vcf2df_spark.decode import decode_blocks
    from vcf2df_spark.encode import encode_transcripts
    from vcf2df_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # epoch_us parity
    blocks = encode_transcripts(_derived(spark, sf_dir), num_partitions=8)
    dec = decode_blocks(blocks)
    return dec.agg(
        F.count("*").alias("n_rows"),
        _h(F.col("conv_id")).alias("h_conv"),
        _h(F.col("turn_idx").cast("string")).alias("h_turn"),
        _h(F.col("role")).alias("h_role"),
        _h(F.col("text")).alias("h_text"),
        _h(F.unix_micros("ts").cast("string")).alias("h_ts"),
        _h(F.format_string("%.6f", "score")).alias("h_score"),
        _h(F.when(F.col("flagged"), "1").otherwise("0")).alias("h_flagged"),
        _h(F.col("klass")).alias("h_klass"),
        _h(F.col("knum").cast("string")).alias("h_knum"),
    )


def q_scan_pruned(spark, sf_dir):
    """Engine-through scan, pruned against unpruned, both against one
    oracle: encode the derived table, then (a) the unpruned reference —
    every chunk of the in-memory blocks decoded, the exact filter applied
    after — and (b) the pruned read — a turn_idx range AND an f64
    extra-column range pushed through the ``transcripts_pruned`` Python
    DataSource over the written warehouse (task-side zone-map pruning via
    the order-preserving f64 key, shuffle-free decode, Spark re-applies
    the filters exactly). Checksums of both answers in one row; the oracle
    recomputes the filter on the derived table directly and aliases each
    checksum twice — equality proves pruning drops no qualifying row and
    both paths decode bit-exactly."""
    import re
    import shutil

    from vcf2df_spark.datasource import scan_warehouse
    from vcf2df_spark.decode import decode_blocks
    from vcf2df_spark.encode import encode_transcripts
    from vcf2df_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # small chunks -> several chunks per partition -> pruning is real
    blocks = encode_transcripts(
        _derived(spark, sf_dir), num_partitions=8, chunk_rows=512
    ).cache()

    def _sums(df):
        return df.agg(
            F.count("*").alias("n_rows"),
            _h(F.col("conv_id")).alias("h_conv"),
            _h(F.col("turn_idx").cast("string")).alias("h_turn"),
            _h(F.col("role")).alias("h_role"),
            _h(F.format_string("%.6f", "score")).alias("h_score"),
        )

    # (a) unpruned reference: every chunk of the in-memory blocks
    dec = decode_blocks(
        blocks, columns=["conv_id", "turn_idx", "role", "score"]
    )
    hit = dec.filter(
        (F.col("turn_idx") >= 2) & (F.col("turn_idx") <= 5)
        & (F.col("score") >= 100.0) & (F.col("score") <= 300.0)
    )

    # (b) pruned: Catalyst pushdown over the written warehouse (hive layout);
    # fixed sf-keyed path, rebuilt per run (idempotent)
    wh = "/tmp/vcf2df_scanpruned_" + re.sub(r"\W", "_", sf_dir.strip("/"))
    shutil.rmtree(wh, ignore_errors=True)
    blocks.write.partitionBy("partition_id").parquet(f"{wh}/blocks")
    ds_hit = scan_warehouse(
        spark, wh,
        predicate=[
            "turn_idx >= 2", "turn_idx <= 5",
            "score >= 100.0", "score <= 300.0",
        ],
        columns=["conv_id", "turn_idx", "role", "score"],
    )
    out = _sums(hit).crossJoin(
        _sums(ds_hit).select(
            F.col("n_rows").alias("n_rows_ds"),
            F.col("h_conv").alias("h_conv_ds"),
            F.col("h_turn").alias("h_turn_ds"),
            F.col("h_role").alias("h_role_ds"),
            F.col("h_score").alias("h_score_ds"),
        )
    )
    return out


QUERIES = {
    "dynamic_roundtrip": q_dynamic_roundtrip,
    "scan_pruned": q_scan_pruned,
}

_HASH = "cast(concat('0x', substr(md5({x}), 1, 14)) as bigint)"


def _sql_h(x: str) -> str:
    return f"CAST(sum({_HASH.format(x=x)} % {_P}) AS BIGINT)"


ORACLES = {
    # the oracle never sees the engine: it recomputes the derived table and
    # hashes it directly; equality proves the encode->decode loop is exact
    "dynamic_roundtrip": f"""
        WITH t AS (
            SELECT printf('u%06d', user_id) AS conv_id,
                   CAST(row_number() OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id)
                        AS INTEGER) AS turn_idx,
                   event_type AS role,
                   props AS text,
                   ts,
                   coalesce(value, 0.0) AS score,
                   coalesce(value > 250, false) AS flagged,
                   upper(substr(event_type, 1, 1)) AS klass,
                   CAST(coalesce(CAST(json_extract_string(props, '$.k')
                                      AS INTEGER), 0) AS BIGINT) AS knum
            FROM events
        )
        SELECT count(*) AS n_rows,
               {_sql_h("conv_id")} AS h_conv,
               {_sql_h("CAST(turn_idx AS VARCHAR)")} AS h_turn,
               {_sql_h("role")} AS h_role,
               {_sql_h("text")} AS h_text,
               {_sql_h("CAST(epoch_us(ts) AS VARCHAR)")} AS h_ts,
               {_sql_h("printf('%.6f', score)")} AS h_score,
               {_sql_h("CASE WHEN flagged THEN '1' ELSE '0' END")} AS h_flagged,
               {_sql_h("klass")} AS h_klass,
               {_sql_h("CAST(knum AS VARCHAR)")} AS h_knum
        FROM t
    """,
    "scan_pruned": f"""
        WITH t AS (
            SELECT printf('u%06d', user_id) AS conv_id,
                   CAST(row_number() OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id)
                        AS INTEGER) AS turn_idx,
                   event_type AS role,
                   coalesce(value, 0.0) AS score
            FROM events
        )
        SELECT count(*) AS n_rows,
               {_sql_h("conv_id")} AS h_conv,
               {_sql_h("CAST(turn_idx AS VARCHAR)")} AS h_turn,
               {_sql_h("role")} AS h_role,
               {_sql_h("printf('%.6f', score)")} AS h_score,
               count(*) AS n_rows_ds,
               {_sql_h("conv_id")} AS h_conv_ds,
               {_sql_h("CAST(turn_idx AS VARCHAR)")} AS h_turn_ds,
               {_sql_h("role")} AS h_role_ds,
               {_sql_h("printf('%.6f', score)")} AS h_score_ds
        FROM t
        WHERE turn_idx >= 2 AND turn_idx <= 5
          AND score >= 100.0 AND score <= 300.0
    """,
}
