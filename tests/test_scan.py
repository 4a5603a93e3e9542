"""Zone-map chunk pruning + column-pruned decode tests."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from vcf2df_spark import fixtures, scan
from vcf2df_spark.decode import decode_blocks
from vcf2df_spark.encode import encode_transcripts


def _warehouse(spark, tmp_path):
    # small chunks -> many sorted chunks per partition -> zone maps can
    # prune within each hash partition (at production scale 64k-row chunks
    # play the same role inside multi-GB partitions)
    src = fixtures.transcripts_small(n_convs=500)
    blocks = encode_transcripts(
        spark.createDataFrame(src), num_partitions=4, chunk_rows=256
    )
    path = str(tmp_path / "wh")
    blocks.write.parquet(f"{path}/blocks")
    return src, path


def test_conv_id_range_scan_prunes_and_matches(spark, tmp_path):
    src, wh = _warehouse(spark, tmp_path)
    blocks = spark.read.parquet(f"{wh}/blocks")
    total_chunks = blocks.select("partition_id", "chunk_idx").distinct().count()

    rng = ("conv-00000100", "conv-00000120")
    qual = scan.qualifying_chunks(blocks, conv_id_range=rng).count()
    assert qual < total_chunks, "zone maps must prune some chunks"

    got = (
        scan.scan_transcripts(spark, wh, conv_id_range=rng)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        src[(src.conv_id >= rng[0]) & (src.conv_id <= rng[1])]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert (got["text"].to_numpy() == want["text"].to_numpy()).all()


def test_ts_range_scan_matches(spark, tmp_path):
    src, wh = _warehouse(spark, tmp_path)
    lo = pd.Timestamp("2026-03-01")
    hi = pd.Timestamp("2026-03-15")
    got = scan.scan_transcripts(
        spark, wh, columns=["conv_id", "turn_idx", "ts"],
        ts_range=(lo.to_pydatetime(), hi.to_pydatetime()),
    ).toPandas()
    src_us = src["ts"].astype("datetime64[us]").astype("int64")
    mask = (src_us >= lo.value // 1000) & (src_us <= hi.value // 1000)
    assert len(got) == int(mask.sum()) > 0
    assert list(got.columns) == ["conv_id", "turn_idx", "ts"]


def test_column_pruned_decode(spark, tmp_path):
    src, wh = _warehouse(spark, tmp_path)
    blocks = spark.read.parquet(f"{wh}/blocks")
    out = decode_blocks(blocks, columns=["conv_id", "role"])
    pdf = out.toPandas()
    assert list(pdf.columns) == ["conv_id", "role"]
    assert len(pdf) == len(src)
    # pruned plan shuffles only the requested columns' block rows
    assert (
        blocks.filter(F.col("column").isin(["conv_id", "role"])).count()
        == blocks.count() // 3
    )


def test_turn_idx_pruning(spark, tmp_path):
    src, wh = _warehouse(spark, tmp_path)
    got = scan.scan_transcripts(
        spark, wh, columns=["conv_id", "turn_idx"], turn_idx_range=(150, None)
    ).toPandas()
    want = src[src.turn_idx >= 150]
    assert len(got) == len(want)


def test_sql_view_over_encoded_warehouse(spark, tmp_path):
    src, wh = _warehouse(spark, tmp_path)
    scan.register_transcript_view(spark, wh, "t_view")
    out = spark.sql(
        "SELECT role, count(*) AS n FROM t_view GROUP BY role"
    ).toPandas().set_index("role")["n"]
    want = src.groupby("role").size()
    assert out.sort_index().equals(want.sort_index())


def test_fetch_conversation_point_lookup(spark, tmp_path):
    src, wh = _warehouse(spark, tmp_path)
    target = "conv-00000042"
    got = scan.fetch_conversation(spark, wh, target)
    want = (
        src[src.conv_id == target]
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert (got["text"].to_numpy() == want["text"].to_numpy()).all()
    assert (got["turn_idx"].to_numpy() == want["turn_idx"].to_numpy()).all()
    gts = got["ts"].astype("datetime64[us]").astype("int64").to_numpy()
    wts = want["ts"].astype("datetime64[us]").astype("int64").to_numpy()
    assert (gts == wts).all()
    # missing conversation -> empty frame, not an error
    assert len(scan.fetch_conversation(spark, wh, "conv-99999999")) == 0


def _ext_warehouse(spark, tmp_path):
    src = fixtures.transcripts_extended(n_convs=300)
    blocks = encode_transcripts(
        spark.createDataFrame(src.drop(columns=["tags"])),
        num_partitions=4, chunk_rows=256,
    )
    path = str(tmp_path / "whext")
    blocks.write.parquet(f"{path}/blocks")
    return src.drop(columns=["tags"]), path


def test_f64_zone_maps_prune_and_match(spark, tmp_path):
    # dynamic-column zone maps (round-3): a range on the f64 extra must
    # prune chunks via the order-preserving key AND return exact rows
    src, wh = _ext_warehouse(spark, tmp_path)
    blocks = spark.read.parquet(f"{wh}/blocks")
    total = blocks.select("partition_id", "chunk_idx").distinct().count()

    rng = (4.9, 5.0)  # top sliver of the uniform [0, 5) score
    qual = scan.qualifying_chunks(blocks, col_ranges={"score": rng}).count()
    assert qual <= total  # pruning is best-effort; correctness is exact:

    got = (
        scan.scan_transcripts(spark, wh, columns=["conv_id", "turn_idx", "score"],
                              col_ranges={"score": rng})
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    want = (
        src[(src["score"] >= rng[0]) & (src["score"] <= rng[1])]
        [["conv_id", "turn_idx", "score"]]
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # and a range matching nothing prunes EVERY chunk
    assert scan.qualifying_chunks(blocks, col_ranges={"score": (9.0, 99.0)}).count() == 0


def test_bool_and_int_extra_zone_maps(spark, tmp_path):
    src, wh = _ext_warehouse(spark, tmp_path)
    blocks = spark.read.parquet(f"{wh}/blocks")
    # bool stats: all-False chunks must be pruned for flagged=True
    qual_true = scan.qualifying_chunks(blocks, col_ranges={"flagged": (True, True)})
    stats = blocks.filter(F.col("column") == "flagged")
    all_false = stats.filter(F.col("stat_max_num") == 0).count()
    assert qual_true.count() + all_false == stats.count()
    # int64 extra stats recorded and usable
    got = (
        scan.scan_transcripts(spark, wh, columns=["conv_id", "turn_idx"],
                              col_ranges={"tokens_out": (0, 10)})
        .count()
    )
    want = int((src["tokens_out"] <= 10).sum())
    assert got == want


def test_string_extra_zone_maps(spark, tmp_path):
    src, wh = _ext_warehouse(spark, tmp_path)
    blocks = spark.read.parquet(f"{wh}/blocks")
    # low-cardinality string extra carries lexical min/max
    stats = blocks.filter(F.col("column") == "model")
    assert stats.filter(F.col("stat_min_str").isNull()).count() == 0
    got = scan.scan_transcripts(
        spark, wh, columns=["conv_id", "turn_idx", "model"],
        col_ranges={"model": ("m-turbo", "m-turbo")},
    ).count()
    assert got == int((src["model"] == "m-turbo").sum())
    # long-text columns stay null (the width guard) — pruning is optional
    tx = blocks.filter(F.col("column") == "text")
    assert tx.filter(F.col("stat_min_str").isNotNull()).count() == 0


def test_fetch_conversation_zero_match_keeps_extended_schema(spark, tmp_path):
    # ADVICE r2: the zero-match path must carry the warehouse's actual
    # column set (extras included), not a hardcoded core six
    _, wh = _ext_warehouse(spark, tmp_path)
    out = scan.fetch_conversation(spark, wh, "conv-does-not-exist")
    assert len(out) == 0
    assert list(out.columns) == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        "flagged", "model", "score", "tokens_out",
    ]


def test_spark_xxhash64_parity(spark):
    """The Python partition router must match Spark's xxhash64 bit-for-bit
    — it is how point lookups compute their partition dirs."""
    from vcf2df_spark.sparkhash import pkey_for, spark_xxhash64

    rows = [("", 0), ("conv-00000042", 3), ("héllo wörld ☃", 12345),
            ("x" * 100, 7), ("abcdefgh", 0), ("abcd", 1), ("a" * 33, 9)]
    got = spark.createDataFrame(rows, "c string, s int").select(
        F.xxhash64("c", "s").alias("h"),
        F.pmod(F.xxhash64("c", "s"), F.lit(16)).cast("int").alias("p"),
    ).collect()
    for (c, s), r in zip(rows, got):
        assert spark_xxhash64(c, s) == r.h
        assert pkey_for(c, s, 16) == r.p


def test_fetch_conversation_hash_routed_partition_pruning(spark, tmp_path):
    """Job-shaped warehouse (hive dirs + manifests): the lookup COMPUTES
    its partition from the manifests' routing metadata (num_partitions +
    turn_max) — one dir per 256-turn split — and launches no Spark job."""
    from vcf2df_spark import manifest

    src = fixtures.transcripts_small(n_convs=400)
    blocks = encode_transcripts(
        spark.createDataFrame(src), num_partitions=8, chunk_rows=256
    ).cache()
    wh = str(tmp_path / "mwh")
    blocks.write.partitionBy("partition_id").parquet(f"{wh}/blocks")
    manifest.build_manifests(
        blocks, "t", "src", num_partitions=8
    ).write.parquet(f"{wh}/manifests")
    blocks.unpersist()

    target = "conv-00000123"
    pids = manifest.WarehouseMeta.load(wh).route([target])[0]
    # fixture convs are < 256 turns -> exactly one split -> one partition
    assert pids is not None and len(pids) == 1
    got = scan.fetch_conversation(spark, wh, target)
    want = src[src.conv_id == target].sort_values("turn_idx")
    assert len(got) == len(want) > 0
    assert (got["text"].to_numpy() == want["text"].to_numpy()).all()
    # manifests without routing metadata fall back to conv ranges (all 8
    # under hash layout — conservative, never wrong)
    manifest.build_manifests(blocks, "t2", "src").write.mode("overwrite").parquet(
        f"{wh}/manifests"
    )
    pids_range = manifest.WarehouseMeta.load(wh).route([target])[0]
    assert pids_range == list(range(8))
    # warehouses without manifests (bench/test layout) degrade gracefully
    nope = manifest.WarehouseMeta.load(str(tmp_path / "nope"))
    assert nope.route([target])[0] is None
