"""Physical-plan regression gates (fast subset of tools/plans_audit.py):
the properties the 100-TB design depends on must hold in CI, not just in
the manually-regenerated PLANS.md."""

from __future__ import annotations

import re

from vcf2df_spark import fixtures
from vcf2df_spark.encode import encode_transcripts

SF = "/root/testdata/sf0.001"


def _fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _nodes(plan: str, name: str) -> int:
    return len(re.findall(rf"\(\d+\) {name}\b", plan))


def test_encode_moves_data_exactly_once(spark):
    src = spark.createDataFrame(fixtures.transcripts_tiny())
    p = _fmt(encode_transcripts(src, num_partitions=2))
    assert _nodes(p, "Exchange") == 1
    assert "FlatMapGroupsInArrow" in p


def test_simhash_is_shuffle_free(spark):
    from vcf2df_spark.operators.textops import q_simhash

    p = _fmt(q_simhash(spark, SF))
    assert _nodes(p, "Exchange") == 0


def test_filter_pushdown_reaches_scan(spark):
    from vcf2df_spark.operators.relational import q_filter_pushdown

    p = _fmt(q_filter_pushdown(spark, SF))
    assert "PushedFilters: [" in p
    assert re.search(r"ReadSchema:.*l_quantity.*l_extendedprice.*l_discount", p)


def test_broadcast_join_no_smj(spark):
    from vcf2df_spark.operators.relational import q_join_broadcast

    p = _fmt(q_join_broadcast(spark, SF))
    assert _nodes(p, "BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in p


def test_near_dup_embeddings_no_nested_loop(spark):
    from vcf2df_spark.operators.textops import q_embedding_near_dup

    p = _fmt(q_embedding_near_dup(spark, SF))
    assert "NestedLoop" not in p


def test_topk_take_ordered(spark):
    from vcf2df_spark.operators.relational import q_topk

    p = _fmt(q_topk(spark, SF))
    assert "TakeOrderedAndProject" in p


def test_resume_filter_is_broadcast_anti_join(spark):
    # the encode job's resume path (jobs/encode.py) must compile to a
    # broadcast LEFT ANTI join, never an isin literal list — at ~400k
    # committed partitions an inlined isin is a multi-MB plan
    from vcf2df_spark.encode import with_partition_key
    from vcf2df_spark.manifest import resume_filter

    src = spark.createDataFrame(fixtures.transcripts_tiny())
    keyed = with_partition_key(src, 8)
    committed = spark.createDataFrame([(i,) for i in range(3)], "partition_id int")
    p = _fmt(resume_filter(keyed, committed))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_datasource_read_is_shuffle_free(spark, tmp_path):
    from vcf2df_spark import datasource

    src = spark.createDataFrame(fixtures.transcripts_tiny())
    wh = str(tmp_path / "pwh")
    encode_transcripts(src, num_partitions=2).write.partitionBy(
        "partition_id"
    ).parquet(f"{wh}/blocks")

    p = _fmt(datasource.read_warehouse(spark, wh))
    assert "BatchScan transcripts" in p and "Exchange" not in p

    p = _fmt(datasource.scan_warehouse(spark, wh, "turn_idx >= 1"))
    assert "BatchScan transcripts_pruned" in p and "Exchange" not in p
    # the predicate must survive in the plan: pruning is conservative,
    # exactness is Catalyst's re-applied Filter
    assert _nodes(p, "Filter") == 1


def test_rewrite_input_decodes_in_place(spark, tmp_path):
    """The staged rewrite's input (rewrite.stage_and_swap): the datasource
    read restricted to the merged partitions is a BatchScan with zero
    Exchange, and the staged encode over it (ids dropped, new rows
    unioned, re-keyed) moves data exactly once."""
    import os

    from vcf2df_spark import datasource
    from vcf2df_spark.encode import (
        encode_keyed, normalize_input, with_partition_key,
    )
    from vcf2df_spark.rewrite import _without_ids

    src = normalize_input(spark.createDataFrame(fixtures.transcripts_tiny()))
    wh = str(tmp_path / "rwh")
    encode_transcripts(src, num_partitions=4).write.partitionBy(
        "partition_id"
    ).parquet(f"{wh}/blocks")
    pids = sorted(int(d.split("=")[1]) for d in os.listdir(f"{wh}/blocks")
                  if d.startswith("partition_id="))[:2]

    dec = datasource.read_warehouse(spark, wh, partition_ids=pids)
    p = _fmt(dec)
    assert "BatchScan transcripts" in p and _nodes(p, "Exchange") == 0

    kept = with_partition_key(_without_ids(spark, dec, ["absent"]), 4)
    p = _fmt(encode_keyed(kept.unionByName(with_partition_key(src, 4))))
    assert _nodes(p, "Exchange") == 1
    assert "FlatMapGroupsInArrow" in p


def test_decode_verify_reads_blocks_once(spark, tmp_path):
    """decode_verify on a batch warehouse: the verified datasource read is
    its one BatchScan of the blocks, and no parquet scan of blocks/
    (the old checksum recompute) appears in any of its plans."""
    from jobs.decode_verify import verify_frames
    from vcf2df_spark.datasource import VERIFY_COLUMNS
    from vcf2df_spark.manifest import (
        WarehouseMeta, build_manifests, read_blocks,
    )
    from vcf2df_spark.verify import signature_frame

    pdf = fixtures.transcripts_tiny()
    wh, src_path = str(tmp_path / "vwh"), str(tmp_path / "src.parquet")
    fixtures.write_parquet(pdf, src_path)
    encode_transcripts(spark.createDataFrame(pdf), num_partitions=2) \
        .write.partitionBy("partition_id").parquet(f"{wh}/blocks")
    build_manifests(read_blocks(spark, f"{wh}/blocks"), "p", src_path) \
        .write.parquet(f"{wh}/manifests")

    decoded, source, expected = verify_frames(
        spark, wh, src_path, WarehouseMeta.load(wh))
    assert expected == 2
    p = _fmt(signature_frame(decoded, VERIFY_COLUMNS))
    assert _nodes(p, "BatchScan transcripts") == 1
    for plan in (p, _fmt(signature_frame(source))):
        assert not [l for l in plan.splitlines()
                    if "Location" in l and "/blocks" in l]
