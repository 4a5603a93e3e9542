"""Regenerate PLANS.md: physical-plan audit from live plans.

    python tools/plans_audit.py   # rewrites PLANS.md

Each section asserts the property the 100-TB design depends on (pushdown,
broadcast, single Exchange, Exchange-free simhash, hash join on bucket),
so a plan regression fails loudly here before it costs a cluster-hours
regression in production.
"""

from __future__ import annotations

import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)  # `python tools/plans_audit.py` from anywhere

SF = "/root/testdata/sf0.001"


def _fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _nodes(plan: str, name: str) -> int:
    """Count physical nodes: '(k) Name' detail headers, not word frequency."""
    return len(re.findall(rf"\(\d+\) {name}\b", plan))


def _compact(plan: str, keep: int = 28) -> str:
    lines = [l.rstrip() for l in plan.splitlines() if l.strip()]
    out, shown = [], 0
    for l in lines:
        if shown >= keep and not l.startswith("("):
            continue
        interesting = any(
            k in l
            for k in ("Scan", "Exchange", "Join", "Aggregate", "Sort",
                      "TakeOrdered", "FlatMap", "MapInArrow", "PushedFilters",
                      "ReadSchema", "Window", "Filter")
        )
        if l.startswith("(") or interesting:
            out.append(l[:120])
            shown += 1
    return "\n".join(out)


def main() -> None:
    from pyspark.sql import SparkSession

    from vcf2df_spark.encode import encode_transcripts, normalize_input
    from vcf2df_spark import fixtures
    from vcf2df_spark.operators import relational, textops

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    src = spark.createDataFrame(fixtures.transcripts_small(n_convs=100))

    sections = []

    enc = encode_transcripts(src, num_partitions=4)
    p = _fmt(enc)
    assert _nodes(p, "Exchange") == 1, "encode must move data exactly once"
    sections.append((
        "encode pipeline (the engine's only shuffle)",
        "One Exchange (hash on the salted `_pkey`), an in-partition Sort for "
        "group splitting, then the Arrow UDF. Nothing else moves data.", p))

    q = relational.q_filter_pushdown(spark, SF)
    p = _fmt(q)
    assert "PushedFilters: [" in p and "ReadSchema" in p
    assert re.search(r"ReadSchema:.*l_quantity.*l_extendedprice.*l_discount", p)
    sections.append((
        "filter_pushdown (TPC-H Q6 shape)",
        "Predicates and the 3-column projection reach the parquet scan:", p))

    q = relational.q_join_broadcast(spark, SF)
    p = _fmt(q)
    assert _nodes(p, "BroadcastHashJoin") == 2 and "SortMergeJoin" not in p
    sections.append((
        "join_broadcast (orders x customer x nation)",
        "Both dimensions broadcast; no SortMergeJoin anywhere:", p))

    q = relational.q_topk(spark, SF)
    p = _fmt(q)
    assert "TakeOrderedAndProject" in p
    sections.append((
        "topk",
        "Global order + limit compiles to TakeOrderedAndProject "
        "(no global sort):", p))

    q = textops.q_cosine_topk(spark, SF)
    p = _fmt(q)
    assert "TakeOrderedAndProject" in p
    sections.append((
        "cosine_topk",
        "Single-row query vector broadcast (nested-loop on 1 row), "
        "top-k without global sort:", p))

    q = textops.q_simhash(spark, SF)
    p = _fmt(q)
    assert "Exchange" not in p, "simhash must be shuffle-free"
    sections.append((
        "simhash (shuffle-free)",
        "In-array F.aggregate: partition-local, zero Exchange "
        "(the explode+groupBy formulation shuffled the exploded corpus):", p))

    q = textops.q_embedding_near_dup(spark, SF)
    p = _fmt(q)
    assert "NestedLoop" not in p
    assert ("SortMergeJoin" in p or "ShuffledHashJoin" in p
            or "BroadcastHashJoin" in p)
    sections.append((
        "embedding_near_dup (ANN-bucketed)",
        "Candidates equi-join on the sign bucket — a hash-family join, "
        "never an all-pairs nested loop:", p))

    from vcf2df_spark.decode import decode_blocks

    dec = decode_blocks(enc)
    p = _fmt(dec)
    assert "FlatMapGroupsInArrow" in p
    sections.append((
        "decode pipeline",
        "One hash Exchange on (partition_id, chunk_idx) then the Arrow "
        "decode UDF; column pruning filters block rows before the shuffle:",
        p))

    import shutil

    from vcf2df_spark import datasource

    wh = "/tmp/vcf2df_plans_wh"
    shutil.rmtree(wh, ignore_errors=True)
    shutil.rmtree(f"{wh}_source.parquet", ignore_errors=True)
    enc.write.partitionBy("partition_id").parquet(f"{wh}/blocks")
    q = datasource.read_warehouse(spark, wh)
    p = _fmt(q)
    assert "BatchScan transcripts" in p and "Exchange" not in p, (
        "datasource read must be a shuffle-free scan"
    )
    sections.append((
        "datasource full read (shuffle-free decode)",
        "format('transcripts'): one scan task per partition's files decodes "
        "its co-located chunk groups — a BatchScan with ZERO Exchange, vs the "
        "decode shuffle above. The production read path for views/SQL:", p))

    from jobs.decode_verify import verify_frames
    from vcf2df_spark.datasource import VERIFY_COLUMNS
    from vcf2df_spark.manifest import WarehouseMeta, build_manifests, read_blocks
    from vcf2df_spark.verify import signature_frame

    build_manifests(read_blocks(spark, f"{wh}/blocks"), "plans", "audit") \
        .write.parquet(f"{wh}/manifests")
    src_path = f"{wh}_source.parquet"
    fixtures.write_parquet(fixtures.transcripts_small(n_convs=100), src_path)
    decoded, source, _ = verify_frames(
        spark, wh, src_path, WarehouseMeta.load(wh))
    p = _fmt(signature_frame(decoded, VERIFY_COLUMNS))
    plans = [p, _fmt(signature_frame(source))]
    assert _nodes(p, "BatchScan transcripts") == 1
    assert not any("/blocks" in l for pl in plans for l in pl.splitlines()
                   if "Location" in l), "decode_verify must not re-read blocks/"
    sections.append((
        "decode_verify: one read of each side",
        "The verified datasource read is the only read of the blocks: each "
        "scan task compares its partition's manifest checksums and the "
        "counts ride the signature aggregate (its one Exchange is the "
        "single-row partial aggregate). No parquet scan of blocks/ "
        "recomputes checksums:", p))

    q = datasource.scan_warehouse(spark, wh, ["turn_idx >= 2", "turn_idx <= 3"])
    p = _fmt(q)
    assert "BatchScan transcripts_pruned" in p and "Exchange" not in p
    assert _nodes(p, "Filter") == 1, "Spark must re-apply the exact predicate"
    sections.append((
        "datasource pruned scan (zone-map pushdown)",
        "scan_warehouse: the predicate reaches pushFilters (task-side chunk "
        "pruning against zone maps) AND stays in the plan as an exact "
        "Filter — pruning is conservative, exactness is Catalyst's:", p))

    from vcf2df_spark.encode import encode_keyed, with_partition_key
    from vcf2df_spark.rewrite import _without_ids

    q = datasource.read_warehouse(spark, wh, partition_ids=[1, 2])
    p = _fmt(q)
    assert "BatchScan transcripts" in p and _nodes(p, "Exchange") == 0, (
        "the rewrite's decode must be a shuffle-free scan"
    )
    sections.append((
        "routed rewrite: decode input (the merged partitions, in place)",
        "delete/upsert/append decode ONLY the partitions they merge: "
        "read_warehouse(partition_ids=...) lists just those dirs (never the "
        "other ~400k) and decodes each file in place — a BatchScan with "
        "ZERO Exchange:", p))

    kept = with_partition_key(_without_ids(spark, q, ["absent"]), 4)
    q = encode_keyed(kept.unionByName(with_partition_key(
        normalize_input(src), 4)))
    p = _fmt(q)
    assert _nodes(p, "Exchange") == 1, "the staged rewrite moves data once"
    sections.append((
        "routed rewrite: staged re-encode",
        "Survivors minus the dropped ids, unioned with the new rows, "
        "re-encode through the salted `_pkey`: the rewrite's one Exchange:",
        p))

    with open("PLANS.md", "w") as f:
        f.write(
            "# PLANS — physical-plan audit (generated from live plans)\n\n"
            "Evidence that the declarative plans compile to the physical\n"
            "strategies the 100TB design assumes. Regenerate (and re-assert\n"
            "every property) with `python tools/plans_audit.py`.\n")
        for title, blurb, plan in sections:
            f.write(f"\n## {title}\n\n{blurb}\n\n```\n{_compact(plan)}\n```\n")
    print("PLANS.md regenerated; all plan assertions passed")
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
