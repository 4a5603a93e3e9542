"""Compaction: streaming epoch warehouse -> batch-shaped warehouse.

Two epochs of micro-batch-sized chunks compact into one hash-partitioned
64k-chunk warehouse with routing manifests; content is bit-preserved and
the compacted warehouse serves routed point lookups.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from jobs import compact
from vcf2df_spark import datasource, fixtures, scan
from vcf2df_spark.manifest import WarehouseMeta
from vcf2df_spark.encode import encode_transcripts, normalize_input


def _stream_wh(spark, tmp_path) -> tuple[str, int]:
    root = str(tmp_path / "swh")
    total = 0
    for epoch in (0, 1):
        pdf = fixtures.transcripts_small(n_convs=40, seed=11 + epoch)
        pdf["conv_id"] = f"e{epoch}-" + pdf["conv_id"]
        total += len(pdf)
        src = normalize_input(spark.createDataFrame(pdf))
        encode_transcripts(src, num_partitions=2, chunk_rows=64).write.parquet(
            f"{root}/blocks/epoch={epoch}"
        )
    return root, total


def test_compact_epoch_warehouse(spark, tmp_path, capsys):
    wh, total = _stream_wh(spark, tmp_path)
    out = str(tmp_path / "cwh")
    compact.main(["--warehouse", wh, "--out", out, "--partitions", "4"])
    verdict = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert verdict["status"] == "ok"
    assert verdict["rows"] == total
    assert verdict["chunks_after"] < verdict["chunks_before"], (
        "64-row epoch chunks must merge into fewer batch-shaped chunks"
    )

    want = (
        datasource.read_warehouse(spark, wh)
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    got = (
        datasource.read_warehouse(spark, out)
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    assert got == want and len(got) == total

    # routed point lookup works against the compacted warehouse
    target = want[len(want) // 2].conv_id
    pids = WarehouseMeta.load(out).route([target])[0]
    assert pids is not None and len(pids) == 1
    hit = scan.fetch_conversation(spark, out, target)
    assert len(hit) == sum(1 for r in want if r.conv_id == target) > 0

    # refuses to overwrite an existing output warehouse
    try:
        compact.main(["--warehouse", wh, "--out", out, "--partitions", "4"])
        raised = False
    except SystemExit as e:
        raised = e.code == 2
    assert raised


def test_compact_retention_sweep(spark, tmp_path, capsys):
    """--drop-where ages out rows by SQL predicate during the compaction
    rewrite; survivors are bit-identical and the deleted count is
    reported from block metadata (no extra decode pass)."""
    wh, total = _stream_wh(spark, tmp_path)
    cutoff = (
        datasource.read_warehouse(spark, wh)
        .selectExpr("percentile_approx(ts, 0.5) AS c").collect()[0]["c"]
    )
    pred = f"ts < timestamp'{cutoff}'"
    want = (
        datasource.read_warehouse(spark, wh)
        .filter(f"NOT ({pred})")
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    assert 0 < len(want) < total

    out = str(tmp_path / "rwh")
    compact.main(["--warehouse", wh, "--out", out, "--partitions", "4",
                  "--drop-where", pred])
    verdict = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert verdict["status"] == "ok"
    assert verdict["rows"] == len(want)
    assert verdict["rows_deleted"] == total - len(want)

    got = (
        datasource.read_warehouse(spark, out)
        .orderBy("conv_id", "turn_idx").collect()
    )
    assert got == want


def _evolved_wh(spark, tmp_path) -> tuple[str, int, int]:
    """Epoch 0: core six columns. Epoch 1: adds (score f64, model str) —
    the streaming schema-change case the strict decode refuses."""
    root = str(tmp_path / "evwh")
    pdf0 = fixtures.transcripts_small(n_convs=30, seed=5)
    pdf0["conv_id"] = "a-" + pdf0["conv_id"]
    src0 = normalize_input(spark.createDataFrame(pdf0))
    encode_transcripts(src0, num_partitions=2, chunk_rows=64).write.parquet(
        f"{root}/blocks/epoch=0"
    )
    pdf1 = fixtures.transcripts_small(n_convs=20, seed=6)
    pdf1["conv_id"] = "b-" + pdf1["conv_id"]
    pdf1["score"] = [float(i % 7) / 2 for i in range(len(pdf1))]
    pdf1["model"] = ["m-" + str(i % 3) for i in range(len(pdf1))]
    src1 = normalize_input(spark.createDataFrame(pdf1))
    encode_transcripts(src1, num_partitions=2, chunk_rows=64).write.parquet(
        f"{root}/blocks/epoch=1"
    )
    return root, len(pdf0), len(pdf1)


def test_merge_schemas_decode_and_compact(spark, tmp_path, capsys):
    """Additive schema evolution: strict reads fail loudly with the
    remedy in the message; decode_blocks(merge_schemas=True) unions the
    schema with typed zero-defaults; compact --merge-schemas re-encodes
    to ONE homogeneous schema that every strict read then serves."""
    import pytest as _pytest

    from vcf2df_spark.decode import decode_blocks

    root, n0, n1 = _evolved_wh(spark, tmp_path)
    blocks = spark.read.parquet(f"{root}/blocks")

    with _pytest.raises(Exception, match="merge-schemas"):
        decode_blocks(blocks).count()

    merged = decode_blocks(blocks, merge_schemas=True)
    assert {"score", "model"} <= set(merged.columns)
    pdf = merged.toPandas()
    assert len(pdf) == n0 + n1
    old = pdf[pdf.conv_id.str.startswith("a-")]
    new = pdf[pdf.conv_id.str.startswith("b-")]
    # pre-evolution rows carry the SAME typed defaults normalize_input
    # imputes (so they read as if encoded after the evolution)
    assert (old["score"] == 0.0).all() and (old["model"] == "").all()
    assert (new["model"] != "").all()

    out = str(tmp_path / "evout")
    compact.main(["--warehouse", root, "--out", out, "--partitions", "4",
                  "--merge-schemas"])
    verdict = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert verdict["status"] == "ok" and verdict["rows"] == n0 + n1

    # the compacted warehouse is homogeneous: STRICT reads serve it
    uni = datasource.read_warehouse(spark, out)
    assert {"score", "model"} <= set(uni.columns)
    assert uni.count() == n0 + n1
    want = merged.orderBy("conv_id", "turn_idx").collect()
    got = uni.orderBy("conv_id", "turn_idx").collect()
    assert got == want


@pytest.mark.parametrize("reader", ["decode_blocks", "read_warehouse"])
def test_merge_schemas_rejects_type_change(spark, tmp_path, reader):
    """A column whose ctype CHANGES across batches is never merged — by
    the merging grouped decode and by the datasource's union planning,
    with the same message."""
    from vcf2df_spark.decode import decode_blocks

    root = str(tmp_path / "tcwh")
    pdf0 = fixtures.transcripts_small(n_convs=10, seed=7)
    pdf0["flag"] = [float(i) for i in range(len(pdf0))]  # f64
    src0 = normalize_input(spark.createDataFrame(pdf0))
    encode_transcripts(src0, num_partitions=1, chunk_rows=64).write.parquet(
        f"{root}/blocks/epoch=0"
    )
    pdf1 = fixtures.transcripts_small(n_convs=10, seed=8)
    pdf1["conv_id"] = "z-" + pdf1["conv_id"]
    pdf1["flag"] = [i % 2 == 0 for i in range(len(pdf1))]  # bool
    src1 = normalize_input(spark.createDataFrame(pdf1))
    encode_transcripts(src1, num_partitions=1, chunk_rows=64).write.parquet(
        f"{root}/blocks/epoch=1"
    )
    with pytest.raises(Exception, match="two ctypes"):
        if reader == "decode_blocks":
            blocks = spark.read.parquet(f"{root}/blocks")
            decode_blocks(blocks, merge_schemas=True).count()
        else:
            datasource.read_warehouse(spark, root).count()
