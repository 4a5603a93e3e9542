"""The warehouse as a Structured Streaming SOURCE: readStream tails
committed epochs through the same in-place chunk decode as the batch
reader, advancing offsets only over manifests-committed epochs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vcf2df_spark import datasource, fixtures, manifest
from vcf2df_spark.encode import encode_transcripts, normalize_input


def _write_epoch(spark, wh: str, epoch: int, n_convs: int = 25) -> int:
    pdf = fixtures.transcripts_small(n_convs=n_convs, seed=100 + epoch)
    pdf["conv_id"] = f"e{epoch}-" + pdf["conv_id"]
    src = normalize_input(spark.createDataFrame(pdf))
    blocks = encode_transcripts(src, num_partitions=2, chunk_rows=64).cache()
    blocks.write.parquet(f"{wh}/blocks/epoch={epoch}")
    manifest.build_manifests(blocks, f"s-{epoch}", "stream").write.parquet(
        f"{wh}/manifests/epoch={epoch}"
    )
    n = int(blocks.filter(F.col("column") == "conv_id")
            .agg(F.sum("n_rows")).collect()[0][0])
    blocks.unpersist()
    return n


def _run_stream(spark, wh: str, ckpt: str, sink: str):
    datasource.register(spark)
    q = (
        spark.readStream.format("transcripts").load(wh)
        .groupBy(F.substring("conv_id", 1, 2).alias("ep"))
        .agg(F.count("*").alias("n"))
        .writeStream.outputMode("complete")
        .format("memory").queryName(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return {r.ep: r.n for r in spark.sql(f"SELECT * FROM {sink}").collect()}


def test_stream_source_tails_committed_epochs(spark, tmp_path):
    wh = str(tmp_path / "swh")
    ckpt = str(tmp_path / "ckpt")
    n0 = _write_epoch(spark, wh, 0)
    n1 = _write_epoch(spark, wh, 1)

    got = _run_stream(spark, wh, ckpt, "stream_sink_a")
    assert got == {"e0": n0, "e1": n1}

    # an UNCOMMITTED epoch (blocks present, no manifests marker) must be
    # invisible; a committed one appears on the next trigger
    pdf = fixtures.transcripts_small(n_convs=10, seed=102)
    pdf["conv_id"] = "e2-" + pdf["conv_id"]
    blocks = encode_transcripts(
        normalize_input(spark.createDataFrame(pdf)), num_partitions=2,
        chunk_rows=64,
    ).cache()
    blocks.write.parquet(f"{wh}/blocks/epoch=2")
    got = _run_stream(spark, wh, ckpt, "stream_sink_b")
    assert "e2" not in got  # nothing new committed -> no new rows

    n2 = int(blocks.filter(F.col("column") == "conv_id")
             .agg(F.sum("n_rows")).collect()[0][0])
    manifest.build_manifests(blocks, "s-2", "stream").write.parquet(
        f"{wh}/manifests/epoch=2"
    )
    blocks.unpersist()
    got = _run_stream(spark, wh, ckpt, "stream_sink_c")
    assert got == {"e0": n0, "e1": n1, "e2": n2}


def test_stream_source_over_batch_warehouse(spark, tmp_path):
    """A non-epoch warehouse reads once as a single epoch."""
    wh = str(tmp_path / "bwh")
    src = normalize_input(
        spark.createDataFrame(fixtures.transcripts_small(n_convs=20))
    )
    encode_transcripts(src, num_partitions=2, chunk_rows=64).write.partitionBy(
        "partition_id"
    ).parquet(f"{wh}/blocks")
    datasource.register(spark)
    q = (
        spark.readStream.format("transcripts").load(wh)
        .writeStream.outputMode("append")
        .format("memory").queryName("stream_sink_batch")
        .option("checkpointLocation", str(tmp_path / "ckpt_b"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("SELECT count(*) FROM stream_sink_batch").collect()[0][0]
    assert n == src.count()


def test_manifests_listing_failure_is_not_a_batch_warehouse(tmp_path,
                                                            monkeypatch):
    """Only a missing manifests dir means "batch warehouse, one epoch 0": a
    transient listing failure must raise, not expose uncommitted epoch=0
    blocks."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    wh = tmp_path / "wh"
    (wh / "blocks" / "epoch=0").mkdir(parents=True)
    pq.write_table(pa.table({"x": [1]}), wh / "blocks" / "epoch=0" / "b.parquet")
    reader = datasource.TranscriptStreamReader({"path": str(wh)}, None, ctypes={})
    assert reader.latestOffset() == {"epoch": 0}  # no manifests dir

    class Unreachable(pafs.LocalFileSystem):
        def get_file_info(self, selector):
            raise OSError("network")

    monkeypatch.setattr(pafs, "LocalFileSystem", Unreachable)
    with pytest.raises(OSError, match="network"):
        reader.latestOffset()


def _plan_keys(plan):
    return [(sorted(p.files), p.hive) for p in plan]


def test_stream_plan_is_the_batch_plan_of_its_epochs(tmp_path):
    """No Spark: the stream reader plans epochs (start, end] through the
    batch planner, so its tasks are exactly the batch plan's tasks of those
    epochs; an epoch without manifest rows is in neither."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    wh = tmp_path / "wh"
    for epoch in (0, 1, 2, 3):
        d = wh / "blocks" / f"epoch={epoch}"
        d.mkdir(parents=True)
        for i in range(2):
            pq.write_table(pa.table({"partition_id": [i]}), d / f"p{i}.parquet")
        if epoch < 3:  # epoch 3: blocks written, never committed
            m = wh / "manifests" / f"epoch={epoch}"
            m.mkdir(parents=True)
            pq.write_table(pa.table({"partition_id": [0, 1],
                                     "status": ["committed"] * 2}),
                           m / "m.parquet")
    opts = {"path": str(wh)}
    batch = datasource.TranscriptReader(opts, None, ctypes={}).plan()
    assert {p.hive["epoch"] for p in batch} == {0, 1, 2}
    stream = datasource.TranscriptStreamReader(opts, None, ctypes={})
    assert stream.latestOffset() == {"epoch": 2}
    got = stream.partitions({"epoch": -1}, {"epoch": 1})
    assert _plan_keys(got) == _plan_keys(
        [p for p in batch if p.hive["epoch"] in (0, 1)])
    assert len(got) == 4  # one task per file: partition_id is a column


def test_batch_read_skips_uncommitted_epoch(spark, tmp_path):
    """A batch read of a streaming warehouse plans only the epochs the
    manifests committed: blocks of an epoch whose manifests were never
    written are not rows of the warehouse."""
    wh = str(tmp_path / "uwh")
    n = sum(_write_epoch(spark, wh, e) for e in (0, 1))
    pdf = fixtures.transcripts_small(n_convs=10, seed=102)
    pdf["conv_id"] = "e2-" + pdf["conv_id"]
    encode_transcripts(normalize_input(spark.createDataFrame(pdf)),
                       num_partitions=2, chunk_rows=64) \
        .write.parquet(f"{wh}/blocks/epoch=2")
    assert datasource.read_warehouse(spark, wh).count() == n
