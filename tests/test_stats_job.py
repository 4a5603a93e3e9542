"""jobs/stats.py: the no-Spark ANALYZE over the manifests commit log."""

from __future__ import annotations

import json

from vcf2df_spark import fixtures, manifest
from vcf2df_spark.encode import encode_transcripts, normalize_input


def test_stats_summary(spark, tmp_path, capsys):
    import jobs.stats as stats_job

    src = normalize_input(
        spark.createDataFrame(fixtures.transcripts_small(n_convs=60))
    )
    wh = str(tmp_path / "swh")
    blocks = encode_transcripts(src, num_partitions=4)
    blocks.write.partitionBy("partition_id").parquet(f"{wh}/blocks")
    manifest.build_manifests(blocks, "statjob", "mem", num_partitions=4).write.parquet(
        f"{wh}/manifests"
    )

    stats_job.main(["--warehouse", wh])
    rec = json.loads(capsys.readouterr().out.strip())
    assert rec["status"] == "ok"
    assert rec["partitions"] == 4
    assert rec["n_rows"] == src.count()
    assert rec["schema"]["text"] == "str" and rec["schema"]["turn_idx"] == "i32"
    assert rec["compression_ratio"] > 0
    assert any(k.startswith("role:") for k in rec["codec_partitions"])
    assert rec["jobs"] == ["statjob"]
    # wall time is driver-side metadata only — no Spark job ran; the
    # SparkSession in this test exists only to build the fixture warehouse


def test_stats_empty_warehouse(tmp_path, capsys):
    import pytest

    import jobs.stats as stats_job

    with pytest.raises(SystemExit):
        stats_job.main(["--warehouse", str(tmp_path / "nope")])
    rec = json.loads(capsys.readouterr().out.strip())
    assert rec["status"] == "error"


def test_stats_epoch_warehouse_counts_block_dirs(spark, tmp_path, capsys):
    """Streaming warehouses: the block identity is (partition_id, epoch),
    so 'partitions' must count the physical epoch dirs, not collapse the
    same pid committed in N epochs into one (ADVICE r4)."""
    import jobs.stats as stats_job

    src = normalize_input(
        spark.createDataFrame(fixtures.transcripts_small(n_convs=20))
    )
    wh = str(tmp_path / "ewh")
    blocks = encode_transcripts(src, num_partitions=2)
    for epoch in (0, 1):
        blocks.write.partitionBy("partition_id").parquet(
            f"{wh}/blocks/epoch={epoch}"
        )
        manifest.build_manifests(
            blocks, f"sjob-epoch{epoch}", "mem", num_partitions=2
        ).write.parquet(f"{wh}/manifests/epoch={epoch}")

    stats_job.main(["--warehouse", wh])
    rec = json.loads(capsys.readouterr().out.strip())
    assert rec["status"] == "ok"
    assert rec["partitions"] == 4  # 2 pids x 2 epochs
    assert rec["epochs"] == [0, 1]
    assert rec["n_rows"] == 2 * src.count()


def test_legacy_null_ctypes_resolve_alike_everywhere(spark, tmp_path, capsys):
    """Legacy blocks (meta without ``ctype``) and the manifests built from
    them: every schema reader resolves the core types the same way —
    turn_idx i32, ts ts — the stats job included."""
    import jobs.stats as stats_job
    from pyspark.sql import functions as F

    from vcf2df_spark import datasource
    from vcf2df_spark.decode import decode_blocks

    src = normalize_input(
        spark.createDataFrame(fixtures.transcripts_small(n_convs=20))
    )
    blocks = encode_transcripts(src, num_partitions=2)
    pdf = blocks.toPandas()
    pdf["meta"] = [
        json.dumps({k: v for k, v in json.loads(m).items() if k != "ctype"})
        for m in pdf["meta"]
    ]
    legacy = spark.createDataFrame(pdf, schema=blocks.schema)
    wh = str(tmp_path / "lwh")
    legacy.write.partitionBy("partition_id").parquet(f"{wh}/blocks")
    manifest.build_manifests(
        legacy, "legacy", "mem", num_partitions=2
    ).write.parquet(f"{wh}/manifests")

    assert stats_job.warehouse_stats(wh)["schema"] == {
        "conv_id": "str", "role": "str", "text": "str", "tool": "str",
        "ts": "ts", "turn_idx": "i32",
    }
    ctypes = datasource.infer_ctypes(f"{wh}/blocks")
    assert (ctypes["turn_idx"], ctypes["ts"]) == ("i32", "ts")

    stored = spark.read.parquet(f"{wh}/blocks")
    for df in (
        decode_blocks(stored),  # grouped decode: Spark aggregate
        decode_blocks(stored.filter(F.col("partition_id") >= 0)),  # filtered
        datasource.read_warehouse(spark, wh),
    ):
        types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        assert (types["turn_idx"], types["ts"]) == ("int", "timestamp")


def test_stats_ctype_conflict_is_an_error(tmp_path, capsys):
    """Two committed partitions disagreeing on a column's ctype: the stats
    job reports the conflict like its other read errors."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    import jobs.stats as stats_job

    (tmp_path / "manifests").mkdir()
    pq.write_table(pa.table({
        "partition_id": [0, 1],
        "status": ["committed", "committed"],
        "schema_sig": ['{"flag": "f64"}', '{"flag": "bool"}'],
    }), str(tmp_path / "manifests" / "part-0.parquet"))
    with pytest.raises(SystemExit) as exc:
        stats_job.main(["--warehouse", str(tmp_path)])
    assert exc.value.code == 2
    rec = json.loads(capsys.readouterr().out.strip())
    assert rec["status"] == "error" and "two ctypes" in rec["error"]


def test_stats_runs_as_plain_script_from_checkout(spark, tmp_path):
    """`python jobs/stats.py --warehouse WH` from the checkout root, with
    no PYTHONPATH: the script finds the package next to jobs/."""
    import os
    import subprocess
    import sys

    src = normalize_input(
        spark.createDataFrame(fixtures.transcripts_small(n_convs=10))
    )
    wh = str(tmp_path / "pwh")
    blocks = encode_transcripts(src, num_partitions=2)
    manifest.build_manifests(blocks, "plain", "mem", num_partitions=2).write.parquet(
        f"{wh}/manifests"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "jobs/stats.py", "--warehouse", wh],
        cwd=root, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    rec = json.loads(proc.stdout.strip().splitlines()[-1])
    assert rec["status"] == "ok" and rec["n_rows"] == src.count()
