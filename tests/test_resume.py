"""Resume/checkpoint test (SURVEY.md §5.2-4): kill after k of n partitions,
re-run, assert no duplicate blocks and an identical final result.

Drives the real job entry points (jobs/encode.py, jobs/decode_verify.py)
in-process against a tmp warehouse.
"""

from __future__ import annotations

import sys

import pandas as pd
import pytest

import jobs.decode_verify as decode_job
import jobs.encode as encode_job
from vcf2df_spark import fixtures


def _run(mainfn, argv):
    try:
        mainfn(argv)
        return 0
    except SystemExit as e:
        return int(e.code or 0)


@pytest.fixture(scope="module")
def source_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("src") / "transcripts.parquet"
    fixtures.write_parquet(fixtures.transcripts_small(), str(p))
    return str(p)


def test_partial_then_resume_then_noop(spark, source_path, tmp_path):
    wh = str(tmp_path / "wh")
    common = ["--input", source_path, "--out", wh, "--partitions", "8",
              "--job-id", "t", "--master", "local[4]"]

    rc = _run(encode_job.main, common + ["--fail-after", "3"])
    assert rc == 3  # injected failure signals partial completion

    manifests = spark.read.parquet(f"{wh}/manifests")
    assert manifests.count() == 3

    rc = _run(encode_job.main, common)
    assert rc == 0
    manifests = spark.read.parquet(f"{wh}/manifests").toPandas()
    assert len(manifests) == 8
    assert manifests["partition_id"].is_unique  # no duplicate commits

    # final result identical to source
    rc = _run(decode_job.main, ["--warehouse", wh, "--source", source_path,
                                "--master", "local[4]"])
    assert rc == 0

    # blocks: exactly 8 partitions x 6 columns, no duplicates
    blocks = spark.read.parquet(f"{wh}/blocks").toPandas()
    counts = blocks.groupby(["partition_id", "chunk_idx", "column"]).size()
    assert (counts == 1).all()

    # idempotent third run
    rc = _run(encode_job.main, common)
    assert rc == 0
    assert spark.read.parquet(f"{wh}/manifests").count() == 8


def test_decode_verify_grouped_uses_manifest_schema(spark, source_path,
                                                    tmp_path, monkeypatch):
    """--reader grouped on a manifested warehouse resolves the output
    schema from the manifests' schema_sig (no per-call derivation
    aggregate, the r3 grouped-decode regression) and still verdicts
    bit-identical."""
    wh = str(tmp_path / "gwh")
    rc = _run(encode_job.main, ["--input", source_path, "--out", wh,
                                "--partitions", "4", "--job-id", "g",
                                "--master", "local[4]"])
    assert rc == 0

    import vcf2df_spark.decode as decode_mod

    def boom(*a, **kw):
        raise AssertionError("schema derivation ran despite manifests sig")

    monkeypatch.setattr(decode_mod, "_file_signatures", boom)
    monkeypatch.setattr(decode_mod, "_spark_signatures", boom)
    rc = _run(decode_job.main, ["--warehouse", wh, "--source", source_path,
                                "--master", "local[4]",
                                "--reader", "grouped"])
    assert rc == 0


def test_encode_job_drops_its_cache(spark, source_path, tmp_path):
    """The encode job persists its blocks for the stats pass and the
    writes; every exit path (here ok, then noop) must unpersist them, or a
    later encode of the same input in a shared session reads the cache."""
    jsc = spark.sparkContext._jsc
    wh = str(tmp_path / "cwh")
    argv = ["--input", source_path, "--out", wh, "--partitions", "4",
            "--job-id", "c", "--master", "local[4]"]
    for _ in range(2):  # ok, then noop (everything committed)
        before = jsc.getPersistentRDDs().size()
        assert _run(encode_job.main, argv) == 0
        assert jsc.getPersistentRDDs().size() == before
