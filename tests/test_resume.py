"""Resume/checkpoint test (SURVEY.md §5.2-4): kill after k of n partitions,
re-run, assert no duplicate blocks and an identical final result.

Drives the real job entry points (jobs/encode.py, jobs/decode_verify.py)
in-process against a tmp warehouse.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json

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


def test_encode_job_drops_its_cache(spark, source_path, tmp_path):
    """The encode job caches nothing: its stats ride the one blocks write.
    No exit path (here ok, then noop) may leave a persisted RDD behind, or
    a later encode of the same input in a shared session reads it."""
    jsc = spark.sparkContext._jsc
    wh = str(tmp_path / "cwh")
    argv = ["--input", source_path, "--out", wh, "--partitions", "4",
            "--job-id", "c", "--master", "local[4]"]
    for _ in range(2):  # ok, then noop (everything committed)
        before = jsc.getPersistentRDDs().size()
        assert _run(encode_job.main, argv) == 0
        assert jsc.getPersistentRDDs().size() == before


def _run_counted(spark, argv, group):
    """Run the encode job under its own job group; (exit code, Spark jobs
    the group ran, JSON result)."""
    sc = spark.sparkContext
    buf = io.StringIO()
    sc.setJobGroup(group, group)
    try:
        with contextlib.redirect_stdout(buf):
            rc = _run(encode_job.main, argv)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    lines = [x for x in buf.getvalue().splitlines() if x.startswith("{")]
    return rc, n_jobs, json.loads(lines[-1])


def _manifest_rows(spark, wh, job_id):
    """Manifest rows of ``job_id`` without the run-dependent columns."""
    rows = [
        {k: v for k, v in r.asDict().items()
         if k not in ("committed_at", "input_path")}
        for r in spark.read.parquet(f"{wh}/manifests")
        .filter(f"job_id = '{job_id}'").collect()
    ]
    return sorted(rows, key=lambda r: r["partition_id"])


def _digest(rows):
    return hashlib.sha256(
        json.dumps(rows, sort_keys=True).encode()
    ).hexdigest()


# recorded from the 17-job encode (persisted blocks, separate aggregates)
GOLDEN_STATS = {"rows_encoded": 25520, "raw_bytes": 5050679,
                "enc_bytes": 2587074, "ratio": 1.952,
                "partition_max_over_mean": 1.023}
GOLDEN_PARTITIONS = [  # (partition_id, n_rows, checksum)
    (0, 6192, "1247261313f83429e91fed0daff04bc72d91d6c84191bb4e93cd899e67234a01"),
    (1, 6297, "3cdbe182849d7f5fcf9a9c789975c659bf335d3f2643b8b086a0765075b00b81"),
    (2, 6526, "eef208e9955d95b7f90ba57eb8f4f8445bca8b655b98673a93bade08d9f05f8b"),
    (3, 6505, "a1f092e9cf46b59161f9fccc585a8dd68167fdfb5be37dd0274e56116c0721e4"),
]
GOLDEN_MANIFESTS_SHA = (
    "4df8e7518789c9ff6b95530cd49cd5d0572dbe1dc6b48e2f06f833caed2958d4"
)


def test_encode_job_one_pass_budget_and_golden(spark, source_path, tmp_path):
    """A fresh-warehouse encode is one observed blocks write plus the
    manifests build: at most 6 Spark jobs (17 with the persisted cache and
    its separate count/duplicate/stats/skew aggregates), no persisted RDD,
    and the same JSON stats and manifest rows as that design."""
    wh = str(tmp_path / "owh")
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    rc, n_jobs, out = _run_counted(
        spark, ["--input", source_path, "--out", wh, "--partitions", "4",
                "--job-id", "a", "--master", "local[4]"], "encode-budget")
    assert rc == 0 and out["status"] == "ok"
    assert n_jobs <= 6
    assert jsc.getPersistentRDDs().size() == before
    assert {k: out[k] for k in GOLDEN_STATS} == GOLDEN_STATS
    assert out["partitions_encoded"] == 4 and out["quarantined_rows"] == 0
    rows = _manifest_rows(spark, wh, "a")
    assert [(r["partition_id"], r["n_rows"], r["checksum"]) for r in rows] \
        == GOLDEN_PARTITIONS
    assert _digest(rows) == GOLDEN_MANIFESTS_SHA


def test_second_job_manifests_only_its_partitions(spark, source_path, tmp_path):
    """The manifests build reads back only the dirs its own write touched:
    a second job into the same warehouse that encodes one conversation
    commits one manifest row, and the first job's rows stay as they were."""
    from vcf2df_spark import fixtures as fx
    from vcf2df_spark.sparkhash import pkey_for

    wh = str(tmp_path / "swh")
    assert _run(encode_job.main, ["--input", source_path, "--out", wh,
                                  "--partitions", "4", "--job-id", "a"]) == 0
    rows_a = _manifest_rows(spark, wh, "a")
    small = fx.transcripts_small()
    conv = small["conv_id"].iloc[0]
    one = small[small["conv_id"] == conv]
    assert len(one) <= 256  # one split: one partition
    one_path = str(tmp_path / "one.parquet")
    fx.write_parquet(one, one_path)
    assert _run(encode_job.main, ["--input", one_path, "--out", wh,
                                  "--partitions", "4", "--job-id", "b"]) == 0
    rows_b = _manifest_rows(spark, wh, "b")
    assert [(r["partition_id"], r["n_rows"]) for r in rows_b] \
        == [(pkey_for(conv, 0, 4), len(one))]
    assert _manifest_rows(spark, wh, "a") == rows_a
