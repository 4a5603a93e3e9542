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
import os

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
    manifests build, its single-file source planned from the parquet
    footer: at most 4 Spark jobs (5 with a source schema inference job, 17
    with the persisted cache and its separate count/duplicate/stats/skew
    aggregates), no persisted RDD, and the same JSON stats and manifest
    rows as that design."""
    wh = str(tmp_path / "owh")
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    rc, n_jobs, out = _run_counted(
        spark, ["--input", source_path, "--out", wh, "--partitions", "4",
                "--job-id", "a", "--master", "local[4]"], "encode-budget")
    assert rc == 0 and out["status"] == "ok"
    assert n_jobs <= 4
    assert jsc.getPersistentRDDs().size() == before
    assert {k: out[k] for k in GOLDEN_STATS} == GOLDEN_STATS
    assert out["partitions_encoded"] == 4 and out["quarantined_rows"] == 0
    rows = _manifest_rows(spark, wh, "a")
    assert [(r["partition_id"], r["n_rows"], r["checksum"]) for r in rows] \
        == GOLDEN_PARTITIONS
    assert _digest(rows) == GOLDEN_MANIFESTS_SHA


def _tree(root):
    """{relative path: sha256} of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = \
                    hashlib.sha256(fh.read()).hexdigest()
    return out


def _new_conversation(small, n_turns, conv_id="conv-77777777"):
    """The first ``n_turns`` of an existing conversation under a new id."""
    one = small[small["conv_id"] == small["conv_id"].iloc[0]].head(n_turns).copy()
    one["conv_id"] = conv_id
    return one


def test_second_job_appends_a_new_conversation(spark, source_path, tmp_path):
    """A second job that encodes one new conversation into a partition of
    the first job merges into it: the warehouse holds the union, which
    decodes bit-identical to the union source, and the manifests agree."""
    import pandas as pd

    from jobs.stats import warehouse_stats
    from vcf2df_spark.sparkhash import pkey_for

    wh = str(tmp_path / "swh")
    argv = ["--out", wh, "--partitions", "4", "--master", "local[4]"]
    assert _run(encode_job.main, ["--input", source_path, "--job-id", "a",
                                  *argv]) == 0
    small = fixtures.transcripts_small()
    one = _new_conversation(small, 5)
    one_path = str(tmp_path / "one.parquet")
    fixtures.write_parquet(one, one_path)
    rc, _, out = _run_counted(
        spark, ["--input", one_path, "--job-id", "b", *argv], "append")
    assert rc == 0 and out["status"] == "ok", out
    assert out["rows_encoded"] == 5 and out["partitions_merged"] == 1
    pid = pkey_for("conv-77777777", 0, 4)
    rows_b = _manifest_rows(spark, wh, "b")
    assert [(r["partition_id"], r["n_rows"]) for r in rows_b] == \
        [(pid, [n for p, n, _ in GOLDEN_PARTITIONS if p == pid][0] + 5)]
    assert {r["partition_id"] for r in _manifest_rows(spark, wh, "a")} \
        == {0, 1, 2, 3} - {pid}

    union = str(tmp_path / "union.parquet")
    fixtures.write_parquet(pd.concat([small, one], ignore_index=True), union)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = _run(decode_job.main, ["--warehouse", wh, "--source", union,
                                    "--master", "local[4]"])
    verdict = json.loads(buf.getvalue().splitlines()[-1])
    assert rc == 0 and verdict["status"] == "bit-identical", verdict
    assert verdict["rows_decoded"] == 25525
    assert verdict["manifest_checksum_mismatches"] == 0
    stats = warehouse_stats(wh)
    assert stats["n_rows"] == 25525 and stats["partitions"] == 4


def test_second_job_reinsert_is_refused(spark, source_path, tmp_path):
    """Re-inserting an existing conversation is a duplicate key against
    the merged partition: exit 5, every blocks and manifests file as it
    was, no staging or lock left. Replacing rows is jobs/upsert.py's job."""
    wh = str(tmp_path / "rwh")
    argv = ["--out", wh, "--partitions", "4", "--master", "local[4]"]
    assert _run(encode_job.main, ["--input", source_path, "--job-id", "a",
                                  *argv]) == 0
    live = _tree(wh)
    small = fixtures.transcripts_small()
    one = small[small["conv_id"] == small["conv_id"].iloc[0]]
    one_path = str(tmp_path / "again.parquet")
    fixtures.write_parquet(one, one_path)
    rc, _, out = _run_counted(
        spark, ["--input", one_path, "--job-id", "b", *argv], "reinsert")
    assert rc == 5 and out["status"] == "invalid-input", out
    assert out["duplicate_rows"] == 0 and "upsert" in out["reinserted"]
    assert _tree(wh) == live


def test_mismatched_partitioner_is_refused(spark, tmp_path):
    """Encode into a warehouse whose manifests record another
    num_partitions or shard_dirs exits 2 and writes nothing: its rows
    would hash to partitions that were never merged."""
    small = fixtures.transcripts_small(200)
    src = str(tmp_path / "s.parquet")
    fixtures.write_parquet(small, src)
    one = str(tmp_path / "one.parquet")
    fixtures.write_parquet(_new_conversation(small, 5), one)
    wh = str(tmp_path / "pwh")
    assert _run(encode_job.main, ["--input", src, "--out", wh, "--partitions",
                                  "4", "--job-id", "a",
                                  "--master", "local[4]"]) == 0
    live = _tree(wh)
    for extra in (["--partitions", "8"],
                  ["--partitions", "4", "--shard-dirs", "2"]):
        rc, n_jobs, out = _run_counted(
            spark, ["--input", one, "--out", wh, "--job-id", "b", *extra,
                    "--master", "local[4]"], "mismatch")
        assert rc == 2 and out["status"] == "error" and n_jobs == 0, out
        assert "partitioner" in out["error"]
        assert _tree(wh) == live


def test_schema_drift_is_refused(spark, tmp_path):
    """An append whose rows carry a column the warehouse lacks exits 2
    with a JSON error before anything is staged, whether the rows hash to
    an uncommitted partition or to a committed one: every file stays as
    it was and the warehouse still decodes (a drifted partition would
    fail every later read as an incomplete chunk group)."""
    from vcf2df_spark.datasource import read_warehouse
    from vcf2df_spark.manifest import WarehouseMeta
    from vcf2df_spark.sparkhash import pkey_for

    small = fixtures.transcripts_small(3)
    src = str(tmp_path / "s.parquet")
    fixtures.write_parquet(small, src)
    wh = str(tmp_path / "dwh")
    argv = ["--out", wh, "--partitions", "16", "--master", "local[4]"]
    assert _run(encode_job.main, ["--input", src, "--job-id", "a",
                                  *argv]) == 0
    committed = set(WarehouseMeta.load(wh).committed_ids())
    assert 0 < len(committed) < 16
    live = _tree(wh)
    for into_committed in (False, True):
        cid = next(c for c in (f"conv-9{i:07d}" for i in range(1000))
                   if (pkey_for(c, 0, 16) in committed) == into_committed)
        one = str(tmp_path / f"drift-{into_committed}.parquet")
        fixtures.write_parquet(
            _new_conversation(small, 5, cid).assign(score=0.5), one)
        rc, _, out = _run_counted(
            spark, ["--input", one, "--job-id", "b", *argv], "drift")
        assert rc == 2 and out["status"] == "error", out
        assert "score" in out["error"]
        assert _tree(wh) == live
    assert read_warehouse(spark, wh).count() == len(small)


def test_remote_warehouse_fresh_direct_write_else_refused(
        spark, source_path, tmp_path, monkeypatch):
    """A warehouse that cannot be locked (a remote URI, here a local path
    the test declares remote) takes a direct write only while it has no
    manifests; an encode into one that has them fails loudly (exit 2)
    and writes nothing."""
    from vcf2df_spark import commit

    def remote(path, what="path"):
        raise ValueError(f"{what} '{path}' is not a local filesystem path")

    monkeypatch.setattr(commit, "require_local", remote)
    wh = str(tmp_path / "remote")
    argv = ["--input", source_path, "--out", wh, "--partitions", "4",
            "--master", "local[4]"]
    assert _run(encode_job.main, argv + ["--job-id", "a"]) == 0
    assert sorted(os.listdir(wh)) == ["blocks", "manifests"]
    assert _digest(_manifest_rows(spark, wh, "a")) == GOLDEN_MANIFESTS_SHA
    live = _tree(wh)
    rc, _, out = _run_counted(spark, argv + ["--job-id", "b"], "remote")
    assert rc == 2 and out["status"] == "error" and "local" in out["error"]
    assert _tree(wh) == live
