"""The one manifests reader (manifest.WarehouseMeta) and what rests on it.

decode_verify's integrity check compares every manifest row's checksum
with one recomputed from the stored blocks; only a warehouse WITHOUT
manifests may skip it. Absence means ``FileNotFoundError`` and nothing
else: any other read error (an unreachable remote store) must fail the
caller instead of looking like a fresh or manifest-less warehouse.
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import shutil

import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest

import jobs.decode_verify as decode_job
import jobs.encode as encode_job
from vcf2df_spark import datasource, fixtures, manifest, scan

# decode_verify's column_desc on the clean warehouse, recorded at the
# parent of the reader refactor (the first manifest row's map)
PARENT_COLUMN_DESC = {
    "conv_id": "conversation identifier (string key)",
    "role": "speaker role (user/assistant/tool/system)",
    "text": "utterance text (utf8)",
    "tool": "tool name for tool turns, empty otherwise",
    "ts": "event timestamp (microseconds since epoch, UTC)",
    "turn_idx": "0-based turn index within the conversation",
}


def _run(mainfn, argv, spark=None, group=None):
    """(exit code, JSON result line, Spark jobs run under ``group``)."""
    buf = io.StringIO()
    if group:
        spark.sparkContext.setJobGroup(group, group)
    try:
        with contextlib.redirect_stdout(buf):
            mainfn(argv)
        rc = 0
    except SystemExit as e:
        rc = int(e.code or 0)
    finally:
        if group:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = None
    if group:
        sc = spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    lines = [x for x in buf.getvalue().splitlines() if x.startswith("{")]
    return rc, json.loads(lines[-1]), n_jobs


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """(source parquet, a clean 4-partition warehouse to copy from)."""
    base = tmp_path_factory.mktemp("meta")
    src = str(base / "src.parquet")
    fixtures.write_parquet(fixtures.transcripts_small(), src)
    wh = str(base / "wh")
    rc, _, _ = _run(encode_job.main, ["--input", src, "--out", wh,
                                      "--partitions", "4", "--job-id", "a",
                                      "--master", "local[4]"])
    assert rc == 0
    return src, wh


@pytest.fixture
def wh(built, tmp_path):
    dst = str(tmp_path / "wh")
    shutil.copytree(built[1], dst)
    return dst


def _verify(spark, wh, src, group=None):
    return _run(decode_job.main, ["--warehouse", wh, "--source", src,
                                  "--master", "local[4]"], spark, group)


def _rewrite_one(path, column, row, mutate, keep_crc):
    """Rewrite parquet file ``path`` with ``column``[row] mutated;
    keep or drop Hadoop's ``.crc`` sidecar next to it."""
    t = pq.read_table(path)
    vals = t.column(column).to_pylist()
    vals[row] = mutate(vals[row])
    idx = t.schema.get_field_index(column)
    t = t.set_column(idx, t.schema.field(idx), [vals])
    pq.write_table(t, path)
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    assert os.path.exists(crc)
    if not keep_crc:
        os.remove(crc)


def _tamper_manifest_checksum(wh, keep_crc):
    path = sorted(glob.glob(f"{wh}/manifests/*.parquet"))[0]
    _rewrite_one(path, "checksum", 0, lambda c: "0" * len(c), keep_crc)


@pytest.mark.parametrize("keep_crc", [True, False])
def test_tampered_manifest_checksum_is_a_mismatch(spark, built, wh, keep_crc):
    """A committed checksum overwritten after the commit: MISMATCH, exit 4,
    whether or not Spark's stale ``.crc`` sidecar is still there (with it,
    a Spark read of the manifests throws, which once skipped the check and
    verdicted bit-identical)."""
    _tamper_manifest_checksum(wh, keep_crc)
    rc, rec, _ = _verify(spark, wh, built[0])
    assert rc == 4 and rec["status"] == "MISMATCH"
    assert rec["manifest_checksum_mismatches"] == 1
    assert rec["rows_missing"] == 0 and rec["rows_extra"] == 0


def test_corrupted_payload_byte_is_a_mismatch(spark, built, wh):
    """One payload byte of one stored block changed: MISMATCH, exit 4."""
    path = sorted(glob.glob(f"{wh}/blocks/partition_id=0/*.parquet"))[0]
    cols = pq.read_table(path, columns=["column"]).column("column").to_pylist()
    row = cols.index("turn_idx")

    def flip(payload):
        b = bytearray(payload)
        b[len(b) // 2] ^= 0x01
        return bytes(b)

    _rewrite_one(path, "payload", row, flip, keep_crc=False)
    rc, rec, _ = _verify(spark, wh, built[0])
    assert rc == 4 and rec["status"] == "MISMATCH"
    assert rec["manifest_checksum_mismatches"] == 1


def test_clean_warehouse_verifies_within_job_budget(spark, built, wh):
    """A clean warehouse: bit-identical, the parent's column_desc, every
    checksum matched, and no more Spark jobs than the 12 of the design
    that read the manifests through Spark."""
    rc, rec, n_jobs = _verify(spark, wh, built[0], group="verify-budget")
    assert rc == 0 and rec["status"] == "bit-identical"
    assert rec["manifest_checksum_mismatches"] == 0
    assert rec["column_desc"] == PARENT_COLUMN_DESC
    assert list(rec["column_desc"]) == sorted(PARENT_COLUMN_DESC)
    assert n_jobs <= 12


def test_verify_without_manifests_skips_the_check(spark, built, wh):
    """Only a warehouse with no manifests table reports -1."""
    shutil.rmtree(f"{wh}/manifests")
    rc, rec, _ = _verify(spark, wh, built[0])
    assert rc == 0 and rec["status"] == "bit-identical"
    assert rec["manifest_checksum_mismatches"] == -1
    assert rec["column_desc"] is None


def test_unreadable_manifests_raise_not_fall_back(spark, wh, monkeypatch):
    """A manifests read failing with anything but FileNotFoundError (here
    a network error) propagates from routing, ctypes and committed ids —
    it must not read as "no manifests" (resume from zero, an unrouted
    full scan, or a skipped integrity check)."""
    real = pads.dataset

    def flaky(source, *a, **kw):
        if str(source).rstrip("/").endswith("/manifests"):
            raise OSError("network")
        return real(source, *a, **kw)

    monkeypatch.setattr(pads, "dataset", flaky)
    with pytest.raises(OSError, match="network"):
        scan.fetch_conversation(spark, wh, "conv-00000042")
    with pytest.raises(OSError, match="network"):
        datasource.infer_ctypes(f"{wh}/blocks")
    with pytest.raises(OSError, match="network"):
        manifest.committed_partitions(wh, "a")
    with pytest.raises(OSError, match="network"):
        _verify(spark, wh, "unused.parquet")


def test_uri_warehouse_resume_matches_plain_path(spark, built, tmp_path):
    """Encode accepts a ``file://`` warehouse: partial run, resume, noop
    report the same committed counts and leave the same manifest rows as
    the plain-path run."""

    def sequence(out):
        argv = ["--input", built[0], "--out", out, "--partitions", "4",
                "--job-id", "u", "--master", "local[4]"]
        runs = [_run(encode_job.main, argv + ["--fail-after", "2"]),
                _run(encode_job.main, argv), _run(encode_job.main, argv)]
        return [(rc, rec["status"], rec["committed_before"])
                for rc, rec, _ in runs]

    def manifest_rows(path):
        rows = [
            {k: v for k, v in r.asDict().items() if k != "committed_at"}
            for r in spark.read.parquet(f"{path}/manifests").collect()
        ]
        return sorted(rows, key=lambda r: r["partition_id"])

    plain, uri = str(tmp_path / "plain"), str(tmp_path / "uri")
    want = sequence(plain)
    assert want == [(3, "partial", 0), (0, "ok", 2), (0, "noop", 4)]
    assert sequence(f"file://{uri}") == want
    assert manifest_rows(uri) == manifest_rows(plain)
