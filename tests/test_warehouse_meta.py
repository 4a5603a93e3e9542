"""The one manifests reader (manifest.WarehouseMeta) and what rests on it.

decode_verify's integrity check compares every manifest row's checksum
with one recomputed from the stored blocks; only a warehouse WITHOUT
manifests may skip it. A scan task holds one partition's files (a dir of
several files included) and compares that partition's checksums, keyed by
(epoch, partition_id), in every layout; a partition spread over two scan
tasks (a flat or epoch partition split across files) is compared twice and
fails the job, as does a copied file, whose chunks collide inside its
task. Absence means ``FileNotFoundError`` and nothing
else: any other read error (an unreachable remote store) must fail the
caller instead of looking like a fresh or manifest-less warehouse.

The Spark job budgets of verify, delete and append on one clean
warehouse are gated here too.
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
    checksum matched by the scan tasks, and no more Spark jobs than the 4
    of the two signature aggregates (8 with a blocks re-read for the
    checksums and a source schema inference job; 12 reading the
    manifests through Spark)."""
    rc, rec, n_jobs = _verify(spark, wh, built[0], group="verify-budget")
    assert rc == 0 and rec["status"] == "bit-identical"
    assert rec["manifest_checksum_mismatches"] == 0
    assert rec["manifest_rows_compared"] == 4
    assert rec["column_desc"] == PARENT_COLUMN_DESC
    assert list(rec["column_desc"]) == sorted(PARENT_COLUMN_DESC)
    assert n_jobs <= 4


def _split_partition_file(wh):
    """partition_id=0's one blocks file rewritten as two files, each
    holding whole chunks (the write invariant still holds)."""
    [path] = glob.glob(f"{wh}/blocks/partition_id=0/*.parquet")
    t = pq.read_table(path)
    first = pads.field("chunk_idx") == 0
    os.remove(path)
    pq.write_table(t.filter(first), path.replace(".parquet", "-a.parquet"))
    pq.write_table(t.filter(~first), path.replace(".parquet", "-b.parquet"))


def _flatten(wh):
    """The partition dirs rewritten as flat ``blocks/*.parquet`` files that
    carry partition_id as a column."""
    import pyarrow as pa

    for i, d in enumerate(sorted(glob.glob(f"{wh}/blocks/partition_id=*"))):
        pid = int(d.rsplit("=", 1)[1])
        t = pads.dataset(d, format="parquet").to_table()
        t = t.add_column(0, "partition_id",
                         pa.array([pid] * t.num_rows, pa.int32()))
        pq.write_table(t, f"{wh}/blocks/part-{i}.parquet")
        shutil.rmtree(d)


@pytest.mark.parametrize("layout", ["split-dir", "flat", "deep"])
def test_tampered_checksum_in_every_layout(spark, built, wh, layout):
    """Every layout compares every manifest row: intact, it verifies with
    all 4 rows compared; one tampered checksum is exactly 1 mismatch,
    whether a scan task compares it (``--deep`` included) or the Spark
    aggregate over a dir of two files or over flat files does."""
    if layout == "split-dir":
        _split_partition_file(wh)
        assert len(glob.glob(f"{wh}/blocks/partition_id=0/*.parquet")) == 2
    elif layout == "flat":
        _flatten(wh)
    argv = ["--warehouse", wh, "--source", built[0], "--master", "local[4]"]
    argv += ["--deep"] if layout == "deep" else []
    rc, rec, n_jobs = _run(decode_job.main, argv, spark, f"verify-{layout}")
    assert rc == 0 and rec["status"] == "bit-identical", rec
    if layout != "deep":  # the scan compares, no checksum aggregate
        assert n_jobs <= 4
    assert rec["manifest_checksum_mismatches"] == 0
    assert rec["manifest_rows_compared"] == 4
    _tamper_manifest_checksum(wh, keep_crc=False)
    rc, rec, _ = _run(decode_job.main, argv)
    assert rc == 4 and rec["status"] == "MISMATCH"
    assert rec["manifest_checksum_mismatches"] == 1
    assert rec["rows_missing"] == 0 and rec["rows_extra"] == 0


def test_epoch_warehouse_keys_checksums_by_epoch(spark, tmp_path):
    """Two epochs reuse partition ids 0 and 1. Intact, the warehouse
    verifies bit-identical (a recompute keyed by partition_id alone
    reported 4 mismatches); one tampered epoch checksum is exactly 1."""
    import pandas as pd

    from tests.test_stream_source import _write_epoch

    wh = str(tmp_path / "ewh")
    n = sum(_write_epoch(spark, wh, e) for e in (0, 1))
    frames = []
    for e in (0, 1):
        pdf = fixtures.transcripts_small(n_convs=25, seed=100 + e)
        frames.append(pdf.assign(conv_id=f"e{e}-" + pdf["conv_id"]))
    src = str(tmp_path / "union.parquet")
    fixtures.write_parquet(pd.concat(frames, ignore_index=True), src)
    assert manifest.WarehouseMeta.load(wh).has_epoch
    rc, rec, n_jobs = _verify(spark, wh, src, group="verify-epochs")
    assert rc == 0 and rec["status"] == "bit-identical", rec
    assert n_jobs <= 4
    assert rec["rows_decoded"] == n
    assert rec["manifest_checksum_mismatches"] == 0
    assert rec["manifest_rows_compared"] == 4
    path = sorted(glob.glob(f"{wh}/manifests/epoch=1/*.parquet"))[0]
    _rewrite_one(path, "checksum", 0, lambda c: "0" * len(c), keep_crc=False)
    rc, rec, _ = _verify(spark, wh, src)
    assert rc == 4 and rec["status"] == "MISMATCH"
    assert rec["manifest_checksum_mismatches"] == 1


def test_flat_partition_split_over_two_files_fails_loudly(spark, tmp_path):
    """A flat layout whose partition 0 spans two files, each of whole
    chunks (no writer makes one), is compared by two scan tasks, each over
    part of the partition: the job fails loudly and never reports
    bit-identical."""
    from vcf2df_spark.encode import encode_transcripts, normalize_input

    pdf = fixtures.transcripts_small(n_convs=25)
    src = str(tmp_path / "src.parquet")
    fixtures.write_parquet(pdf, src)
    wh = str(tmp_path / "flat")
    blocks = encode_transcripts(normalize_input(spark.createDataFrame(pdf)),
                                num_partitions=2, chunk_rows=64)
    blocks.write.parquet(f"{wh}/blocks")
    manifest.build_manifests(manifest.read_blocks(spark, f"{wh}/blocks"),
                             "flat", src).write.parquet(f"{wh}/manifests")
    [path] = [f for f in glob.glob(f"{wh}/blocks/*.parquet")
              if 0 in pq.read_table(f, columns=["partition_id"])
              .column(0).to_pylist()]
    t = pq.read_table(path)
    head = (pads.field("partition_id") == 0) & (pads.field("chunk_idx") == 0)
    assert 0 < t.filter(head).num_rows < t.num_rows
    os.remove(path)
    pq.write_table(t.filter(head), path.replace(".parquet", "-a.parquet"))
    pq.write_table(t.filter(~head), path.replace(".parquet", "-b.parquet"))
    buf = io.StringIO()
    with pytest.raises(RuntimeError, match="checksum check incomplete"), \
            contextlib.redirect_stdout(buf):
        decode_job.main(["--warehouse", wh, "--source", src,
                         "--master", "local[4]"])
    assert "bit-identical" not in buf.getvalue()


def test_copied_blocks_file_is_refused(spark, wh):
    """A copy of a partition dir's file lands in that dir's scan task: the
    read raises on the colliding chunks instead of returning every row of
    the partition twice (or once, silently overwritten)."""
    [path] = glob.glob(f"{wh}/blocks/partition_id=0/*.parquet")
    shutil.copy(path, path.replace(".parquet", "-copy.parquet"))
    with pytest.raises(Exception, match="colliding chunks"):
        datasource.read_warehouse(spark, wh).count()


def test_uncompared_manifest_rows_fail_loudly(spark, built, wh, monkeypatch):
    """A manifest row the scan tasks did not compare fails the job; it
    never reports 0 mismatches. (The patch adds a row on the driver
    only: the read's planning runs in its own Python process.)"""
    real = manifest.WarehouseMeta.checksums

    def one_more(self):
        out = real(self)
        out[(None, 0)] = out[(None, 0)] + ["0" * 64]
        return out

    monkeypatch.setattr(manifest.WarehouseMeta, "checksums", one_more)
    with pytest.raises(RuntimeError, match="compared 4 of the 5"):
        _verify(spark, wh, built[0])


def _delete(spark, wh, conv_ids, group):
    import jobs.delete as delete_job

    argv = ["--warehouse", wh, "--master", "local[4]"]
    for c in conv_ids:
        argv += ["--conv-id", c]
    return _run(delete_job.main, argv, spark, group)


def test_delete_within_job_budget(spark, wh):
    """A routed delete of 2 conversations decodes its merged partitions in
    place through the datasource and reads the manifests with their
    schema: at most 4 Spark jobs (7 with the grouped decode over a
    schema-less parquet read of the dirs)."""
    cids = sorted(fixtures.transcripts_small()["conv_id"].unique())[:2]
    rc, rec, n_jobs = _delete(spark, wh, cids, "delete-budget")
    assert rc == 0 and rec["status"] == "ok" and rec["rows_deleted"] > 0
    assert n_jobs <= 4


def test_unmatched_delete_within_job_budget(spark, wh):
    """A delete that matches nothing is a noop of at most 2 Spark jobs
    (4 with the grouped decode)."""
    rc, rec, n_jobs = _delete(spark, wh, ["conv-absent"], "noop-budget")
    assert rc == 0 and rec["status"] == "noop" and rec["rows_deleted"] == 0
    assert n_jobs <= 2


def test_append_encode_within_job_budget(spark, wh, tmp_path):
    """An encode of one new conversation into the committed partition it
    hashes to: at most 7 Spark jobs (10 with the grouped decode)."""
    small = fixtures.transcripts_small()
    one = small[small["conv_id"] == small["conv_id"].iloc[0]].head(5)
    path = str(tmp_path / "one.parquet")
    fixtures.write_parquet(one.assign(conv_id="conv-77777777"), path)
    rc, rec, n_jobs = _run(encode_job.main, [
        "--input", path, "--out", wh, "--partitions", "4", "--job-id", "b",
        "--master", "local[4]"], spark, "append-budget")
    assert rc == 0 and rec["status"] == "ok", rec
    assert rec["rows_encoded"] == 5 and rec["partitions_merged"] == 1
    assert n_jobs <= 7


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
