"""jobs/delete.py: targeted conversation deletion via manifests routing."""

from __future__ import annotations

import contextlib
import io
import json

import pytest
from pyspark.sql import functions as F

import jobs.delete as delete_job
import jobs.encode as encode_job
from vcf2df_spark import fixtures
from vcf2df_spark.datasource import read_warehouse
from vcf2df_spark.scan import fetch_conversation


def _run(main, argv):
    out = io.StringIO()
    code = 0
    with contextlib.redirect_stdout(out):
        try:
            main(argv)
        except SystemExit as e:
            code = e.code or 0
    lines = [json.loads(l) for l in out.getvalue().strip().splitlines() if l]
    return code, lines[-1]


@pytest.fixture()
def wh(spark, tmp_path):
    src = tmp_path / "src.parquet"
    fixtures.write_parquet(fixtures.transcripts_small(n_convs=60), str(src))
    root = str(tmp_path / "dwh")
    code, rec = _run(encode_job.main, [
        "--input", str(src), "--out", root, "--partitions", "8",
        "--job-id", "d0", "--master", "local[4]",
    ])
    assert code == 0 and rec["status"] == "ok"
    return root


def test_delete_conversation(spark, wh):
    full = read_warehouse(spark, wh)
    cid = full.select("conv_id").first()[0]
    n_total = full.count()
    n_conv = full.filter(F.col("conv_id") == cid).count()
    assert n_conv > 0
    # survivors captured BEFORE the rewrite (the lazy plan would otherwise
    # re-read the rewritten warehouse and compare it to itself)
    want = (
        full.filter(F.col("conv_id") != cid)
        .orderBy("conv_id", "turn_idx").collect()
    )

    code, rec = _run(delete_job.main, [
        "--warehouse", wh, "--conv-id", cid, "--master", "local[4]",
    ])
    assert code == 0 and rec["status"] == "ok"
    assert rec["rows_deleted"] == n_conv
    assert rec["partitions_rewritten"], rec

    # gone from every read surface; everything else intact bit-for-bit
    after = read_warehouse(spark, wh)
    assert after.filter(F.col("conv_id") == cid).count() == 0
    assert after.count() == n_total - n_conv
    assert len(fetch_conversation(spark, wh, cid)) == 0

    got = after.orderBy("conv_id", "turn_idx").collect()
    assert got == want

    # manifests invariant: one committed row per partition, no stale pids
    m = spark.read.parquet(f"{wh}/manifests").toPandas()
    assert m["partition_id"].is_unique
    assert int(m["n_rows"].sum()) == n_total - n_conv

    # repeat delete: noop
    code, rec = _run(delete_job.main, [
        "--warehouse", wh, "--conv-id", cid, "--master", "local[4]",
    ])
    assert code == 0 and rec["status"] == "noop" and rec["rows_deleted"] == 0


def test_delete_requires_routing(spark, tmp_path):
    """A warehouse without routing metadata fails loudly, never scans."""
    from vcf2df_spark import manifest
    from vcf2df_spark.encode import encode_transcripts, normalize_input

    src = normalize_input(
        spark.createDataFrame(fixtures.transcripts_small(n_convs=10))
    )
    root = str(tmp_path / "nrwh")
    blocks = encode_transcripts(src, num_partitions=2)
    blocks.write.partitionBy("partition_id").parquet(f"{root}/blocks")
    manifest.build_manifests(blocks, "j", "mem").write.parquet(
        f"{root}/manifests"
    )  # no num_partitions on record
    code, rec = _run(delete_job.main, [
        "--warehouse", root, "--conv-id", "conv-00000001",
        "--master", "local[4]",
    ])
    assert code == 2 and rec["status"] == "error"
    assert "routing" in rec["error"] or "num_partitions" in rec["error"]


def test_batch_delete(spark, wh):
    """Several conversations in ONE routed rewrite (union of routes)."""
    full = read_warehouse(spark, wh)
    cids = [r[0] for r in
            full.select("conv_id").distinct().orderBy("conv_id").take(3)]
    n_total = full.count()
    n_del = full.filter(F.col("conv_id").isin(cids)).count()
    assert n_del > 0

    argv = ["--warehouse", wh, "--master", "local[4]"]
    for c in cids:
        argv += ["--conv-id", c]
    code, rec = _run(delete_job.main, argv)
    assert code == 0 and rec["status"] == "ok"
    assert rec["rows_deleted"] == n_del

    after = read_warehouse(spark, wh)
    assert after.filter(F.col("conv_id").isin(cids)).count() == 0
    assert after.count() == n_total - n_del
    m = spark.read.parquet(f"{wh}/manifests").toPandas()
    assert m["partition_id"].is_unique
    assert int(m["n_rows"].sum()) == n_total - n_del


def test_delete_with_pre_r4_manifests(spark, wh):
    """Manifests written before schema_sig existed: the delete reads them
    with the manifests schema (the missing column reads null), succeeds,
    and the warehouse decodes bit-identical to the survivors."""
    import shutil

    legacy = spark.read.parquet(f"{wh}/manifests").drop("schema_sig")
    legacy.write.parquet(f"{wh}/manifests_legacy")
    shutil.rmtree(f"{wh}/manifests")
    shutil.move(f"{wh}/manifests_legacy", f"{wh}/manifests")

    full = read_warehouse(spark, wh)
    cid = full.select("conv_id").orderBy("conv_id").first()[0]
    want = (full.filter(F.col("conv_id") != cid)
            .orderBy("conv_id", "turn_idx").collect())
    code, rec = _run(delete_job.main, [
        "--warehouse", wh, "--conv-id", cid, "--master", "local[4]",
    ])
    assert code == 0 and rec["status"] == "ok" and rec["rows_deleted"] > 0
    got = read_warehouse(spark, wh).orderBy("conv_id", "turn_idx").collect()
    assert got == want


def test_delete_on_sharded_layout(spark, tmp_path):
    """The two-level shard=N/partition_id=M layout: the delete rewrites the
    correct shard subdirs and the routed lookup stays consistent."""
    src = tmp_path / "ssrc.parquet"
    fixtures.write_parquet(fixtures.transcripts_small(n_convs=60), str(src))
    wh = str(tmp_path / "swh")
    code, rec = _run(encode_job.main, [
        "--input", str(src), "--out", wh, "--partitions", "8",
        "--shard-dirs", "2", "--job-id", "sd", "--master", "local[4]",
    ])
    assert code == 0

    full = read_warehouse(spark, wh)
    cid = full.select("conv_id").first()[0]
    n_total = full.count()
    n_conv = full.filter(F.col("conv_id") == cid).count()

    code, rec = _run(delete_job.main, [
        "--warehouse", wh, "--conv-id", cid, "--master", "local[4]",
    ])
    assert code == 0 and rec["status"] == "ok"
    assert rec["rows_deleted"] == n_conv > 0

    after = read_warehouse(spark, wh)
    assert after.count() == n_total - n_conv
    assert after.filter(F.col("conv_id") == cid).count() == 0
    assert len(fetch_conversation(spark, wh, cid)) == 0
    # layout invariant intact: rewritten dirs stayed under their shards
    import os

    for shard in os.listdir(f"{wh}/blocks"):
        assert shard.startswith("shard=")
        s = int(shard.split("=")[1])
        for pd_dir in os.listdir(f"{wh}/blocks/{shard}"):
            assert int(pd_dir.split("=")[1]) % 2 == s


def test_delete_never_collects_manifests_to_driver(spark, wh, monkeypatch):
    """The manifests rewrite is a staged Spark write + dir swap — never a
    driver materialization of the untouched table (at ~400k manifest rows
    that would be a multi-hundred-MB single-threaded round-trip on every
    delete). Every driver collect during the delete must stay O(touched):
    routing metadata and touched-partition ids, nothing warehouse-sized."""
    # patch the CONCRETE class: pyspark.sql.DataFrame is the abstract base
    # in Spark 4 and its classic subclass overrides collect
    from pyspark.sql.classic.dataframe import DataFrame

    full = read_warehouse(spark, wh)
    cid = full.select("conv_id").first()[0]

    collected: list[int] = []
    real_collect = DataFrame.collect

    def counting_collect(self):
        rows = real_collect(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    code, rec = _run(delete_job.main, [
        "--warehouse", wh, "--conv-id", cid, "--master", "local[4]",
    ])
    assert code == 0 and rec["status"] == "ok"
    n_manifest_rows = spark.read.parquet(f"{wh}/manifests").count()
    assert n_manifest_rows == 8  # one per partition, none dropped
    # largest collect during the delete is far below the manifests table
    # (r6: the delete path needs NO driver collect at all — counts ride
    # the staging write via observe(), routing metadata is pyarrow)
    assert max(collected, default=0) <= len(rec["partitions_routed"]) + 1


def test_delete_keeps_chunk_groups_whole_per_file(spark, tmp_path):
    """Blocks write invariant under rewrite: every (partition, chunk)
    group's block rows land in ONE file — the staged blocks are
    grouped by partition_id before the staging write, so a
    staging scan split can never scatter a group across files (at
    production dir sizes Spark splits scans at row-group boundaries)."""
    import os

    from collections import defaultdict

    import pyarrow.parquet as pq

    src = tmp_path / "csrc.parquet"
    fixtures.write_parquet(fixtures.transcripts_small(n_convs=80), str(src))
    root = str(tmp_path / "cwh")
    code, rec = _run(encode_job.main, [
        "--input", str(src), "--out", root, "--partitions", "4",
        "--job-id", "cg", "--master", "local[4]",
    ])
    assert code == 0

    full = read_warehouse(spark, root)
    cid = full.select("conv_id").first()[0]
    n_total = full.count()  # BEFORE the rewrite (lazy plans re-read)
    code, rec = _run(delete_job.main, [
        "--warehouse", root, "--conv-id", cid, "--master", "local[4]",
    ])
    assert code == 0 and rec["status"] == "ok"

    for pid in rec["partitions_rewritten"]:
        d = f"{root}/blocks/partition_id={pid}"
        files_of_chunk = defaultdict(set)
        for fn in os.listdir(d):
            if not fn.endswith(".parquet"):
                continue
            t = pq.read_table(f"{d}/{fn}", columns=["chunk_idx"])
            for ci in set(t.column("chunk_idx").to_pylist()):
                files_of_chunk[ci].add(fn)
        assert files_of_chunk, d
        for ci, fns in files_of_chunk.items():
            assert len(fns) == 1, (pid, ci, fns)

    # and the read path actually decodes the rewritten warehouse
    after = read_warehouse(spark, root)
    assert after.count() == n_total - rec["rows_deleted"]
    assert after.filter(F.col("conv_id") == cid).count() == 0


def _stream_wh(spark, tmp_path) -> tuple[str, int]:
    """Two-epoch streaming-shaped warehouse (micro-batch chunks)."""
    from vcf2df_spark.encode import encode_transcripts, normalize_input

    root = str(tmp_path / "epwh")
    total = 0
    for epoch in (0, 1):
        pdf = fixtures.transcripts_small(n_convs=30, seed=11 + epoch)
        pdf["conv_id"] = f"e{epoch}-" + pdf["conv_id"]
        total += len(pdf)
        src = normalize_input(spark.createDataFrame(pdf))
        encode_transcripts(src, num_partitions=2, chunk_rows=64).write.parquet(
            f"{root}/blocks/epoch={epoch}"
        )
    return root, total


def test_delete_epoch_warehouse_refused_without_via_compact(spark, tmp_path):
    """In-place rewrite of epoch dirs is unsafe (live checkpoint may
    append; epoch IS the block identity) — the error says what to do."""
    from vcf2df_spark import manifest

    root, _ = _stream_wh(spark, tmp_path)
    # streaming layout: one manifests/epoch=N dir per epoch (streaming.py)
    for epoch in (0, 1):
        blocks = spark.read.parquet(f"{root}/blocks/epoch={epoch}")
        manifest.build_manifests(
            blocks, f"s-epoch{epoch}", "mem", num_partitions=2
        ).write.parquet(f"{root}/manifests/epoch={epoch}")
    code, rec = _run(delete_job.main, [
        "--warehouse", root, "--conv-id", "e0-conv-00000001",
        "--master", "local[4]",
    ])
    assert code == 2 and rec["status"] == "error"
    assert "--via-compact" in rec["error"]


def test_delete_via_compact_on_epoch_warehouse(spark, tmp_path):
    """Epoch-warehouse delete = filtered compaction: the new warehouse has
    every surviving row bit-for-bit, none of the deleted conversation, and
    serves routed point lookups."""
    root, total = _stream_wh(spark, tmp_path)
    full = read_warehouse(spark, root)
    cid = full.select("conv_id").orderBy("conv_id").first()[0]
    n_conv = full.filter(F.col("conv_id") == cid).count()
    assert n_conv > 0
    want = (
        full.filter(F.col("conv_id") != cid)
        .orderBy("conv_id", "turn_idx").collect()
    )

    out = str(tmp_path / "epout")
    code, rec = _run(delete_job.main, [
        "--warehouse", root, "--conv-id", cid, "--via-compact",
        "--out", out, "--partitions", "4", "--master", "local[4]",
    ])
    assert code == 0 and rec["status"] == "ok"
    assert rec["rows_deleted"] == n_conv
    assert rec["rows"] == total - n_conv

    after = read_warehouse(spark, out)
    assert after.filter(F.col("conv_id") == cid).count() == 0
    got = after.orderBy("conv_id", "turn_idx").collect()
    assert got == want
    assert len(fetch_conversation(spark, out, cid)) == 0
    # the survivors' routed lookup works on the compacted output
    other = want[0].conv_id
    n_other = sum(1 for r in want if r.conv_id == other)
    assert len(fetch_conversation(spark, out, other)) == n_other

    # --via-compact without --out fails before touching anything
    code, rec = _run(delete_job.main, [
        "--warehouse", root, "--conv-id", cid, "--via-compact",
        "--master", "local[4]",
    ])
    assert code == 2 and "--out" in rec["error"]


def test_delete_rejects_remote_warehouse(spark):
    """A remote URI would make the dir swaps silent no-ops (deleted rows
    resurrect on the next read) — refuse loudly instead."""
    code, rec = _run(delete_job.main, [
        "--warehouse", "s3://bucket/wh", "--conv-id", "c-1",
        "--master", "local[4]",
    ])
    assert code == 2 and rec["status"] == "error"
    assert "local" in rec["error"]


def test_bulk_delete_via_ids_file_and_anti_join(spark, wh, tmp_path,
                                                monkeypatch):
    """Bulk GDPR shape: ids from --conv-ids-file, batch routing (ONE
    manifests read for the whole batch), and — with the isin threshold
    forced to 0 — the broadcast anti-join drop filter, all through the
    job surface."""
    import pyarrow.dataset as pads

    import vcf2df_spark.rewrite as rewrite_mod

    monkeypatch.setattr(rewrite_mod, "_ISIN_MAX_IDS", 0)

    full = read_warehouse(spark, wh)
    cids = [r[0] for r in
            full.select("conv_id").distinct().orderBy("conv_id").take(4)]
    n_total = full.count()
    n_del = full.filter(F.col("conv_id").isin(cids)).count()

    ids_file = tmp_path / "erase.txt"
    ids_file.write_text("\n".join(cids[1:]) + "\n\n")
    opens: list[str] = []
    real_dataset = pads.dataset

    def counting(source, *a, **kw):
        if str(source).rstrip("/").endswith("/manifests"):
            opens.append(source)
        return real_dataset(source, *a, **kw)

    monkeypatch.setattr(pads, "dataset", counting)
    code, rec = _run(delete_job.main, [
        "--warehouse", wh, "--conv-id", cids[0],
        "--conv-ids-file", str(ids_file), "--master", "local[4]",
    ])
    assert code == 0 and rec["status"] == "ok"
    assert rec["rows_deleted"] == n_del
    # the whole batch routed from ONE manifests open (no per-id loop)
    assert len(opens) == 1
    monkeypatch.setattr(pads, "dataset", real_dataset)

    after = read_warehouse(spark, wh)
    assert after.filter(F.col("conv_id").isin(cids)).count() == 0
    assert after.count() == n_total - n_del

    # no ids at all: loud error before any Spark work
    code, rec = _run(delete_job.main, ["--warehouse", wh,
                                       "--master", "local[4]"])
    assert code == 2 and "no conversations" in rec["error"]


def test_route_many_matches_per_id_routes(spark, wh):
    """Batch routing returns exactly the union of single-id routes."""
    from vcf2df_spark.manifest import WarehouseMeta

    full = read_warehouse(spark, wh)
    cids = [r[0] for r in
            full.select("conv_id").distinct().orderBy("conv_id").take(5)]
    want: set = set()
    shard = None
    for c in cids:
        p, shard = WarehouseMeta.load(wh).route([c])
        want.update(p)
    got, got_shard = WarehouseMeta.load(wh).route(cids)
    assert sorted(want) == got and shard == got_shard


def test_delete_mega_conversation_skew(spark, tmp_path):
    """Deleting the skew fixture's mega-conversation (~30% of all turns):
    the salted re-encode of the survivors still lands them in the routed
    partitions and the rest of the warehouse is untouched."""
    src = tmp_path / "sksrc.parquet"
    fixtures.write_parquet(
        fixtures.transcripts_skew(n_convs=200, mega_len=4000), str(src)
    )
    wh = str(tmp_path / "skwh")
    code, rec = _run(encode_job.main, [
        "--input", str(src), "--out", wh, "--partitions", "8",
        "--job-id", "sk", "--master", "local[4]",
    ])
    assert code == 0

    full = read_warehouse(spark, wh)
    mega = (
        full.groupBy("conv_id").count().orderBy(F.desc("count")).first()
    )
    n_total = full.count()
    assert mega["count"] == 4000

    code, rec = _run(delete_job.main, [
        "--warehouse", wh, "--conv-id", mega["conv_id"],
        "--master", "local[4]",
    ])
    assert code == 0 and rec["status"] == "ok"
    assert rec["rows_deleted"] == 4000

    after = read_warehouse(spark, wh)
    assert after.count() == n_total - 4000
    assert after.filter(F.col("conv_id") == mega["conv_id"]).count() == 0
    m = spark.read.parquet(f"{wh}/manifests").toPandas()
    assert int(m["n_rows"].sum()) == n_total - 4000


def test_rewrite_lock_excludes_concurrent_rewrites(spark, wh):
    """Two staged rewrites on one warehouse would race on the staging dir
    and the manifests swap — the O_EXCL lock makes the second fail loudly
    with the holder's job id, and a finished rewrite releases it."""
    import os

    lock = f"{wh}/.rewrite_lock"
    with open(lock, "w") as f:
        f.write("other-job")
    full = read_warehouse(spark, wh)
    cid = full.select("conv_id").first()[0]
    code, rec = _run(delete_job.main, [
        "--warehouse", wh, "--conv-id", cid, "--master", "local[4]",
    ])
    assert code == 2 and rec["status"] == "error"
    assert "other-job" in rec["error"] and ".rewrite_lock" in rec["error"]
    os.unlink(lock)

    code, rec = _run(delete_job.main, [
        "--warehouse", wh, "--conv-id", cid, "--master", "local[4]",
    ])
    assert code == 0 and rec["status"] == "ok"
    assert not os.path.exists(lock), "finished rewrite must release the lock"


def test_rewrite_recovers_from_crashed_manifests_swap(spark, wh):
    """A rewrite that died between `manifests -> .manifests_old` and the
    staging move leaves the warehouse with no manifests dir. The next
    rewrite restores the pre-swap manifests before routing and completes
    normally."""
    import os
    import shutil

    full = read_warehouse(spark, wh)
    cid = full.select("conv_id").first()[0]
    n_total = full.count()
    n_conv = full.filter(F.col("conv_id") == cid).count()

    # simulate the crash window
    os.rename(f"{wh}/manifests", f"{wh}/.manifests_old")
    shutil.rmtree(f"{wh}/.rewrite_staging", ignore_errors=True)

    code, rec = _run(delete_job.main, [
        "--warehouse", wh, "--conv-id", cid, "--master", "local[4]",
    ])
    assert code == 0 and rec["status"] == "ok"
    assert rec["rows_deleted"] == n_conv > 0
    assert os.path.exists(f"{wh}/manifests")
    assert not os.path.exists(f"{wh}/.manifests_old")
    after = read_warehouse(spark, wh)
    assert after.count() == n_total - n_conv
    m = spark.read.parquet(f"{wh}/manifests").toPandas()
    assert int(m["n_rows"].sum()) == n_total - n_conv


def test_stats_job_consistent_after_rewrite(spark, wh, capsys):
    """The no-Spark ANALYZE reads the swapped-in manifests: after a
    delete its row count and schema summary reflect the rewrite (catches
    manifest-schema drift through the staged rewrite's projection)."""
    import jobs.stats as stats_job

    full = read_warehouse(spark, wh)
    cid = full.select("conv_id").first()[0]
    n_total = full.count()
    n_conv = full.filter(F.col("conv_id") == cid).count()
    code, rec = _run(delete_job.main, [
        "--warehouse", wh, "--conv-id", cid, "--master", "local[4]",
    ])
    assert code == 0 and rec["status"] == "ok"

    stats_job.main(["--warehouse", wh])
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["status"] == "ok"
    assert s["n_rows"] == n_total - n_conv
    assert s["partitions"] == 8
    assert s["schema"]["text"] == "str"
    assert "delete-" + cid in s["jobs"] or any(
        j.startswith("delete-") for j in s["jobs"]
    )


def test_delete_restores_overwrite_mode(spark, wh, tmp_path):
    """partitionOverwriteMode is session-shared state: encode, delete and
    forget must each leave whatever was set before they ran."""
    from vcf2df_spark import ann

    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    code, rec = _run(encode_job.main, [
        "--input", str(tmp_path / "src.parquet"),
        "--out", str(tmp_path / "ewh"), "--partitions", "4",
        "--job-id", "e0", "--master", "local[4]",
    ])
    assert code == 0 and rec["status"] == "ok"
    assert spark.conf.get(key).lower() == "static"

    full = read_warehouse(spark, wh)
    cid = full.select("conv_id").first()[0]
    code, rec = _run(delete_job.main, [
        "--warehouse", wh, "--conv-id", cid, "--master", "local[4]",
    ])
    assert code == 0 and rec["status"] == "ok"
    assert spark.conf.get(key).lower() == "static"

    emb = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 7), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "idx")
    ann.build_index(spark, emb, idx, k_cells=4)
    assert ann.forget(spark, idx, [3])["n_forgotten"] == 1
    assert spark.conf.get(key).lower() == "static"
    spark.conf.unset(key)
