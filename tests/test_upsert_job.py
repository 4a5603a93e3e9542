"""jobs/upsert.py: routed in-place replacement of whole conversations."""

from __future__ import annotations

import contextlib
import io
import json
import os

import pytest
from pyspark.sql import functions as F

import jobs.encode as encode_job
import jobs.upsert as upsert_job
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


def _dir_snapshot(root):
    """{relpath: (size, mtime_ns)} for every file under root."""
    snap = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            st = os.stat(p)
            snap[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return snap


@pytest.fixture()
def wh(spark, tmp_path):
    src = tmp_path / "usrc.parquet"
    fixtures.write_parquet(fixtures.transcripts_small(n_convs=60), str(src))
    root = str(tmp_path / "uwh")
    code, rec = _run(encode_job.main, [
        "--input", str(src), "--out", root, "--partitions", "8",
        "--job-id", "u0", "--master", "local[4]",
    ])
    assert code == 0 and rec["status"] == "ok"
    return root


def test_upsert_replaces_conversation_bit_identical(spark, wh, tmp_path):
    full = read_warehouse(spark, wh)
    cid = full.select("conv_id").orderBy("conv_id").first()[0]
    n_total = full.count()
    n_old = full.filter(F.col("conv_id") == cid).count()
    assert n_old > 0
    untouched_want = (
        full.filter(F.col("conv_id") != cid)
        .orderBy("conv_id", "turn_idx").collect()
    )

    # corrected conversation: fewer turns, new text
    corrected = spark.createDataFrame(
        [(cid, i, "assistant", f"corrected turn {i}", "", None)
         for i in range(3)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    ).withColumn("ts", F.timestamp_micros(F.lit(1700000000000000)))
    rep = str(tmp_path / "rep.parquet")
    corrected.write.parquet(rep)

    snap_before = _dir_snapshot(f"{wh}/blocks")
    code, rec = _run(upsert_job.main, [
        "--warehouse", wh, "--input", rep, "--master", "local[4]",
    ])
    assert code == 0 and rec["status"] == "ok"
    assert rec["rows_deleted"] == n_old and rec["rows_inserted"] == 3

    after = read_warehouse(spark, wh)
    got = after.filter(F.col("conv_id") == cid).orderBy("turn_idx").collect()
    assert [r["text"] for r in got] == [f"corrected turn {i}" for i in range(3)]
    assert after.count() == n_total - n_old + 3
    # the routed point lookup serves the corrected rows too
    assert len(fetch_conversation(spark, wh, cid)) == 3

    # everything OUTSIDE the routed partitions is byte-identical on disk
    snap_after = _dir_snapshot(f"{wh}/blocks")
    touched = {f"partition_id={p}" for p in rec["partitions_rewritten"]}
    for rel, sig in snap_before.items():
        if any(rel.startswith(t + os.sep) or rel.startswith(t + "/")
               for t in touched):
            continue
        assert snap_after.get(rel) == sig, rel
    # and every untouched row survived bit-for-bit through decode
    got_rest = (
        after.filter(F.col("conv_id") != cid)
        .orderBy("conv_id", "turn_idx").collect()
    )
    assert got_rest == untouched_want

    m = spark.read.parquet(f"{wh}/manifests").toPandas()
    assert m["partition_id"].is_unique
    assert int(m["n_rows"].sum()) == n_total - n_old + 3


def test_upsert_inserts_new_conversation(spark, wh, tmp_path):
    """A conv_id not yet in the warehouse inserts through the same routed
    rewrite (its hash partition is in the routed set by construction)."""
    n_total = read_warehouse(spark, wh).count()
    cid = "conv-zz-new"
    new = spark.createDataFrame(
        [(cid, i, "user", f"fresh {i}", "", None) for i in range(4)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    ).withColumn("ts", F.timestamp_micros(F.lit(1700000000000000)))
    rep = str(tmp_path / "new.parquet")
    new.write.parquet(rep)

    code, rec = _run(upsert_job.main, [
        "--warehouse", wh, "--input", rep, "--master", "local[4]",
    ])
    assert code == 0 and rec["status"] == "ok"
    assert rec["rows_deleted"] == 0 and rec["rows_inserted"] == 4

    after = read_warehouse(spark, wh)
    assert after.count() == n_total + 4
    assert len(fetch_conversation(spark, wh, cid)) == 4


def test_upsert_mixed_batch_replace_and_insert(spark, wh, tmp_path):
    """One routed pass handles a batch mixing two replacements and one
    brand-new conversation (union of routes, single staged rewrite)."""
    full = read_warehouse(spark, wh)
    cids = [r[0] for r in
            full.select("conv_id").distinct().orderBy("conv_id").take(2)]
    n_total = full.count()
    n_old = full.filter(F.col("conv_id").isin(cids)).count()
    new_cid = "conv-zz-batch"

    rows = []
    for cid in cids + [new_cid]:
        rows += [(cid, i, "user", f"batch {cid} {i}", "", None)
                 for i in range(2)]
    batch = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    ).withColumn("ts", F.timestamp_micros(F.lit(1700000000000000)))
    rep = str(tmp_path / "batch.parquet")
    batch.write.parquet(rep)

    code, rec = _run(upsert_job.main, [
        "--warehouse", wh, "--input", rep, "--master", "local[4]",
    ])
    assert code == 0 and rec["status"] == "ok"
    assert rec["rows_deleted"] == n_old and rec["rows_inserted"] == 6

    after = read_warehouse(spark, wh)
    assert after.count() == n_total - n_old + 6
    for cid in cids + [new_cid]:
        assert len(fetch_conversation(spark, wh, cid)) == 2
    m = spark.read.parquet(f"{wh}/manifests").toPandas()
    assert m["partition_id"].is_unique
    assert int(m["n_rows"].sum()) == n_total - n_old + 6


def test_upsert_rejects_remote_warehouse(spark, tmp_path):
    src = str(tmp_path / "r.parquet")
    fixtures.write_parquet(fixtures.transcripts_small(n_convs=2), src)
    code, rec = _run(upsert_job.main, [
        "--warehouse", "s3://bucket/wh", "--input", src,
        "--master", "local[4]",
    ])
    assert code == 2 and rec["status"] == "error" and "local" in rec["error"]


def test_upsert_turns_beyond_warehouse_turn_max(spark, wh, tmp_path):
    """r6 (ADVICE r5): a replacement whose turn_idx exceeds the
    warehouse's persisted turn_max re-keys rows into partitions beyond
    the manifest-derived route — the route must extend with the
    replacement's own turn range (previously a bare assert crash, or
    silent partition loss under python -O)."""
    full = read_warehouse(spark, wh)
    cid = full.select("conv_id").orderBy("conv_id").first()[0]
    n_total = full.count()
    n_old = full.filter(F.col("conv_id") == cid).count()

    # turns far past turn_max: spans three 256-turn splits -> extra pids
    long_rows = [(cid, i, "user", f"long {i}", "", None)
                 for i in (0, 1, 300, 301, 600)]
    corrected = spark.createDataFrame(
        long_rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    ).withColumn("ts", F.timestamp_micros(F.lit(1700000000000000)))
    rep = str(tmp_path / "long.parquet")
    corrected.write.parquet(rep)

    code, rec = _run(upsert_job.main, [
        "--warehouse", wh, "--input", rep, "--master", "local[4]",
    ])
    assert code == 0 and rec["status"] == "ok", rec
    assert rec["rows_deleted"] == n_old and rec["rows_inserted"] == 5

    after = read_warehouse(spark, wh)
    assert after.count() == n_total - n_old + 5
    got = after.filter(F.col("conv_id") == cid).orderBy("turn_idx").collect()
    assert [r["turn_idx"] for r in got] == [0, 1, 300, 301, 600]
    # the routed point lookup must see every split's rows
    assert len(fetch_conversation(spark, wh, cid)) == 5
    m = spark.read.parquet(f"{wh}/manifests").toPandas()
    assert m["partition_id"].is_unique
    assert int(m["n_rows"].sum()) == n_total - n_old + 5


def test_upsert_refuses_duplicate_keys(spark, wh, tmp_path):
    """An input that repeats (conv_id, turn_idx) keys is invalid, as for
    encode: exit 5 before anything is staged, no warehouse file touched."""
    import pandas as pd

    small = fixtures.transcripts_small(n_convs=60)
    one = small[small["conv_id"] == small["conv_id"].iloc[0]]
    rep = str(tmp_path / "dup.parquet")
    fixtures.write_parquet(pd.concat([one, one.iloc[[0, 2]]],
                                     ignore_index=True), rep)
    live = _dir_snapshot(wh)
    code, rec = _run(upsert_job.main, [
        "--warehouse", wh, "--input", rep, "--master", "local[4]",
    ])
    assert code == 5
    assert rec == {"status": "invalid-input", "duplicate_rows": 2}
    assert _dir_snapshot(wh) == live


def test_upsert_refuses_schema_drift(spark, wh, tmp_path):
    """Replacement rows with a column the warehouse lacks (here one
    replaced and one new conversation carrying ``score``) exit 2 with a
    JSON error before anything is staged: no warehouse file touched, and
    the warehouse still decodes (a drifted partition would fail every
    later read as an incomplete chunk group)."""
    import pandas as pd

    small = fixtures.transcripts_small(n_convs=60)
    one = small[small["conv_id"] == small["conv_id"].iloc[0]]
    fresh = one.head(3).assign(conv_id="conv-zz-drift")
    rep = str(tmp_path / "drift.parquet")
    fixtures.write_parquet(
        pd.concat([one, fresh], ignore_index=True).assign(score=0.5), rep)
    live = _dir_snapshot(wh)
    code, rec = _run(upsert_job.main, [
        "--warehouse", wh, "--input", rep, "--master", "local[4]",
    ])
    assert code == 2 and rec["status"] == "error", rec
    assert "score" in rec["error"]
    assert _dir_snapshot(wh) == live
    assert read_warehouse(spark, wh).count() == len(small)
