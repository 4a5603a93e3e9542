"""The ``format("transcripts")`` Python DataSource: Catalyst-integrated,
shuffle-free warehouse reads with zone-map filter pushdown.

Covers all three block layouts this engine writes (hive partition_id dirs,
flat files, streaming epoch dirs), filter-pushdown equality for every
supported predicate shape, task-side pruning (unit-level, no Spark), the
``columns`` projection option, and the incomplete-chunk-group loud fail.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    In,
    LessThan,
    StringStartsWith,
)

from vcf2df_spark import datasource, fixtures
from vcf2df_spark.datasource import PrunedTranscriptDataSource, chunk_overlaps
from vcf2df_spark.decode import decode_blocks
from vcf2df_spark.encode import encode_transcripts, normalize_input
from vcf2df_spark.manifest import WarehouseMeta
from vcf2df_spark.zonemap import f64_key


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    """Hive-layout warehouse over the extended fixture (f64/bool/i64/str
    extras), small chunks so pruning is observable."""
    root = str(tmp_path_factory.mktemp("dswh"))
    src = normalize_input(
        spark.createDataFrame(fixtures.transcripts_extended(n_convs=200))
    )
    blocks = encode_transcripts(src, num_partitions=4, chunk_rows=256)
    blocks.write.partitionBy("partition_id").parquet(f"{root}/blocks")
    return root


@pytest.fixture(scope="module")
def ref(spark, wh):
    rows = (
        decode_blocks(spark.read.parquet(f"{wh}/blocks"))
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    assert len(rows) > 0
    return rows


def test_full_read_matches_decode_blocks(spark, wh, ref):
    got = (
        datasource.read_warehouse(spark, wh)
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    assert got == ref


@pytest.mark.parametrize(
    "cond,pred",
    [
        ("turn_idx >= 2 AND turn_idx <= 3", lambda r: 2 <= r.turn_idx <= 3),
        ("score >= 0.2 AND score < 0.6", lambda r: 0.2 <= r.score < 0.6),
        ("flagged = true", lambda r: r.flagged),
        ("tokens_out < 64", lambda r: r.tokens_out < 64),
        ("turn_idx IN (0, 3)", lambda r: r.turn_idx in (0, 3)),
        ("role = 'assistant'", lambda r: r.role == "assistant"),
        # text stats are null (the width guard): never prunes
        ("text >= ' ' AND text <= '~'", lambda r: " " <= r.text <= "~"),
    ],
)
def test_pushed_filters_match_exact(spark, wh, ref, cond, pred):
    got = (
        datasource.scan_warehouse(spark, wh, cond)
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    want = [r for r in ref if pred(r)]
    assert len(want) > 0, "fixture must exercise the predicate"
    assert got == want


def test_conv_id_point_and_prefix(spark, wh, ref):
    cid = ref[len(ref) // 2].conv_id
    got = (
        datasource.scan_warehouse(spark, wh, F.col("conv_id") == cid)
        .orderBy("turn_idx")
        .collect()
    )
    assert got == [r for r in ref if r.conv_id == cid] and got
    prefix = cid[:-1]
    got_p = datasource.scan_warehouse(
        spark, wh, F.col("conv_id").startswith(prefix)
    ).count()
    assert got_p == sum(1 for r in ref if r.conv_id.startswith(prefix)) > 0


def test_view_and_reuse_stay_correct(spark, wh, ref):
    """Regression for the Spark 4.1 readInfo staleness hazard: the view
    format never prunes, so a bare query AFTER a filtered query on the
    same relation must see every row; a scan_warehouse relation reused
    with and without extra filters keeps its baked predicate only."""
    datasource.read_warehouse(spark, wh).createOrReplaceTempView("ds_reuse_v")
    n_f = spark.sql(
        "SELECT count(*) FROM ds_reuse_v WHERE turn_idx < 2"
    ).collect()[0][0]
    assert n_f == sum(1 for r in ref if r.turn_idx < 2)
    assert spark.sql("SELECT count(*) FROM ds_reuse_v").collect()[0][0] == len(ref)

    pruned = datasource.scan_warehouse(spark, wh, "turn_idx < 2")
    assert pruned.filter("role = 'user'").count() == sum(
        1 for r in ref if r.turn_idx < 2 and r.role == "user"
    )
    assert pruned.count() == n_f  # bare re-use: baked predicate only


def test_columns_option_prunes_projection(spark, wh, ref):
    ds = datasource.read_warehouse(spark, wh, columns=["conv_id", "turn_idx"])
    assert [f.name for f in ds.schema.fields] == ["conv_id", "turn_idx"]
    assert ds.count() == len(ref)


def test_flat_layout(spark, tmp_path, ref, wh):
    """bench/tests write blocks without partitionBy: partition_id stays a
    data column; group-per-file still holds (one task wrote each file)."""
    flat = str(tmp_path / "flat")
    spark.read.parquet(f"{wh}/blocks").write.parquet(f"{flat}/blocks")
    got = (
        datasource.read_warehouse(spark, flat)
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    assert got == ref


def test_epoch_layout(spark, tmp_path):
    """Streaming warehouses: epoch=N dirs are part of chunk identity — two
    epochs reusing (partition_id, chunk_idx) must not fuse."""
    root = str(tmp_path / "sw")
    for epoch in (0, 1):
        src = normalize_input(
            spark.createDataFrame(
                fixtures.transcripts_small(n_convs=30, seed=7 + epoch)
            ).withColumn("conv_id", F.concat(F.lit(f"e{epoch}-"), "conv_id"))
        )
        encode_transcripts(src, num_partitions=2, chunk_rows=64).write.parquet(
            f"{root}/blocks/epoch={epoch}"
        )
    got = datasource.read_warehouse(spark, root)
    n0 = got.filter("conv_id LIKE 'e0-%'").count()
    n1 = got.filter("conv_id LIKE 'e1-%'").count()
    ref = decode_blocks(spark.read.parquet(f"{root}/blocks")).count()
    assert n0 > 0 and n1 > 0 and n0 + n1 == got.count() == ref
    # pruned scan across epochs: prefix pushdown keeps epoch identity
    assert (
        datasource.scan_warehouse(
            spark, root, F.col("conv_id").startswith("e1-")
        ).count()
        == n1
    )


def test_task_side_pruning_skips_chunks(spark, wh, ref):
    """Unit-level (no Spark jobs): a conv_id equality prunes most chunks —
    the rows yielded by read() are a strict subset of the warehouse."""
    cid = ref[len(ref) // 2].conv_id
    ds = PrunedTranscriptDataSource({"path": wh})
    reader = ds.reader(ds.schema())
    residual = reader.pushFilters([EqualTo(("conv_id",), cid)])
    assert list(residual), "all filters must be returned for exact re-eval"
    rows = 0
    for part in reader.partitions():
        for batch in reader.read(part):
            rows += batch.num_rows
    # the conversation hashes to one partition; every partition's sorted
    # chunks are disjoint in conv_id, so equality overlaps at most ONE
    # 256-row chunk per partition (4 partitions here)
    n_conv = sum(1 for r in ref if r.conv_id == cid)
    assert n_conv <= rows <= 4 * 256 < len(ref), (
        "pruned read must cover the conversation but decode at most one "
        "chunk per partition"
    )


def test_chunk_overlaps_pure():
    ctypes = {"conv_id": "str", "turn_idx": "i32", "score": "f64"}
    stats = {
        "conv_id": {"stat_min_str": "c-100", "stat_max_str": "c-199"},
        "turn_idx": {"stat_min_num": 10, "stat_max_num": 20},
    }
    assert chunk_overlaps([EqualTo(("conv_id",), "c-150")], stats, ctypes)
    assert not chunk_overlaps([EqualTo(("conv_id",), "c-200")], stats, ctypes)
    assert not chunk_overlaps([GreaterThanOrEqual(("turn_idx",), 21)], stats, ctypes)
    assert chunk_overlaps([GreaterThanOrEqual(("turn_idx",), 20)], stats, ctypes)
    assert not chunk_overlaps([LessThan(("turn_idx",), 10)], stats, ctypes)
    assert chunk_overlaps([In(("turn_idx",), (1, 15))], stats, ctypes)
    assert not chunk_overlaps([In(("turn_idx",), (1, 2))], stats, ctypes)
    assert chunk_overlaps([StringStartsWith(("conv_id",), "c-1")], stats, ctypes)
    assert not chunk_overlaps([StringStartsWith(("conv_id",), "c-2")], stats, ctypes)
    # no stats recorded for the column -> conservative keep
    assert chunk_overlaps([EqualTo(("score",), 1.5)], stats, ctypes)
    # conjunction: one provably-empty clause prunes
    assert not chunk_overlaps(
        [EqualTo(("conv_id",), "c-150"), LessThan(("turn_idx",), 5)],
        stats, ctypes,
    )
    # null string stats (the width guard) -> keep
    text = {"text": {"stat_min_str": None, "stat_max_str": None}}
    assert chunk_overlaps(
        [GreaterThanOrEqual(("text",), " ")], text, {"text": "str"}
    )
    # an int bound on an f64 column maps through the f64 key
    f64 = {"score": "f64"}
    high = {"score": {"stat_min_num": f64_key(4.0),
                      "stat_max_num": f64_key(5.0)}}
    low = {"score": {"stat_min_num": f64_key(0.0),
                     "stat_max_num": f64_key(1.0)}}
    assert chunk_overlaps([EqualTo(("score",), 4)], high, f64)
    assert not chunk_overlaps([EqualTo(("score",), 4)], low, f64)
    # a float bound on an integer column cannot be mapped -> keep
    assert chunk_overlaps([EqualTo(("turn_idx",), 30.5)], stats, ctypes)


def test_incomplete_chunk_group_fails_loudly(spark, tmp_path, wh):
    broken = str(tmp_path / "broken")
    spark.read.parquet(f"{wh}/blocks").filter(
        ~((F.col("column") == "role") & (F.col("chunk_idx") == 0))
    ).coalesce(1).write.parquet(f"{broken}/blocks")
    with pytest.raises(Exception, match="missing column blocks|incomplete"):
        datasource.read_warehouse(spark, broken).count()


def test_negative_zero_predicates_never_drop_rows(spark, tmp_path):
    """Spark predicates treat -0.0 == +0.0; the total-order zone-map keys
    separate them. Zero predicate bounds must expand to cover both keys —
    the unexpanded mapping silently dropped every -0.0-only chunk from
    `score = 0.0` (regression)."""
    import numpy as np

    pdf = fixtures.transcripts_small(n_convs=8)
    pdf["score"] = np.where(np.arange(len(pdf)) % 2 == 0, -0.0, -1.0)
    src = normalize_input(spark.createDataFrame(pdf))
    wh = str(tmp_path / "zwh")
    encode_transcripts(src, num_partitions=1, chunk_rows=32).write.partitionBy(
        "partition_id"
    ).parquet(f"{wh}/blocks")

    full = datasource.read_warehouse(spark, wh)
    for cond in ("score = 0.0", "score >= 0.0", "score <= -0.0",
                 "score >= -0.0", "score <= 0.0"):
        truth = full.filter(cond).count()
        got = datasource.scan_warehouse(spark, wh, cond).count()
        assert got == truth > 0, cond


def test_nan_payload_chunks_are_safe(spark, tmp_path):
    """Spark treats all NaNs as equal and greater than every other double
    (NOT IEEE): ``score = NaN`` matches the NaN rows. Stats canonicalize
    every NaN bit pattern to the single topmost key (zonemap.f64_key_array),
    so chunks mixing NaN with in-range values are kept both for their
    in-range rows and for NaN-equality predicates."""
    import numpy as np

    neg_nan = np.frombuffer(
        np.uint64(0xFFF8000000000001).tobytes(), dtype=np.float64
    )[0]
    pdf = fixtures.transcripts_small(n_convs=8)
    pdf["score"] = np.where(np.arange(len(pdf)) % 3 == 0, neg_nan, 5.0)
    src = normalize_input(spark.createDataFrame(pdf))
    wh = str(tmp_path / "nwh")
    encode_transcripts(src, num_partitions=1, chunk_rows=32).write.partitionBy(
        "partition_id"
    ).parquet(f"{wh}/blocks")

    full = datasource.read_warehouse(spark, wh)
    for cond in ("score >= 5.0", "score = 5.0", "score <= 5.0",
                 "score = cast('NaN' as double)"):
        truth = full.filter(cond).count()
        got = datasource.scan_warehouse(spark, wh, cond).count()
        assert got == truth, cond
    # NaN bit-pattern identity itself is covered by the codec/property
    # tests and the f64_bits e2e verifier


def test_ts_range_pushdown(spark, wh, ref):
    """Timestamp predicates reach the pruner as datetimes and compare in
    unix-micros key space; results must match Spark's exact filter."""
    import datetime as dt

    mid = ref[len(ref) // 2].ts
    cond = f"ts >= timestamp'{mid.strftime('%Y-%m-%d %H:%M:%S')}'"
    got = datasource.scan_warehouse(spark, wh, cond).count()
    want = (
        datasource.read_warehouse(spark, wh).filter(cond).count()
    )
    assert got == want > 0
    # and the pure overlap test with aware/naive datetimes
    from vcf2df_spark.datasource import chunk_overlaps
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    stats = {"ts": {"stat_min_num": 1_000_000, "stat_max_num": 2_000_000}}
    ctypes = {"ts": "ts"}
    t0 = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    assert chunk_overlaps(
        [GreaterThanOrEqual(("ts",), t0 + dt.timedelta(seconds=1))],
        stats, ctypes)
    assert not chunk_overlaps(
        [GreaterThanOrEqual(("ts",), t0 + dt.timedelta(seconds=3))],
        stats, ctypes)
    assert not chunk_overlaps(
        [LessThan(("ts",), t0 + dt.timedelta(seconds=1))], stats, ctypes)


# --- O(1) read planning from the manifests' schema signature (r4) -----------


@pytest.fixture(scope="module")
def mwh(spark, tmp_path_factory):
    """Warehouse WITH manifests (the production encode-job layout): the
    datasource must plan from the manifests' schema_sig, never from the
    full blocks-metadata pull."""
    from vcf2df_spark import manifest

    root = str(tmp_path_factory.mktemp("mwh"))
    src = normalize_input(
        spark.createDataFrame(fixtures.transcripts_extended(n_convs=60))
    )
    blocks = encode_transcripts(src, num_partitions=2, chunk_rows=128)
    blocks.write.partitionBy("partition_id").parquet(f"{root}/blocks")
    manifest.build_manifests(
        blocks, "job-r4", "mem", num_partitions=2
    ).write.parquet(f"{root}/manifests")
    return root


def test_planning_reads_manifests_not_blocks(spark, mwh, monkeypatch):
    """schema()/load on a manifested warehouse must resolve ctypes from the
    O(partitions) schema_sig rows — the full blocks-metadata scan (the r3
    100-TB planning bottleneck) must not run at all."""

    def boom(_root):
        raise AssertionError(
            "planning fell back to the full blocks-metadata scan"
        )

    monkeypatch.setattr(datasource, "_ctypes_from_blocks", boom)
    want = (
        decode_blocks(spark.read.parquet(f"{mwh}/blocks"))
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    got = (
        datasource.read_warehouse(spark, mwh)
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    assert got == want
    # pruned scans plan the same way
    n = datasource.scan_warehouse(spark, mwh, "turn_idx >= 2").count()
    assert n == sum(1 for r in want if r.turn_idx >= 2)


def test_ctypes_from_manifests_matches_blocks_scan(mwh):
    sig = WarehouseMeta.load(mwh).ctypes()
    full = datasource._ctypes_from_blocks(f"{mwh}/blocks")
    assert sig == full
    assert sig["score"] == "f64" and sig["conv_id"] == "str"


def test_legacy_manifests_without_sig_fall_back(spark, mwh, tmp_path):
    """Pre-r4 manifests (no schema_sig column) must not break planning —
    the blocks fallback still resolves the schema."""
    import shutil as _sh

    root = str(tmp_path / "legacy")
    _sh.copytree(f"{mwh}/blocks", f"{root}/blocks")
    spark.read.parquet(f"{mwh}/manifests").drop("schema_sig").write.parquet(
        f"{root}/manifests"
    )
    assert WarehouseMeta.load(root).ctypes() is None
    got = datasource.infer_ctypes(f"{root}/blocks")
    assert got == datasource._ctypes_from_blocks(f"{root}/blocks")


def test_scan_warehouse_rejects_empty_predicate(spark, mwh):
    """A bare transcripts_pruned relation would carry stale pushdown state
    under Spark 4.1's cached readInfo — the empty predicate list must fail
    loudly instead of returning one (ADVICE r3)."""
    with pytest.raises(ValueError, match="non-empty predicate"):
        datasource.scan_warehouse(spark, mwh, [])
    with pytest.raises(ValueError, match="non-empty predicate"):
        datasource.scan_warehouse(spark, mwh, None)


def test_routed_partitions_skip_tree_listing(spark, mwh, monkeypatch, ref=None):
    """A pushed conv_id equality must plan WITHOUT listing the blocks
    tree: only the routed partition dirs are opened (at ~400k dirs the
    full listing is the dominant planning cost)."""
    cid = (
        decode_blocks(spark.read.parquet(f"{mwh}/blocks"))
        .select("conv_id").first()[0]
    )
    ds = PrunedTranscriptDataSource({"path": mwh})
    reader = ds.reader(ds.schema())
    reader.pushFilters([EqualTo(("conv_id",), cid)])

    real_dataset = datasource._dataset

    def no_tree(root):
        raise AssertionError(f"full-tree listing of {root} during routed planning")

    monkeypatch.setattr(datasource, "_dataset", no_tree)
    parts = reader.partitions()
    monkeypatch.setattr(datasource, "_dataset", real_dataset)
    assert parts
    pids = {p.hive["partition_id"] for p in parts}
    assert len(pids) <= 2  # the hash route, not the whole warehouse
    rows = 0
    for part in parts:
        for batch in reader.read(part):
            rows += batch.num_rows
    assert rows > 0  # the conversation is decodable from the routed dirs


def test_routed_in_list_reads_manifests_once(spark, mwh, monkeypatch):
    """A pushed conv_id IN list routes all its keys from ONE manifests
    read (not one per key) and plans the union of the per-key routes."""
    import pyarrow.dataset as pads

    cids = [
        r[0] for r in decode_blocks(spark.read.parquet(f"{mwh}/blocks"))
        .select("conv_id").distinct().orderBy("conv_id").take(3)
    ]
    ds = PrunedTranscriptDataSource({"path": mwh})

    def planned(flt):
        reader = ds.reader(ds.schema())
        reader.pushFilters([flt])
        return {f for p in reader.partitions() for f in p.files}

    want = set().union(*(planned(EqualTo(("conv_id",), c)) for c in cids))
    opens: list[str] = []
    real_dataset = pads.dataset

    def counting(source, *a, **kw):
        if str(source).rstrip("/").endswith("/manifests"):
            opens.append(source)
        return real_dataset(source, *a, **kw)

    monkeypatch.setattr(pads, "dataset", counting)
    assert planned(In(("conv_id",), tuple(cids))) == want
    assert len(opens) == 1
