"""Per-layer metrics of the traced run.

Each probe calls one layer's public entry point directly, inside a span
named after the metric, on the run's own corpus and warehouse. The
comment before each group names the end-to-end metric (and workload) the
group should move; the workload named "flat" is where it should not.
Self time per layer comes from the spans of the traced workload loop;
tracing overhead compares the loop's traced and untraced operations.

A probe of a path the workload did not warm (verify on ``serve``, say)
includes that path's first-call cost in this session.
"""

from __future__ import annotations

import shutil
import statistics
import time

CHUNK_ROWS = 65_536
STRING_COLUMNS = ("conv_id", "role", "text", "tool")
INT_COLUMNS = ("turn_idx", "ts")
STRING_CODECS = ("dict", "rle", "fsst", "strnum", "zstdhi", "raw")
INT_CODECS = ("bitpack", "fordelta", "raw")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _Probes:
    def __init__(self, bench, tracer):
        self.b, self.tracer = bench, tracer

    def time(self, name: str, layer: str, fn, repeat: int = 1) -> float:
        walls = []
        for _ in range(repeat):
            with self.tracer.span(name, layer):
                t0 = time.perf_counter()
                fn()
                walls.append(time.perf_counter() - t0)
        return statistics.median(walls)

    def counted(self, name: str, layer: str, fn) -> tuple[float, dict]:
        group = self.b.counters.begin(name)
        wall = self.time(name, layer, fn)
        return wall, self.b.counters.collect(group)

    def job_samples(self, kind: str, fn, *args) -> list[dict]:
        """The loop's successful samples of ``kind``; one extra call when
        the workload ran none."""
        got = [s for s in self.b.measured(kind) if s["ok"]]
        return got or [self.b.op(kind, fn, *args, record=False)]


def measure(bench, tracer) -> dict:
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    from vcf2df_spark import arrow_ops, manifest, planner
    from vcf2df_spark.datasource import infer_ctypes, read_warehouse, scan_warehouse
    from vcf2df_spark.decode import decode_chunk_arrow
    from vcf2df_spark.encode import encode_chunk_arrow, encode_keyed, normalize_input, with_partition_key
    from vcf2df_spark.rewrite import routed_rewrite
    from vcf2df_spark.scan import pushable_predicates, referenced_columns
    from vcf2df_spark.sources import read_transcripts
    from vcf2df_spark.verify import multiset_equal
    from workloads import PARTITIONS, CheckFailed, _dir_bytes, _median

    import spans

    loop_self = tracer.self_times()
    p, b, m = _Probes(bench, tracer), bench, {}
    spark, wh, src_path = b.spark, b.pristine, b.corpus_path
    scratch = b._path("layers")
    P = PARTITIONS

    # encode path -> encode_turns_per_s, encode_cpu_s_per_mturn (ingest); flat on serve
    src = read_transcripts(spark, src_path)
    keyed = with_partition_key(src, P)
    m["sources.scan_s"] = (p.time("sources.scan_s", "sources", lambda: _noop(src)), "s")
    m["encode.shuffle_s"] = (p.time("encode.shuffle_s", "encode",
                                    lambda: _noop(keyed.repartition(P, "_pkey"))), "s")
    m["encode.groups_s"] = (p.time("encode.groups_s", "encode",
                                   lambda: _noop(encode_keyed(keyed))), "s")
    leaf, leaf_c = p.counted("encode.leaf_write_s", "encode", lambda: encode_keyed(keyed).write
                             .partitionBy("partition_id").parquet(f"{scratch}/blocks"))
    m["encode.leaf_write_s"] = (leaf, "s")
    m["encode.leaf_spark_jobs"] = (leaf_c["spark_jobs"], "count")
    build = p.time("manifest.build_s", "manifest", lambda: manifest.build_manifests(
        spark.read.parquet(f"{scratch}/blocks"), "perfbench", src_path, num_partitions=P,
    ).write.parquet(f"{scratch}/manifests"))
    m["manifest.build_s"] = (build, "s")
    enc = p.job_samples("encode", b._encode, f"{scratch}/wh-encode")
    m["encode.job_gap_s"] = (_median([s["wall_s"] for s in enc]) - leaf - build, "s")
    for key in ("spark_jobs", "spark_stages", "spark_tasks", "shuffle_write_bytes"):
        m[f"encode.{key}"] = (enc[-1][key], "bytes" if key.endswith("bytes") else "count")

    # codec kernels on one sorted chunk, driver side, one thread
    table = b.ref.table.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
    chunk = table.slice(0, CHUNK_ROWS)
    m["encode.chunk_ms"] = (1e3 * p.time("encode.chunk_ms", "encode",
                                         lambda: encode_chunk_arrow(chunk, 0, 0), repeat=3), "ms")
    for col in STRING_COLUMNS:
        arr = chunk.column(col).combine_chunks()
        m[f"arrow_ops.string_ms.{col}"] = (1e3 * p.time(
            f"arrow_ops.string_ms.{col}", "arrow_ops",
            lambda: arrow_ops.encode_string_column(arr), repeat=3), "ms")
    buf, lengths = arrow_ops.string_buf_lengths(chunk.column("text").combine_chunks())
    m["planner.fsst_trial_ms"] = (1e3 * p.time("planner.fsst_trial_ms", "planner",
                                               lambda: planner.fsst_sample_wins_buf(buf, lengths),
                                               repeat=3), "ms")

    # decode -> verify_turns_per_s (ingest), sql_full_s (serve); flat on mutate
    blocks = encode_chunk_arrow(chunk, 0, 0)
    decoded = decode_chunk_arrow(blocks)
    if decoded.column("text").to_pylist() != chunk.column("text").to_pylist():
        raise CheckFailed("decode_chunk_arrow does not return the encoded chunk")
    m["decode.chunk_ms"] = (1e3 * p.time("decode.chunk_ms", "decode",
                                         lambda: decode_chunk_arrow(blocks), repeat=3), "ms")

    # codec decisions read back from the blocks -> disk_vs_zstd_parquet (ingest); flat on serve
    stored = pads.dataset(f"{wh}/blocks", format="parquet", partitioning="hive").to_table(
        columns=["column", "codec", "enc_bytes"]).to_pylist()
    for cols, codecs in ((STRING_COLUMNS, STRING_CODECS), (INT_COLUMNS, INT_CODECS)):
        for col in cols:
            for codec in codecs:
                m[f"planner.codec_count.{col}.{codec}"] = (sum(
                    r["column"] == col and r["codec"] == codec for r in stored), "count")
            m[f"codecs.enc_bytes.{col}"] = (sum(
                r["enc_bytes"] for r in stored if r["column"] == col), "bytes")

    # verify -> verify_turns_per_s (ingest); flat on serve
    result = {}
    m["verify.signature_s"] = (p.time("verify.signature_s", "verify", lambda: result.update(
        multiset_equal(normalize_input(spark.read.parquet(src_path)),
                       read_warehouse(spark, wh)))), "s")
    if not result.get("equal"):
        raise CheckFailed(f"multiset_equal(corpus, warehouse): {result}")
    dv = p.job_samples("decode_verify", b._verify, wh)
    m["decode_verify.spark_jobs"] = (dv[-1]["spark_jobs"], "count")
    m["decode_verify.spark_tasks"] = (dv[-1]["spark_tasks"], "count")

    # driver metadata and datasource planning -> lookup_p50_ms, sql_*_s (serve); flat on ingest
    hit = b.ref.conv_ids[0]
    sql = f"SELECT turn_idx, text FROM t WHERE conv_id = '{hit}' ORDER BY turn_idx"
    m["datasource.infer_ctypes_ms"] = (1e3 * p.time(
        "datasource.infer_ctypes_ms", "datasource", lambda: infer_ctypes(f"{wh}/blocks"),
        repeat=5), "ms")
    m["datasource.plan_ms"] = (1e3 * p.time("datasource.plan_ms", "datasource", lambda: scan_warehouse(
        spark, wh, [f"conv_id = '{hit}'"], columns=["conv_id", "turn_idx", "text"],
    )._jdf.queryExecution().executedPlan(), repeat=3), "ms")
    m["datasource.scan_full_s"] = (p.time("datasource.scan_full_s", "datasource",
                                          lambda: _noop(read_warehouse(spark, wh))), "s")
    m["datasource.scan_narrow_s"] = (p.time(
        "datasource.scan_narrow_s", "datasource",
        lambda: _noop(read_warehouse(spark, wh, columns=["role"]))), "s")
    available = list(infer_ctypes(f"{wh}/blocks"))
    m["scan.parse_ms"] = (1e3 * p.time("scan.parse_ms", "scan", lambda: (
        pushable_predicates(sql, "t", available), referenced_columns(sql, available)),
        repeat=20), "ms")
    if not hasattr(b, "wh"):
        b.wh = wh
    looks = [s for s in p.job_samples("lookup", b._lookup, hit) if s.get("rows_returned")]
    m["query.spark_jobs_per_lookup"] = (_median([s["spark_jobs"] for s in looks]), "count")
    m["query.tasks_per_lookup"] = (_median([s["spark_tasks"] for s in looks]), "count")
    m["query.rows_examined_per_row_returned"] = (_median(
        [s["input_records"] / s["rows_returned"] for s in looks]), "ratio")

    # routed rewrite -> upsert_p50_s, delete_p50_s (mutate); flat on serve
    rw = f"{scratch}/wh-rewrite"
    shutil.copytree(wh, rw)
    victim, other = b.ref.conv_ids[1], b.ref.conv_ids[2]
    rows = table.filter(pc.equal(table.column("conv_id"), victim))
    changed = sum(len(s.encode()) for c in STRING_COLUMNS for s in rows.column(c).to_pylist())
    changed += 12 * rows.num_rows  # turn_idx int32 + ts int64
    dels = p.job_samples("delete", b._delete, rw, other)  # before the leaf: warms its path
    out = {}
    leaf_rw, rw_c = p.counted("rewrite.leaf_s", "rewrite", lambda: out.update(routed_rewrite(
        spark, rw, [victim], "perfbench-layers", f"delete:{victim}")))
    if out.get("rows_deleted") != rows.num_rows:
        raise CheckFailed(f"routed_rewrite: {out}")
    parts = out.get("partitions_rewritten", [])
    m["rewrite.leaf_s"] = (leaf_rw, "s")
    m["rewrite.partitions_rewritten"] = (len(parts), "count")
    m["rewrite.bytes_rewritten_per_byte_changed"] = (sum(
        _dir_bytes(f"{rw}/blocks/partition_id={pid}") for pid in parts) / changed, "ratio")
    m["rewrite.spark_jobs"] = (rw_c["spark_jobs"], "count")
    m["rewrite.job_gap_s"] = (_median([s["wall_s"] for s in dels]) - leaf_rw, "s")

    # set-up -> setup_s (every workload)
    for key in ("session.start_s", "shipping.ship_s", "warmup_s"):
        m[key] = (b.setup[key], "s")
    for layer in spans.LAYERS:
        m[f"self_s.{layer}"] = (loop_self[layer], "s")
    m["trace.overhead_pct"] = (_overhead(b), "%")
    shutil.rmtree(scratch, ignore_errors=True)
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _overhead(bench) -> float:
    """Median over operation kinds of the traced median wall over the
    untraced median wall, minus one, in percent."""
    ratios = []
    for kind in {s["kind"] for s in bench.measured()}:
        on, off = bench.walls(kind, traced=True), bench.walls(kind, traced=False)
        if on and off:
            ratios.append(statistics.median(on) / statistics.median(off) - 1)
    return 100 * statistics.median(ratios) if ratios else 0.0
