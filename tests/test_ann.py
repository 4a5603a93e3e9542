"""Persisted IVF ANN index (vcf2df_spark/ann.py + jobs/index.py): build,
probe, determinism, and the partition-pruned probe plan."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from vcf2df_spark import ann


def _emb_df(spark, n=40, dim=8, seed=7):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    rows = [(int(i), [float(x) for x in vecs[i]], int(i % 3)) for i in range(n)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ), vecs


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ann") / "idx")
    emb, vecs = _emb_df(spark)
    info = ann.build_index(spark, emb, root, k_cells=4, iters=0)
    assert info["n_vectors"] == 40 and info["k_cells"] == 4
    return root, emb, vecs


def test_layout_and_total_coverage(spark, idx):
    root, emb, _ = idx
    cents = spark.read.parquet(f"{root}/centroids.parquet").collect()
    assert sorted(r["cell"] for r in cents) == [0, 1, 2, 3]
    asg = spark.read.parquet(f"{root}/assignments")
    assert asg.count() == emb.count()  # every vector lands in exactly one cell
    assert asg.select("vec_id").distinct().count() == emb.count()
    # label (an arbitrary extra column) rides along into the index
    assert "label" in asg.columns


def test_probe_matches_bruteforce_within_cells(spark, idx):
    """The probe is EXACT within the probed cells: recompute with numpy
    over the same cell membership and compare ids + cosines."""
    root, _, vecs = idx
    q = vecs[0].astype(np.float64)
    got = ann.probe(spark, root, q, top_k=5, nprobe=2, exclude_id=0).collect()
    assert len(got) == 5

    asg = spark.read.parquet(f"{root}/assignments").select("vec_id", "cell")
    cell_of = {r["vec_id"]: r["cell"] for r in asg.collect()}
    probed = {r["cell"] for r in got}
    assert len(probed) <= 2
    # brute force within the probed cells
    cands = [
        i for i, c in cell_of.items() if c in probed and i != 0
    ]
    sims = {
        i: float(
            np.dot(vecs[i].astype(np.float64), q)
            / (np.linalg.norm(vecs[i].astype(np.float64)) * np.linalg.norm(q))
        )
        for i in cands
    }
    want = sorted(sims, key=lambda i: (-round(sims[i], 3), i))[:5]
    assert [r["vec_id"] for r in got] == want
    for r in got:
        assert abs(r["cosine"] - round(sims[r["vec_id"]], 3)) <= 1e-9


def test_probe_plan_is_partition_pruned(spark, idx):
    """Only the nprobe probed cells' hive dirs are scanned: the plan's
    PartitionFilters carries the cell IN (...) predicate."""
    root, _, vecs = idx
    df = ann.probe(spark, root, vecs[0], top_k=3, nprobe=2)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "cell" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan[:2000]
    # and the top-k is a TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_lloyd_refinement_deterministic(spark, tmp_path):
    emb, _ = _emb_df(spark, n=60)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    ann.build_index(spark, emb, a, k_cells=4, iters=2)
    ann.build_index(spark, emb, b, k_cells=4, iters=2)
    ca = spark.read.parquet(f"{a}/centroids.parquet").orderBy("cell").collect()
    cb = spark.read.parquet(f"{b}/centroids.parquet").orderBy("cell").collect()
    assert [r["centroid"] for r in ca] == [r["centroid"] for r in cb]
    # refinement actually moved the centroids off the seeds
    seeds = emb.orderBy("vec_id").limit(4).select(
        F.col("embedding").cast("array<double>")
    ).collect()
    assert [r["centroid"] for r in ca] != [r[0] for r in seeds]


def test_build_rejects_tiny_corpus(spark):
    emb, _ = _emb_df(spark, n=3)
    with pytest.raises(ValueError, match="seed"):
        ann.build_index(spark, emb, "/tmp/never-written", k_cells=8)


def test_index_job_cli(spark, tmp_path, capsys):
    import jobs.index as index_job

    emb, _ = _emb_df(spark, n=30)
    src = str(tmp_path / "emb.parquet")
    emb.write.parquet(src)
    out = str(tmp_path / "jidx")
    index_job.main([
        "--embeddings", src, "--out", out,
        "--k-cells", "4", "--iters", "1",
        "--probe-vec-id", "5", "--top-k", "3", "--nprobe", "2",
    ])
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["status"] == "ok" and rec["n_vectors"] == 30
    ns = rec["probe"]["neighbors"]
    assert len(ns) == 3 and all(n["vec_id"] != 5 for n in ns)
    cosines = [n["cosine"] for n in ns]
    assert cosines == sorted(cosines, reverse=True)


# --- batched (production-k) assignment + index lifecycle (r5) ----------------


def _explain(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_batched_assignment_parity_with_literal(spark, tmp_path):
    """Both assignment paths honor the same rounded-sim/tie-break
    contract: same corpus, same seeds -> identical cell assignments and
    identical probe results."""
    emb, vecs = _emb_df(spark, n=50)
    a, b = str(tmp_path / "lit"), str(tmp_path / "vec")
    il = ann.build_index(spark, emb, a, k_cells=4, iters=1, vectorized=False)
    iv = ann.build_index(spark, emb, b, k_cells=4, iters=1, vectorized=True)
    assert il["assignment"] == "literal" and iv["assignment"] == "batched"
    la = spark.read.parquet(f"{a}/assignments").select("vec_id", "cell")
    va = spark.read.parquet(f"{b}/assignments").select("vec_id", "cell")
    assert sorted(map(tuple, la.collect())) == sorted(map(tuple, va.collect()))
    pl = ann.probe(spark, a, vecs[3], top_k=5, nprobe=2, exclude_id=3).collect()
    pv = ann.probe(spark, b, vecs[3], top_k=5, nprobe=2, exclude_id=3).collect()
    assert pl == pv


def test_production_k_auto_batched(spark, tmp_path):
    """k_cells*dim past the literal threshold auto-switches to the
    pandas_udf batch argmax: the plan carries ONE ArrowEvalPython node,
    not k inlined higher-order folds (which are codegen fallbacks and
    would be O(k*dim) expression nodes at production IVF scale)."""
    emb, vecs = _emb_df(spark, n=300)
    root = str(tmp_path / "bigk")
    info = ann.build_index(spark, emb, root, k_cells=256, iters=0)
    assert info["assignment"] == "batched"
    assert info["n_vectors"] == 300

    # plan evidence: batched path is one Arrow-vectorized python eval
    e = emb.withColumn("_v", F.col("embedding").cast("array<double>"))
    e = e.withColumn("_vnorm", F.sqrt(F.aggregate(
        F.zip_with("_v", "_v", lambda x, y: x * y), F.lit(0.0),
        lambda acc, v: acc + v)))
    cents = [[float(x) for x in vecs[i]] for i in range(256)]
    import numpy as np

    cnorms = [float(np.linalg.norm(np.asarray(c))) for c in cents]
    assign = ann.assignment_expr(spark, cents, cnorms, vectorized=True)
    plan = _explain(e.select(assign(F.col("_v"), F.col("_vnorm"))))
    assert "ArrowEvalPython" in plan
    lit = ann.assignment_expr(spark, cents[:4], cnorms[:4], vectorized=False)
    plan_lit = _explain(e.select(lit(F.col("_v"), F.col("_vnorm"))))
    assert "ArrowEvalPython" not in plan_lit

    # and the index it built actually probes
    got = ann.probe(spark, root, vecs[0], top_k=3, nprobe=4, exclude_id=0)
    assert got.count() == 3


def test_append_equals_full_rebuild(spark, tmp_path):
    """build(old) + append(new) == build(old+new) when the quantizer is
    the same in both (iters=0 seeds, and the seed window — the k smallest
    ids — is unchanged because new ids are larger): same assignments,
    same probe. A REFINED quantizer rebuilt over old+new is a different
    geometry by construction; append's contract is the persisted one."""
    all_emb, vecs = _emb_df(spark, n=48)
    old = all_emb.filter(F.col("vec_id") < 36)
    new = all_emb.filter(F.col("vec_id") >= 36)
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    ann.build_index(spark, old, inc, k_cells=4, iters=0)
    rec = ann.append_index(spark, new, inc)
    assert rec["n_appended"] == 12 and rec["n_vectors"] == 48
    ann.build_index(spark, all_emb, full, k_cells=4, iters=0)
    ai = spark.read.parquet(f"{inc}/assignments").select("vec_id", "cell")
    af = spark.read.parquet(f"{full}/assignments").select("vec_id", "cell")
    assert sorted(map(tuple, ai.collect())) == sorted(map(tuple, af.collect()))
    pi = ann.probe(spark, inc, vecs[40], top_k=5, nprobe=2, exclude_id=40)
    pf = ann.probe(spark, full, vecs[40], top_k=5, nprobe=2, exclude_id=40)
    assert pi.collect() == pf.collect()


def test_forget_removes_ids_and_bounds_rewrite(spark, tmp_path):
    """The delete cascade: forgotten ids never come back from a probe, and
    only the cells that held them are rewritten (untouched cell dirs keep
    their exact file set), in at most 3 Spark jobs."""
    import os

    emb, vecs = _emb_df(spark, n=40)
    root = str(tmp_path / "fidx")
    ann.build_index(spark, emb, root, k_cells=4, iters=0)
    cell_of = {
        r["vec_id"]: r["cell"]
        for r in spark.read.parquet(f"{root}/assignments")
        .select("vec_id", "cell").collect()
    }
    victims = [1, 2]
    hit = {cell_of[v] for v in victims}
    untouched = [c for c in {0, 1, 2, 3} - hit]
    files_before = {
        c: sorted(os.listdir(f"{root}/assignments/cell={c}"))
        for c in untouched
    }

    sc = spark.sparkContext
    sc.setJobGroup("forget-budget", "forget-budget")
    try:
        rec = ann.forget(spark, root, victims)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    # both trees staged by Spark, then one driver-side swap: no
    # overwrite pass, no live-cell collect (7 jobs with those)
    assert len(sc.statusTracker().getJobIdsForGroup("forget-budget")) <= 3
    assert rec["n_forgotten"] == 2
    assert set(rec["cells_rewritten"]) | set(rec["cells_emptied"]) <= hit

    left = spark.read.parquet(f"{root}/assignments")
    assert left.count() == 38
    assert left.filter(F.col("vec_id").isin(victims)).count() == 0
    for c in untouched:
        assert sorted(os.listdir(f"{root}/assignments/cell={c}")) == \
            files_before[c]
    # a probe aimed straight at a victim's own cell never returns it
    got = ann.probe(spark, root, vecs[1], top_k=38, nprobe=4).collect()
    assert all(r["vec_id"] not in victims for r in got)
    # idempotent / miss: forgetting unknown ids is a no-op
    assert ann.forget(spark, root, [999])["n_forgotten"] == 0


def test_forget_rejects_remote_uri(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="local"):
        ann.forget(spark, "s3://bucket/idx", [1])


def test_index_job_append_and_forget_cli(spark, tmp_path, capsys):
    import jobs.index as index_job

    emb, _ = _emb_df(spark, n=30)
    old = str(tmp_path / "old.parquet")
    new = str(tmp_path / "new.parquet")
    emb.filter(F.col("vec_id") < 24).write.parquet(old)
    emb.filter(F.col("vec_id") >= 24).write.parquet(new)
    out = str(tmp_path / "lidx")
    index_job.main(["--embeddings", old, "--out", out, "--k-cells", "4"])
    index_job.main(["--embeddings", new, "--out", out, "--append"])
    index_job.main(["--embeddings", old, "--out", out, "--forget", "7",
                    "--probe-vec-id", "3", "--top-k", "5", "--nprobe", "4"])
    recs = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()
            if l.startswith("{")]
    assert recs[-3]["n_vectors"] == 24
    assert recs[-2]["n_appended"] == 6 and recs[-2]["n_vectors"] == 30
    assert recs[-1]["n_forgotten"] == 1
    assert all(n["vec_id"] != 7 for n in recs[-1]["probe"]["neighbors"])


def test_index_mutation_lock(spark, tmp_path):
    """forget/append exclude each other via .index_lock: an append racing
    forget's swap would lose appended rows in rewritten cells. The lock
    is released after a successful mutation."""
    import os

    import pytest as _pytest

    from vcf2df_spark.commit import LockHeldError

    emb, _ = _emb_df(spark, n=20)
    root = str(tmp_path / "lockidx")
    ann.build_index(spark, emb, root, k_cells=4)

    lock = f"{root}/.index_lock"
    with open(lock, "w") as f:
        f.write("stuck-job")
    with _pytest.raises(LockHeldError, match="stuck-job"):
        ann.forget(spark, root, [1])
    with _pytest.raises(LockHeldError, match="stuck-job"):
        ann.append_index(spark, emb.limit(1), root)
    os.unlink(lock)

    assert ann.forget(spark, root, [1])["n_forgotten"] == 1
    assert not os.path.exists(lock)


def test_routing_sidecar_locates_cells_without_assignments_scan(
    spark, tmp_path, monkeypatch
):
    """r6 (VERDICT r5 #1): the (vec_id -> cell) routing sidecar locates
    forget's hit cells driver-side, so the assignments tree is never
    fully scanned; the sidecar mirrors the assignments through build,
    append and forget."""
    import os

    emb, _ = _emb_df(spark, n=40)
    root = str(tmp_path / "ridx")
    ann.build_index(spark, emb, root, k_cells=4, iters=0)
    assert os.path.isdir(f"{root}/routing")

    asg = spark.read.parquet(f"{root}/assignments")
    want = sorted(map(tuple, asg.select("vec_id", "cell").collect()))
    rt = spark.read.parquet(f"{root}/routing")
    assert sorted(map(tuple, rt.select("vec_id", "cell").collect())) == want

    cell_of = dict(want)
    victims = [3, 17]
    hits = ann._routed_hit_cells(root, root, victims, "vec_id")
    assert hits == sorted({cell_of[v] for v in victims})

    # forget must take the routed path: a full assignments scan would go
    # through spark.read.parquet on the assignments ROOT — forbid it
    real_parquet = type(spark.read).parquet

    def guarded_parquet(self, *paths):
        assert not any(p.rstrip("/").endswith("/assignments") for p in paths), \
            "forget scanned the whole assignments tree despite routing"
        return real_parquet(self, *paths)

    monkeypatch.setattr(type(spark.read), "parquet", guarded_parquet)
    rec = ann.forget(spark, root, victims)
    monkeypatch.undo()
    assert rec["n_forgotten"] == 2

    # sidecar updated: forgotten ids are gone from routing too (GDPR)
    rt = spark.read.parquet(f"{root}/routing")
    assert rt.filter(F.col("vec_id").isin(victims)).count() == 0
    asg = spark.read.parquet(f"{root}/assignments")
    assert rt.count() == asg.count() == 38

    # append keeps the sidecar complete -> a later forget still routes
    more, _ = _emb_df(spark, n=48)
    ann.append_index(spark, more.filter(F.col("vec_id") >= 40), root)
    rt = spark.read.parquet(f"{root}/routing")
    assert rt.count() == spark.read.parquet(f"{root}/assignments").count()
    hits = ann._routed_hit_cells(root, root, [44], "vec_id")
    assert hits is not None and len(hits) == 1
    rec = ann.forget(spark, root, [44])
    assert rec["n_forgotten"] == 1


def test_routing_sidecar_incomplete_falls_back(spark, tmp_path):
    """A pre-routing index (or a sidecar behind the assignments) must
    NEVER be trusted — forget falls back to the full scan and still
    erases everything."""
    import shutil

    emb, _ = _emb_df(spark, n=30)
    root = str(tmp_path / "oldidx")
    ann.build_index(spark, emb, root, k_cells=4, iters=0)
    shutil.rmtree(f"{root}/routing")
    assert ann._routed_hit_cells(root, root, [5], "vec_id") is None
    rec = ann.forget(spark, root, [5])
    assert rec["n_forgotten"] == 1
    left = spark.read.parquet(f"{root}/assignments")
    assert left.filter(F.col("vec_id") == 5).count() == 0
    # append onto a sidecar-less index must not create a PARTIAL sidecar
    import os

    more, _ = _emb_df(spark, n=34)
    ann.append_index(spark, more.filter(F.col("vec_id") >= 30), root)
    assert not os.path.isdir(f"{root}/routing")


def test_append_counts_one_metadata_listing(spark, tmp_path, monkeypatch):
    """r6 (VERDICT r5 #2): append's row accounting rides the write via
    observe() — at most ONE footer-metadata listing per append, not a
    before/after pair."""
    calls: list[str] = []
    real = ann._count_rows

    def counting(path, **kw):
        calls.append(path)
        return real(path, **kw)

    emb, _ = _emb_df(spark, n=36)
    root = str(tmp_path / "cidx")
    ann.build_index(spark, emb.filter(F.col("vec_id") < 24), root, k_cells=4)
    monkeypatch.setattr(ann, "_count_rows", counting)
    rec = ann.append_index(spark, emb.filter(F.col("vec_id") >= 24), root)
    assert rec["n_appended"] == 12 and rec["n_vectors"] == 36
    assert len(calls) <= 1, calls
