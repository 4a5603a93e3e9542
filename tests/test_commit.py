"""The one commit protocol (vcf2df_spark/commit.py), proven by fault
injection: every filesystem step of the swap — each rename, replace,
unlink and rmtree, enumerated from a clean run — is failed in turn for
delete, upsert, an encode append and ANN forget. Taking the lock again
must leave exactly the before or the after state, with every manifest
checksum intact."""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
import pytest

import jobs.decode_verify as decode_verify_job
import jobs.delete as delete_job
import jobs.encode as encode_job
import jobs.upsert as upsert_job
from vcf2df_spark import ann, commit, fixtures

STEP_CALLS = [(os, "rename"), (os, "replace"), (os, "unlink"), (shutil, "rmtree")]


def _run(main, argv):
    out = io.StringIO()
    code = 0
    with contextlib.redirect_stdout(out):
        try:
            main(argv)
        except SystemExit as e:
            code = e.code or 0
    lines = [l for l in out.getvalue().splitlines() if l.startswith("{")]
    return code, json.loads(lines[-1])


@contextlib.contextmanager
def _swap_steps(fail_at=None):
    """Record every filesystem step ``commit.swap`` takes; raise OSError
    instead of taking step ``fail_at`` (0-based). Calls outside the swap
    (Spark staging, lock files) pass through uncounted."""
    steps: list[str] = []
    armed = [False]
    real_swap = commit.swap

    def swap(*a, **kw):
        armed[0] = True
        try:
            return real_swap(*a, **kw)
        finally:
            armed[0] = False

    def counted(name, real):
        def step(*a, **kw):
            if not armed[0]:  # outside the swap, or inside an rmtree
                return real(*a, **kw)
            steps.append(f"{name} {a[0]}")
            if len(steps) - 1 == fail_at:
                raise OSError(f"injected failure: {steps[-1]}")
            armed[0] = False
            try:
                return real(*a, **kw)
            finally:
                armed[0] = True
        return step

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(commit, "swap", swap)
        for mod, name in STEP_CALLS:
            mp.setattr(mod, name, counted(name, getattr(mod, name)))
        yield steps


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """A 60-conversation, 8-partition warehouse, the before/after sources
    of one delete, one upsert and one encode append, and a 4-cell ANN
    index."""
    d = tmp_path_factory.mktemp("commit")
    df = fixtures.transcripts_small(n_convs=60)
    before = str(d / "before.parquet")
    fixtures.write_parquet(df, before)
    wh = str(d / "wh")
    code, rec = _run(encode_job.main, [
        "--input", before, "--out", wh, "--partitions", "8",
        "--job-id", "c0", "--master", "local[4]",
    ])
    assert code == 0 and rec["status"] == "ok"

    cids = sorted(df["conv_id"].unique())
    victim, edited = cids[0], cids[1]
    deleted = str(d / "deleted.parquet")
    fixtures.write_parquet(df[df["conv_id"] != victim], deleted)
    # upsert: one conversation edited in place, one brand-new one
    rep = df[df["conv_id"] == edited].copy()
    rep["text"] = rep["text"] + " (edited)"
    new = rep.head(3).copy()
    new["conv_id"] = "conv-99999999"
    rep = pd.concat([rep, new], ignore_index=True)
    replacement = str(d / "replacement.parquet")
    fixtures.write_parquet(rep, replacement)
    upserted = str(d / "upserted.parquet")
    fixtures.write_parquet(
        pd.concat([df[df["conv_id"] != edited], rep], ignore_index=True),
        upserted,
    )

    # encode append: one new conversation merged into a committed partition
    extra = df[df["conv_id"] == cids[2]].head(4).copy()
    extra["conv_id"] = "conv-88888888"
    appended = str(d / "appended.parquet")
    fixtures.write_parquet(extra, appended)
    union = str(d / "union.parquet")
    fixtures.write_parquet(pd.concat([df, extra], ignore_index=True), union)

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 8))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]], i % 3) for i in range(40)],
        "vec_id long, embedding array<double>, label int",
    )
    idx = str(d / "idx")
    ann.build_index(spark, emb, idx, k_cells=4, iters=0)
    return {"before": before, "wh": wh, "victim": victim,
            "deleted": deleted, "replacement": replacement,
            "upserted": upserted, "appended": appended, "union": union,
            "idx": idx}


def _wh_state(wh, sources):
    """'before'/'after' — whichever source the warehouse decodes to
    bit-identically (the multiset signature) — with 0 manifest checksum
    mismatches either way."""
    for name, src in sources:
        code, rec = _run(decode_verify_job.main, [
            "--warehouse", wh, "--source", src, "--master", "local[4]",
        ])
        assert rec["manifest_checksum_mismatches"] == 0, rec
        if rec["status"] == "bit-identical":
            return name
    return None


def _index_rows(idx):
    """(assignments, routing) as sorted (vec_id, cell[, label]) rows."""
    a = pads.dataset(f"{idx}/assignments", format="parquet",
                     partitioning="hive").to_table(
        columns=["vec_id", "cell", "label"]).to_pylist()
    r = pads.dataset(f"{idx}/routing", format="parquet",
                     partitioning="hive").to_table(
        columns=["vec_id", "cell"]).to_pylist()
    return (tuple(sorted(tuple(x.values()) for x in a)),
            tuple(sorted(tuple(x.values()) for x in r)))


def _mutations(spark, base):
    """name -> (source root, mutate(root), recover(root), state(root))."""
    # forget every vector of one cell (an emptied cell: a (live, None)
    # pair) and one vector of another (a rewritten cell)
    before_idx = _index_rows(base["idx"])
    asg = before_idx[0]
    victims = [v for v, c, _l in asg if c == asg[0][1]]
    victims.append(next(v for v, c, _l in asg if c != asg[0][1]))
    after_idx = tuple(tuple(r for r in rows if r[0] not in victims)
                      for rows in before_idx)

    def forget_state(root):
        got = _index_rows(root)
        return {before_idx: "before", after_idx: "after"}.get(got)

    def wh_recover(root):
        with commit.locked(root, ".rewrite_lock", ".rewrite_staging",
                           "recover", "rewrite"):
            pass

    def idx_recover(root):
        with ann._index_lock(root, "recover"):
            pass

    def wh_job(main, *argv):
        return lambda root: _run(main, ["--warehouse", root, *argv,
                                        "--master", "local[4]"])

    before = ("before", base["before"])
    return {
        "delete": (
            base["wh"], wh_job(delete_job.main, "--conv-id", base["victim"]),
            wh_recover,
            lambda root: _wh_state(root, [before, ("after", base["deleted"])]),
        ),
        "upsert": (
            base["wh"], wh_job(upsert_job.main, "--input", base["replacement"]),
            wh_recover,
            lambda root: _wh_state(root, [before, ("after", base["upserted"])]),
        ),
        "encode": (
            base["wh"],
            lambda root: _run(encode_job.main, [
                "--input", base["appended"], "--out", root, "--partitions",
                "8", "--job-id", "c1", "--master", "local[4]",
            ]),
            wh_recover,
            lambda root: _wh_state(root, [before, ("after", base["union"])]),
        ),
        "forget": (
            base["idx"], lambda root: ann.forget(spark, root, victims),
            idx_recover, forget_state,
        ),
    }


@pytest.mark.parametrize("mutation", ["delete", "upsert", "encode", "forget"])
def test_every_swap_step_fails_safe(spark, base, tmp_path, mutation):
    src, mutate, recover, state = _mutations(spark, base)[mutation]
    lock = {"forget": ".index_lock"}.get(mutation, ".rewrite_lock")

    clean = str(tmp_path / "clean")
    shutil.copytree(src, clean)
    with _swap_steps() as steps:
        mutate(clean)
    assert state(clean) == "after"
    n_steps = len(steps)
    # journal replace, a rename pair per swapped dir, then .old, the
    # journal and the staging dir go
    assert steps[0].startswith("replace ") and n_steps >= 6, steps
    kinds = {s.split(" ", 1)[0] for s in steps}
    assert kinds == {"replace", "rename", "unlink", "rmtree"}, steps

    for k in range(n_steps):
        root = str(tmp_path / f"fail{k}")
        shutil.copytree(src, root)
        with _swap_steps(fail_at=k), pytest.raises(OSError, match="injected"):
            mutate(root)
        assert not os.path.exists(f"{root}/{lock}")
        recover(root)
        assert not any(n.endswith("_staging") for n in os.listdir(root))
        got = state(root)
        # nothing is published before the journal is in place; once it
        # is, the next taker of the lock finishes the swap
        assert got == ("before" if k == 0 else "after"), (k, steps[k], got)
        shutil.rmtree(root)
