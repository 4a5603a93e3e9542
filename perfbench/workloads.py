"""The three workloads, their set-up and the output checks.

One driver process, one warm ``local[nproc]`` session and one closed-loop
client: each operation starts when the previous one has returned. The jobs
are called through ``main(argv)`` exactly as ``spark-submit`` runs them;
they leave alone the session they did not create.

* ``ingest``: repeated ``encode`` jobs into a fresh warehouse, each followed
  by ``decode_verify`` and a few ``fetch_conversation`` output checks.
* ``serve``: SQL point lookups through ``jobs/query.py`` (one in ten asks for
  an absent id), API gets through ``fetch_conversation`` and three SQL
  aggregates, against a warehouse built during set-up.
* ``mutate``: ``upsert`` of changed and of new conversations and ``delete``
  of existing ones, each checked with a get, on a fresh copy of a warehouse
  built during set-up.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import importlib.util
import io
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback
import zipfile

import corpus
import meter

# A quarter of bench.py's corpus (20,000 conversations into 32 partitions)
# with a quarter of its partitions: each partition holds as many rows, so
# chunks, codec decisions and disk bytes per row match bench.py, while the
# runs stay short enough to repeat.
N_CONVS = 5_000
PARTITIONS = 8
JOBS = ("encode", "decode_verify", "query", "upsert", "delete")
# op kinds whose samples are Spark job walls (the rest are API gets)
JOB_KINDS = {
    "ingest": ("encode", "decode_verify"),
    "serve": ("lookup", "sql_full", "sql_narrow", "sql_range"),
    "mutate": ("upsert", "delete"),
}
SQL = {
    "sql_full": "SELECT role, avg(length(text)) AS v FROM t GROUP BY role",
    "sql_narrow": "SELECT role, count(*) AS v FROM t GROUP BY role",
    "sql_range": ("SELECT count(*) AS n, sum(turn_idx) AS s FROM t "
                  "WHERE ts >= TIMESTAMP '{lo}' AND ts < TIMESTAMP '{hi}'"),
}


class CheckFailed(Exception):
    pass


def _load_job(root: str, name: str):
    spec = importlib.util.spec_from_file_location(
        f"perfbench_job_{name}", os.path.join(root, "jobs", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _median(xs):
    return statistics.median(xs) if xs else None


def _geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else None


def _iso(us: int) -> str:
    return dt.datetime.fromtimestamp(us / 1e6, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


class Bench:
    def __init__(self, root: str, work: str, workload: str, seed: int,
                 seconds: float, tracer):
        self.root, self.work, self.workload = root, work, workload
        self.seed, self.seconds, self.tracer = seed, seconds, tracer
        self.rng = random.Random(seed)
        self.samples: list[dict] = []
        self.setup: dict[str, float] = {}
        self.jobs: dict = {}
        self.spark = None
        self._kind_seen: dict[str, int] = {}
        self.peak_rss_mb, self.peak_rss, self.python_rss_mb = 0.0, {}, 0.0
        self.trace_ab = False  # traced run: alternate spans on/off per op kind

    # ---- set-up ---------------------------------------------------------

    def _timed_setup(self, name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.setup[name] = self.setup.get(name, 0.0) + time.perf_counter() - t0
        return out

    def set_up(self) -> None:
        self._timed_setup("corpus_s", self._make_corpus)
        self.spark = self._timed_setup("session.start_s", self._start_session)
        self._timed_setup("shipping.ship_s", self._ship)
        self.counters = meter.SparkCounters(self.spark.sparkContext)
        self.jobs = {name: _load_job(self.root, name) for name in JOBS}
        self._timed_setup("warmup_s", getattr(self, f"_warm_{self.workload}"))

    def _make_corpus(self) -> None:
        import numpy
        import pyarrow

        table = corpus.generate(N_CONVS, self.seed)
        self.corpus_path = os.path.join(self.work, "corpus.parquet")
        self.corpus_bytes = corpus.write(table, self.corpus_path)
        self.ref = corpus.Reference(table)
        span = 14 * 86400 * 10**6
        lo = self.rng.randrange(corpus.START_LO_US, corpus.START_HI_US - span) // 10**6 * 10**6
        self.range_us = (lo, lo + span)
        self.want = {"sql_full": self.ref.avg_text_len_by_role(),
                     "sql_narrow": self.ref.count_by_role(),
                     "sql_range": self.ref.ts_range(lo, lo + span)}
        self.fingerprint = {
            "seed": self.seed, "n_convs": N_CONVS, "rows": table.num_rows,
            "corpus_bytes": self.corpus_bytes,
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
        }

    def _start_session(self):
        from vcf2df_spark.session import get_spark

        spark = get_spark(master=f"local[{len(os.sched_getaffinity(0))}]",
                          app_name=f"perfbench-{self.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def _ship(self) -> None:
        """The package zip ``shipping.ensure_shipped`` would build, built
        inside the run directory: ensure_shipped writes under /tmp, and the
        benchmark keeps every write inside its checkout."""
        from vcf2df_spark import shipping

        pkg = os.path.join(self.root, "vcf2df_spark")
        path = os.path.join(self.work, "vcf2df_spark.zip")
        with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
            for d, _, files in os.walk(pkg):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(d, f)
                        z.write(full, os.path.join("vcf2df_spark", os.path.relpath(full, pkg)))
        self.spark.sparkContext.addPyFile(path)
        shipping._shipped.add(id(self.spark.sparkContext))

    def _build(self, wh: str) -> None:
        self.op("encode", self._encode, wh, record=False)
        self.disk_ratio = _dir_bytes(f"{wh}/blocks") / self.corpus_bytes

    def _warm_ingest(self) -> None:
        wh = self._path("wh-warm")
        self._build(wh)
        self.op("decode_verify", self._verify, wh, record=False)
        self.pristine = wh

    def _warm_serve(self) -> None:
        self.wh = self._path("wh")
        self._build(self.wh)
        self.pristine = self.wh
        hit = self.rng.choice(self.ref.conv_ids)
        self.op("lookup", self._lookup, hit, record=False)
        self.op("get", self._get, self.wh, hit, record=False)
        for kind in ("sql_full", "sql_narrow", "sql_range"):
            self.op(kind, self._sql, kind, record=False)

    def _warm_mutate(self) -> None:
        base = self._path("wh-base")
        self._build(base)
        self.pristine = base
        warm = self._path("wh-warm")
        shutil.copytree(base, warm)
        self._mutations(warm, record=False)
        self.wh = self._path("wh")
        shutil.copytree(base, self.wh)

    def _path(self, name: str) -> str:
        return os.path.join(self.work, name)

    # ---- one operation --------------------------------------------------

    def op(self, kind: str, fn, *args, record: bool = True):
        """Run one operation under its own job group; record wall, tree CPU,
        Spark counters and host drift; run its output check."""
        traced = self.tracer.enabled
        if record and self.trace_ab:
            # spans on for the 1st, 4th, 5th, 8th... call of each kind: the
            # ABBA order cancels a linear drift out of the overhead estimate
            seen = self._kind_seen.get(kind, 0)
            self._kind_seen[kind] = seen + 1
            self.tracer.enabled = seen % 4 in (0, 3)
        # a spark-submit job starts with an empty cache; jobs/encode.py
        # persists its blocks and never unpersists them, so a later encode
        # of the same input in this shared session would read that cache
        self.spark.catalog.clearCache()
        drift0 = meter.host_drift()
        cpu0 = meter.tree_cpu_s(meter.tree_pids())
        group = self.counters.begin(kind)
        ok, err, out = True, None, None
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind, "scan" if kind == "get" else "jobs"):
                out = fn(*args)
        except (Exception, SystemExit) as e:  # noqa: BLE001 - a failed op is a sample
            ok, err = False, f"{type(e).__name__}: {e}"
            if not isinstance(e, CheckFailed):
                traceback.print_exc()
        wall = time.perf_counter() - t0
        pids = meter.tree_pids()
        cpu = meter.tree_cpu_s(pids) - cpu0
        if record:
            # how many idle Python workers are alive varies from op to op,
            # so keep the largest sums seen over the run
            rss = meter.tree_peak_rss_mb(pids)
            py = sum(v for k, v in rss.items() if not k.startswith("java:"))
            self.python_rss_mb = max(self.python_rss_mb, py)
            if sum(rss.values()) > self.peak_rss_mb:
                self.peak_rss_mb, self.peak_rss = sum(rss.values()), rss
        sample = {"kind": kind, "wall_s": wall, "cpu_s": cpu, "ok": ok,
                  "traced": self.tracer.enabled, "warmup": not record,
                  "drift_before": drift0, "drift_after": meter.host_drift(),
                  **self.counters.collect(group)}
        self.tracer.enabled = traced
        if err:
            sample["error"] = err
            print(f"perfbench: {kind} failed: {err}", file=sys.stderr)
        if isinstance(out, dict):
            sample.update(out)
        self.samples.append(sample)
        if not record and not ok:
            raise RuntimeError(f"set-up operation {kind} failed: {err}")
        return sample

    def _job(self, name: str, argv: list[str]) -> list[dict]:
        """Run a job's ``main(argv)``; returns its JSON output lines."""
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            try:
                self.jobs[name].main(argv)
            except SystemExit as e:
                if e.code not in (None, 0):
                    raise CheckFailed(f"{name} exited {e.code}: "
                                      f"{buf.getvalue()[-300:]}") from None
        lines = [json.loads(x) for x in buf.getvalue().splitlines()
                 if x.startswith("{")]
        if not lines:
            raise CheckFailed(f"{name} printed no result")
        return lines

    # ---- operations and their checks -----------------------------------

    def _encode(self, wh: str) -> dict:
        shutil.rmtree(wh, ignore_errors=True)
        out = self._job("encode", ["--input", self.corpus_path, "--out", wh,
                                   "--partitions", str(PARTITIONS),
                                   "--job-id", "perfbench"])[-1]
        if out.get("status") != "ok" or out.get("rows_encoded") != self.ref.n_rows:
            raise CheckFailed(f"encode: {out}")
        return {"turns": self.ref.n_rows}

    def _verify(self, wh: str) -> dict:
        out = self._job("decode_verify", ["--warehouse", wh,
                                          "--source", self.corpus_path])[-1]
        if (out.get("status") != "bit-identical"
                or out.get("rows_decoded") != self.ref.n_rows):
            raise CheckFailed(f"decode_verify: {out}")
        return {"turns": self.ref.n_rows}

    def _expect(self, what: str, conv_id: str, texts: list[str]) -> None:
        n, digest = self.ref.digest(conv_id)
        got = (len(texts), corpus.text_digest(texts) if texts else None)
        if got != (n, digest):
            raise CheckFailed(f"{what} {conv_id}: {got[0]} rows, expected {n}")

    def _lookup(self, conv_id: str) -> dict:
        sql = f"SELECT turn_idx, text FROM t WHERE conv_id = '{conv_id}' ORDER BY turn_idx"
        lines = self._job("query", ["--warehouse", self.wh, "--sql", sql,
                                    "--limit", "1000"])
        self._expect("lookup", conv_id, [r["text"] for r in lines[:-1]])
        return {"rows_returned": len(lines) - 1}

    def _get(self, wh: str, conv_id: str) -> dict:
        from vcf2df_spark.scan import fetch_conversation

        got = fetch_conversation(self.spark, wh, conv_id)
        self._expect("get", conv_id, list(got["text"]) if len(got) else [])
        return {}

    def _sql(self, kind: str) -> dict:
        lo, hi = (_iso(t) for t in self.range_us)
        lines = self._job("query", ["--warehouse", self.wh, "--sql",
                                    SQL[kind].format(lo=lo, hi=hi)])[:-1]
        want = self.want[kind]
        if kind == "sql_range":
            got = (lines[0]["n"], lines[0]["s"] or 0) if lines else None
            good = got == want
        else:
            got = {r["role"]: r["v"] for r in lines}
            good = got.keys() == want.keys() and all(
                math.isclose(got[k], want[k], rel_tol=1e-9) for k in want)
        if not good:
            raise CheckFailed(f"{kind}: {got} != {want}")
        return {}

    def _upsert(self, wh: str, path: str) -> dict:
        out = self._job("upsert", ["--warehouse", wh, "--input", path])[-1]
        if out.get("status") != "ok":
            raise CheckFailed(f"upsert: {out}")
        return {"partitions_rewritten": len(out.get("partitions_rewritten", []))}

    def _delete(self, wh: str, conv_id: str) -> dict:
        out = self._job("delete", ["--warehouse", wh, "--conv-id", conv_id])[-1]
        if out.get("status") != "ok":
            raise CheckFailed(f"delete: {out}")
        return {"partitions_rewritten": len(out.get("partitions_rewritten", []))}

    # ---- the measured loops ----------------------------------------------

    def run(self) -> None:
        self.deadline = time.perf_counter() + self.seconds
        getattr(self, f"_run_{self.workload}")()

    def _more(self) -> bool:
        """Before the deadline, and after it until every job type of the
        workload has a sample: with a deadline shorter than one round of
        the workload, every run measures the same operations."""
        return time.perf_counter() < self.deadline or any(
            not self.measured(k) for k in JOB_KINDS[self.workload])

    def _run_ingest(self) -> None:
        i = 0
        while self._more():
            wh = self._path(f"wh-{i}")
            self.op("encode", self._encode, wh)
            self.op("decode_verify", self._verify, wh)
            for conv in self.rng.sample(self.ref.conv_ids, 8):
                self.op("get", self._get, wh, conv)
            if self.pristine != wh:
                shutil.rmtree(self.pristine, ignore_errors=True)
            self.pristine = wh
            i += 1

    def _run_serve(self) -> None:
        aggs = ["sql_full", "sql_narrow", "sql_range"]
        n_lookup = 0
        while self._more():
            # about one lookup in ten asks for an id the corpus does not hold
            conv = (f"absent-{self.rng.randrange(10**8):08d}" if self.rng.random() < 0.1
                    else self.rng.choice(self.ref.conv_ids))
            self.op("lookup", self._lookup, conv)
            n_lookup += 1
            for c in self.rng.sample(self.ref.conv_ids, 5):
                if self._more():
                    self.op("get", self._get, self.wh, c)
            if self._more():
                kind = aggs[(n_lookup - 1) % 3]
                self.op(kind, self._sql, kind)

    def _run_mutate(self) -> None:
        while self._more():
            self._mutations(self.wh, record=True)

    def _mutations(self, wh: str, record: bool) -> None:
        """One upsert of a changed conversation, one of a new conversation
        and one delete, each followed by a get that must see the result."""
        import pyarrow.compute as pc

        def go() -> bool:
            return not record or self._more()

        k = len(self.samples)
        changed, gone = self.rng.sample(self.ref.conv_ids, 2)
        self.ref.conv_ids.remove(changed)
        self.ref.conv_ids.remove(gone)
        t = self.ref.table
        rows = t.filter(pc.equal(t.column("conv_id"), changed))
        rows = rows.set_column(3, "text", pc.binary_join_element_wise(
            rows.column("text"), f"edit {k}", " "))
        fresh = corpus.generate(1, self.seed * 1000 + k, prefix=f"new{k}-")
        for conv, table in ((changed, rows), (fresh.column("conv_id")[0].as_py(), fresh)):
            path = self._path(f"upsert-{k}-{conv}.parquet")
            corpus.write(table, path)
            self.ref.replace(conv, table)
            if go():
                self.op("upsert", self._upsert, wh, path, record=record)
                self.op("get", self._get, wh, conv, record=record)
        self.ref.replace(gone, t.slice(0, 0))
        if go():
            self.op("delete", self._delete, wh, gone, record=record)
            self.op("get", self._get, wh, gone, record=record)

    # ---- results ----------------------------------------------------------

    def measured(self, kind: str | None = None) -> list[dict]:
        return [s for s in self.samples
                if not s["warmup"] and (kind is None or s["kind"] == kind)]

    def walls(self, kind: str, traced: bool | None = None) -> list[float]:
        return [s["wall_s"] for s in self.measured(kind)
                if s["ok"] and (traced is None or s["traced"] == traced)]

    def end_to_end(self) -> tuple[dict, dict]:
        """(the metrics every workload reports, per-operation metrics).

        Only metrics that hold steady on a shared 4-core guest are in the
        first dict: wall times there drift 1.5-2x between minutes, CPU
        seconds and bytes do not. Wall times are in the second dict, which
        is printed and recorded but not compared between runs."""
        kinds = JOB_KINDS[self.workload]
        ok = [s for s in self.measured() if s["ok"]]
        job_p50 = [_median(self.walls(k)) for k in kinds if self.walls(k)]
        job_cpu = [_median([s["cpu_s"] for s in ok if s["kind"] == k])
                   for k in kinds if self.walls(k)]
        gets = sorted(self.walls("get"))
        attempted = len(self.measured())
        failed = attempted - len(ok)
        setup = sum(self.setup.values())
        common = {
            "setup_s": (setup, "s"),
            "job_cpu_geomean_s": (_geomean(job_cpu), "s"),
            "python_rss_mb": (self.python_rss_mb, "MB"),
            "disk_vs_zstd_parquet": (self.disk_ratio, "ratio"),
            "ok_rate": (len(ok) / attempted if attempted else None, "ratio"),
        }
        per_op = {name: (v, unit, 1) for name, (v, unit) in common.items()}
        per_op.update({
            "job_p50_geomean_s": (_geomean(job_p50), "s", len(job_p50)),
            "peak_rss_mb": (self.peak_rss_mb, "MB", 1),
            "error_rate": (failed / attempted if attempted else None, "ratio", attempted),
        })
        turns = self.ref.n_rows
        for kind, name, unit, f in (
            ("encode", "encode_turns_per_s", "turns/s", lambda w: turns / w),
            ("decode_verify", "verify_turns_per_s", "turns/s", lambda w: turns / w),
            ("lookup", "lookup_p50_ms", "ms", lambda w: w * 1e3),
            ("get", "get_p50_ms", "ms", lambda w: w * 1e3),
            ("sql_full", "sql_full_s", "s", lambda w: w),
            ("sql_narrow", "sql_narrow_s", "s", lambda w: w),
            ("sql_range", "sql_range_s", "s", lambda w: w),
            ("upsert", "upsert_p50_s", "s", lambda w: w),
            ("delete", "delete_p50_s", "s", lambda w: w),
        ):
            w = self.walls(kind)
            if w:
                per_op[name] = (f(_median(w)), unit, len(w))
        enc_cpu = [s["cpu_s"] for s in ok if s["kind"] == "encode"]
        if enc_cpu:
            per_op["encode_cpu_s_per_mturn"] = (_median(enc_cpu) / (turns / 1e6),
                                                "s", len(enc_cpu))
        if len(gets) >= 100:  # p90 only with at least ten samples beyond it
            per_op["get_p90_ms"] = (gets[math.ceil(0.9 * len(gets)) - 1] * 1e3,
                                    "ms", len(gets))
        return common, per_op
