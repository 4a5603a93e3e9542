"""End-to-end benchmark of the transcript engine's jobs.

    python3 perfbench/run.py --workload {ingest,serve,mutate} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout of the repository. The corpus is generated
from ``--seed``; set-up starts one ``local[nproc]`` Spark session, ships the
package and warms every operation type the workload uses (all of it counts
as ``setup_s``); then one closed-loop client runs the workload's operations
for at least ``--seconds``, until each job type has a sample, and checks
every output. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics of
``perfbench/layers.py`` with ``--trace 1``). Every other byte of output,
the JVM's included, goes to standard error.

Each run writes its samples, host-drift record and set-up breakdown to
``.perfbench/results/`` and, when traced, its spans as JSON lines beside
them. The exit code is nonzero when any output check failed or the run
could not complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM = ["vcf2df_spark/__init__.py", "jobs/encode.py", "jobs/decode_verify.py",
           "jobs/query.py", "jobs/upsert.py", "jobs/delete.py"]
WORKLOADS = ("ingest", "serve", "mutate")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for d in ("tmp", "spark-local", "jvm-tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # the program defaults to an 8g driver heap; this host shares its memory
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    # every JVM spark-submit starts (its launcher too): temp files in the run
    # directory, and no hsperfdata file, which HotSpot always puts under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()] + ["pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until every process the run
    started (JVM, Python worker daemon and workers) has exited."""
    import meter
    from pyspark import SparkContext

    pids = [p for p in meter.tree_pids() if p != os.getpid()]
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while pids:
        pids = [p for p in pids if meter.alive(p)]
        if not pids:
            break
        if time.time() > deadline:
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 30
        time.sleep(0.1)


def main(argv=None) -> int:
    args = _args(argv)
    missing = [p for p in PROGRAM if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the program (missing {', '.join(missing)})",
              file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    import layers
    import meter
    import spans
    from workloads import Bench

    out_fd = os.dup(1)
    os.dup2(2, 1)  # the JVM and the jobs print to stdout; keep it for the result
    results = os.path.join(ROOT, ".perfbench", "results")
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}"
    tracer = spans.Tracer(run_id)
    bench = Bench(ROOT, work, args.workload, args.seed, args.seconds, tracer)
    status = 1
    try:
        drift0 = meter.host_drift()
        bench.set_up()
        if args.trace:
            tracer.wrap_modules()
            tracer.enabled = bench.trace_ab = True
        t_run = time.perf_counter()
        bench.run()
        run_s = time.perf_counter() - t_run
        common, per_op = bench.end_to_end()
        per_layer = layers.measure(bench, tracer) if args.trace else None
        drift1 = meter.host_drift()

        metrics = per_layer if args.trace else {
            k: {"value": v, "unit": u} for k, (v, u) in common.items()}
        bad = [k for k, m in metrics.items() if m["value"] is None]
        if bad:
            raise RuntimeError(f"no samples for {', '.join(bad)}")
        attempted = len(bench.measured())
        failed = sum(not s["ok"] for s in bench.measured())
        record = {
            "run_id": run_id, "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "run_s": run_s,
            "fingerprint": bench.fingerprint, "setup": bench.setup,
            "host_drift": {"before": drift0, "after": drift1},
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in common.items()},
            "per_operation": {k: {"value": v, "unit": u, "samples": n}
                              for k, (v, u, n) in per_op.items()},
            "peak_rss_mb": bench.peak_rss, "per_layer": per_layer, "samples": bench.samples,
        }
        with open(os.path.join(results, f"{run_id}.json"), "w") as f:
            json.dump(record, f, indent=1)
        if args.trace:
            tracer.write(os.path.join(results, f"{run_id}-spans.jsonl"))

        lines = [f"{k} = {v:.6g} {u} (samples: {n})" for k, (v, u, n) in sorted(per_op.items())]
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": metrics}
        os.write(out_fd, ("\n".join(lines + [json.dumps(result)]) + "\n").encode())
        status = 0 if failed == 0 else 1
    except Exception:  # noqa: BLE001 - report, then still stop every process
        traceback.print_exc()
    finally:
        try:
            _stop_spark(bench.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return status


if __name__ == "__main__":
    sys.exit(main())
