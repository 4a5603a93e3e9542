"""What one timed operation cost, read from outside the program.

* process-tree CPU seconds and peak RSS from ``/proc`` (driver Python, the
  Spark JVM it launched and the JVM's Python workers);
* host drift: load average and ``/proc/stat`` steal ticks;
* Spark counters for the jobs run under one job group, from the driver's
  status store (jobs, stages, tasks, shuffle bytes, input records).
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces; the fields after it are plain
    return data[data.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and every live descendant."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def tree_cpu_s(pids: list[int]) -> float:
    """User + system CPU of the live tree plus its reaped children."""
    ticks = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:  # fields 14-17 of stat: utime stime cutime cstime
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK


def tree_peak_rss_mb(pids: list[int]) -> dict[str, float]:
    """Resident high-water mark per live process, keyed ``name:pid``."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{fields['Name'].strip()}:{pid}"] = int(fields["VmHWM"].split()[0]) / 1024
    return out


def host_drift() -> dict:
    """Load average and cumulative steal ticks, for before/after records."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return {"load1": load1, "steal_ticks": int(cpu[8]) if len(cpu) > 8 else 0}


class SparkCounters:
    """Per-job-group counters from the SparkContext's status store."""

    def __init__(self, sc):
        self.sc = sc
        self._jsc = sc._jsc.sc()
        self._n = 0

    def begin(self, what: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, what)
        return group

    def collect(self, group: str) -> dict:
        """Counters of every job the group ran; waits for the listener bus
        so the last job's stage metrics are in the store."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = {"spark_jobs": 0, "spark_stages": 0, "spark_tasks": 0,
               "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
               "input_records": 0}
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(job_id)
            out["spark_jobs"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                try:
                    st = store.lastStageAttempt(stage_ids.apply(i))
                except Py4JJavaError:  # never attempted: its shuffle was reused
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["spark_stages"] += 1
                out["spark_tasks"] += st.numCompleteTasks()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["input_records"] += st.inputRecords()
        return out
