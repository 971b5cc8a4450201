"""Counters for one job group, read from outside the engine.

Stage counters come from Spark's status store; bytes sent back from the
Python workers come from the SQL metrics of the executions the group ran;
Python worker CPU is read from /proc for the JVM's Python children, since
executor CPU time in the status store counts JVM threads only.
"""

from __future__ import annotations

import os
import re

_CLK = os.sysconf("SC_CLK_TCK")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size(text: str) -> float:
    """Bytes in a Spark size-metric string: its total, the first `<n> <unit>`
    (multi-task metrics read 'total (min, med, max ...)\\n<total> (...)')."""
    m = re.search(r"([\d.]+) (B|KiB|MiB|GiB|TiB)\b", text)
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else 0.0


def _proc_table() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        f = raw[raw.rindex(")") + 2 :].split()
        # fields after comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
        cpu = sum(int(x) for x in f[11:15]) / _CLK
        out[int(d)] = (int(f[1]), comm, cpu)
    return out


def python_worker_cpu(jvm_pid: int) -> float:
    """CPU seconds of every Python process descending from the JVM."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0.0, list(kids.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        if table[pid][1].startswith("python"):
            total += table[pid][2]
        todo.extend(kids.get(pid, []))
    return total


class GroupStats:
    """Collects counters for the jobs one call ran under its own job group."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())
        self._n = 0

    def start(self, label: str) -> tuple[str, float]:
        self._n += 1
        group = f"tokbench-{label}-{self._n}"
        self.sc.setJobGroup(group, label)
        return group, python_worker_cpu(self.jvm_pid)

    def finish(self, token: tuple[str, float]) -> dict[str, float]:
        group, cpu0 = token
        py_cpu = python_worker_cpu(self.jvm_pid) - cpu0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        store = self.sc._jsc.sc().statusStore()
        tasks = cpu_ns = shuffle = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted
                    continue
                tasks += sd.numCompleteTasks()
                cpu_ns += sd.executorCpuTime()
                shuffle += sd.shuffleWriteBytes()
        return {
            "jobs": len(jobs),
            "tasks": tasks,
            "executor_cpu_s": cpu_ns / 1e9,
            "python_worker_s": py_cpu,
            "shuffle_write_bytes": shuffle,
            "python_to_jvm_bytes": self._python_out_bytes(set(jobs)),
        }

    def _python_out_bytes(self, jobs: set[int]) -> float:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = 0.0
        it = sql.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            ex_jobs = set()
            jit = ex.jobs().keys().iterator()
            while jit.hasNext():
                ex_jobs.add(int(jit.next()))
            if not ex_jobs & jobs:
                continue
            names = {}
            mit = ex.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                if m.name() == "data returned from Python workers":
                    names[m.accumulatorId()] = True
            vals = sql.executionMetrics(ex.executionId())
            for acc in names:
                v = vals.get(acc)
                if v.isDefined():
                    total += parse_size(v.get())
        return total
