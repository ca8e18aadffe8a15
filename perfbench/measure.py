"""Process-level measurements: Spark counters per job group, JVM GC time
and peak resident memory of the process tree.

The status-store stage walk is the root ``bench.py``'s ``_ScopedCpu``; this
module only reads more fields from the stages that walk visits.  The
co-tenant CPU share comes from ``_ScopedCpu.measure`` itself (run.py).
"""

from __future__ import annotations

import os

from bench import _ScopedCpu


class _StageTotals:
    """Stands in for the status store during ``_ScopedCpu``'s walk and sums
    the task and shuffle fields of every stage the walk reads."""

    def __init__(self, store) -> None:
        self._store = store
        self.stages = self.tasks = self.shuffle_read = self.shuffle_write = 0

    def stageData(self, *args):  # noqa: N802 - the JVM method's name
        seq = self._store.stageData(*args)
        tasks = 0
        for i in range(seq.size()):
            stage = seq.apply(i)
            tasks += stage.numCompleteTasks()
            self.shuffle_read += stage.shuffleReadBytes()
            self.shuffle_write += stage.shuffleWriteBytes()
        self.stages += tasks > 0  # skipped stages run no task
        self.tasks += tasks
        return seq


def spark_counters(spark, groups: list[str]) -> dict[str, float]:
    """Jobs, stages that ran, tasks, executor CPU and shuffle bytes summed
    over the given job groups."""
    scoped = _ScopedCpu(spark)
    if not scoped.scoped:
        raise RuntimeError("Spark status store is not reachable over py4j")
    totals = _StageTotals(scoped._store)
    scoped._store = totals
    jobs = 0
    cpu_s = 0.0
    for group in groups:
        jobs += len(scoped._tracker.getJobIdsForGroup(group))
        cpu_s += scoped._group_stage_cpu_s(group)
    return {
        "spark.jobs": jobs,
        "spark.stages": totals.stages,
        "spark.tasks": totals.tasks,
        "spark.executor_cpu_ms": cpu_s * 1000,
        "spark.shuffle_read_bytes": totals.shuffle_read,
        "spark.shuffle_write_bytes": totals.shuffle_write,
    }


def jvm_gc_ms(spark) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    beans = (spark.sparkContext._jvm.java.lang.management.ManagementFactory
             .getGarbageCollectorMXBeans())
    return float(sum(max(b.getCollectionTime(), 0) for b in beans))


def _tree_pids(root: int) -> list[int]:
    """``root`` and its live descendants, from each thread's ``children``
    file in /proc."""
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue  # raced a process exit
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    stack.extend(int(c) for c in f.read().split())
            except OSError:
                continue
    return out


def peak_rss_mb() -> float:
    """Sum over this process tree (Python driver, JVM, Python workers) of
    each live process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024
