"""Per-call layer tracing from outside the program.

Each traced call runs under its own Spark job group; afterwards the
group's jobs and stages are read back from the application status
store (``sc._jsc.sc().statusStore()``, available with the UI off).
A call's driver gap is its wall time minus the union of its stages'
submit-to-complete intervals: time in which no stage of the call ran.
"""

from __future__ import annotations

import itertools
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0

#: per-call fields recorded for every traced function
FIELDS = ("wall_s", "jobs", "tasks", "exec_cpu_s", "shuffle_mb", "spill_mb", "driver_gap_s")


@dataclass
class Call:
    fn: str
    wall_s: float
    jobs: int = 0
    tasks: int = 0
    exec_cpu_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    driver_gap_s: float = 0.0
    traced: bool = False
    info: dict = field(default_factory=dict)  # workload-specific facts


def host_steal_s() -> float:
    """CPU time the hypervisor has given to other guests, per processor
    of this host, since boot (0 where the kernel does not report it)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    if len(fields) <= 8:
        return 0.0
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") / (os.cpu_count() or 1)


def tree_cpu_s(root: int) -> float:
    """CPU time used so far by process ``root`` and all its descendants
    (for this benchmark: the Python driver, the driver JVM and the
    Python workers it forks), counting children already reaped."""
    children: dict[int, list[int]] = defaultdict(list)
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited meanwhile
            continue
        rest = stat[stat.rindex(")") + 2:].split()
        pid = int(entry)
        children[int(rest[1])].append(pid)
        ticks[pid] = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def clock() -> tuple[float, float, float]:
    """``(wall, steal, cpu)`` seconds now; differences of two readings
    give an interval's wall time, the part of it the hypervisor took
    from each processor, and the CPU time this benchmark's processes
    used in it."""
    return time.time(), host_steal_s(), tree_cpu_s(os.getpid())


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Times calls and counts their Spark jobs (the path guards need the
    count); with ``enabled`` also attributes stages, tasks, CPU,
    shuffle and spill to them."""

    def __init__(self, enabled: bool):
        self.spark = None  # set once a session exists
        self.enabled = enabled
        self.calls: list[Call] = []
        self._ids = itertools.count()

    def call(self, fn_name: str, fn, *args, **kwargs):
        """Run ``fn(*args, **kwargs)``; return ``(result, Call)``."""
        sc = self.spark.sparkContext if self.spark is not None else None
        group = f"bench-{next(self._ids)}-{fn_name}"
        if sc is not None:
            sc.setJobGroup(group, fn_name)
        t0 = time.time()
        try:
            out = fn(*args, **kwargs)
        finally:
            t1 = time.time()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        rec = Call(fn_name, t1 - t0)
        if sc is not None:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
            rec.jobs = len(job_ids)
            if self.enabled:
                self._attribute(rec, job_ids, t0, t1)
        self.calls.append(rec)
        return out, rec

    def _attribute(self, rec: Call, job_ids: list[int], t0: float, t1: float) -> None:
        rec.traced = True
        store = self.spark.sparkContext._jsc.sc().statusStore()
        stage_ids: set[int] = set()
        for jid in job_ids:
            seq = store.job(jid).stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.size()))
        spans = []
        for sid in stage_ids:
            s = store.lastStageAttempt(sid)
            sub = s.submissionTime()
            # a stage another call already ran shows up again as skipped
            if not sub.isDefined() or sub.get().getTime() / 1000.0 < t0 - 1e-3:
                continue
            done = s.completionTime()
            end = done.get().getTime() / 1000.0 if done.isDefined() else t1
            spans.append((sub.get().getTime() / 1000.0, end))
            rec.tasks += s.numCompleteTasks()
            rec.exec_cpu_s += s.executorCpuTime() / 1e9
            rec.shuffle_mb += (s.shuffleReadBytes() + s.shuffleWriteBytes()) / MB
            rec.spill_mb += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
        rec.driver_gap_s = max(0.0, rec.wall_s - _union_s(spans))


def per_call_means(calls: list[Call], fns: list[str]) -> dict[str, float]:
    """``<fn>.<field>`` mean per traced call for every function in
    ``fns`` (0 for a function the workload never calls)."""
    by_fn: dict[str, list[Call]] = defaultdict(list)
    for c in calls:
        if c.traced:
            by_fn[c.fn].append(c)
    out: dict[str, float] = {}
    for fn in fns:
        cs = by_fn.get(fn, [])
        for f in FIELDS:
            out[f"{fn}.{f}"] = sum(getattr(c, f) for c in cs) / len(cs) if cs else 0.0
    return out
