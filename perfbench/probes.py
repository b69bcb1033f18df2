"""Outside-in measurement: host CPU accounting, Spark job-group counters
and an in-memory span tree.

Nothing here edits or wraps program code. Layer numbers come from
timing calls into the layers' public functions and from Spark's own
status store, read by job group.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


def host_cpu() -> tuple[float, float]:
    """(busy, steal) CPU-seconds of the whole host since boot.

    Busy is user + nice + system + irq + softirq; idle, iowait and steal
    are excluded, so a neighbour stealing cycles does not inflate it.
    Guest time is already counted inside user and nice."""
    with open("/proc/stat", encoding="ascii") as fh:
        f = [int(v) for v in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return (user + nice + system + irq + softirq) / _TICK, steal / _TICK


@dataclass
class Window:
    """Wall time, host busy CPU and host steal over one interval."""

    wall_s: float = 0.0
    busy_cpu_s: float = 0.0
    steal_s: float = 0.0


@contextmanager
def window():
    w = Window()
    b0, s0 = host_cpu()
    t0 = time.perf_counter()
    try:
        yield w
    finally:
        w.wall_s = time.perf_counter() - t0
        b1, s1 = host_cpu()
        w.busy_cpu_s, w.steal_s = b1 - b0, s1 - s0


def peak_rss_mib(pid: int) -> float:
    """High-water resident set of a process (``VmHWM``), in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for pid {pid}")


COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_bytes",
    "spill_bytes",
)


def group_counters(spark, group: str) -> dict[str, float]:
    """Sum the stage metrics of every job that ran under ``group``.

    Stages a job skipped (their shuffle output was reused) count once,
    under the job that ran them; stages evicted from the status store
    are missing, which is why the traced session retains more stages."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(COUNTERS, 0.0)
    seen: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # evicted or never submitted
                continue
            if st.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["task_run_s"] += st.executorRunTime() / 1e3
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


@dataclass
class Tracer:
    """Span tree kept in memory and written out once, at the end.

    Spans nest run → pass → operation → layer call; ``parent`` is the id
    of the enclosing span. ``enabled=False`` makes every span a no-op so
    untraced passes pay nothing for it."""

    enabled: bool = True
    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans}, fh)
