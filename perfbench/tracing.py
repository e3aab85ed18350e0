"""Spans, Spark engine counters and process memory, all read from outside
the program: spans wrap calls into the program's public functions, Spark
counters come from StatusTracker and the driver JVM's JMX beans over the
py4j gateway, memory from /proc."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager


class NullTracer:
    """Tracing off: spans cost one generator frame and record nothing."""

    @contextmanager
    def span(self, name: str):
        yield


class Tracer:
    """In-memory span recorder. Each span runs its Spark jobs under a job
    group of its own, so jobs and tasks are attributed to the innermost
    span; `stats()` reads them back from StatusTracker after the run."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id = "setup"

    def _set_group(self, sid: int | None) -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-{sid}", self.spans[sid]["name"])

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": sid, "name": name, "parent": parent,
                           "pass": self.pass_id, "start": time.perf_counter(),
                           "end": None})
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield
        finally:
            self.spans[sid]["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def stats(self) -> list[dict]:
        """Spans with duration, self time (duration minus the children's
        durations; children run sequentially) and the jobs, tasks and
        failed tasks of their own job group."""
        tracker = self.sc.statusTracker()
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out = []
        for s in self.spans:
            jobs = tracker.getJobIdsForGroup(f"perfbench-{s['id']}") or []
            tasks = failed = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for stage_id in (info.stageIds if info else []):
                    st = tracker.getStageInfo(stage_id)
                    if st is not None:
                        tasks += st.numTasks
                        failed += st.numFailedTasks
            dur = s["end"] - s["start"]
            out.append({**s, "dur_s": dur, "self_s": dur - child_s[s["id"]],
                        "jobs": len(jobs), "tasks": tasks,
                        "failed_tasks": failed})
        return out


def engine_counters(sc) -> dict:
    """Cumulative JVM-side counters: whole-stage-codegen compilations
    (Spark's CodegenMetrics histogram count) and GC time (JMX)."""
    jvm = sc._jvm
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return {"codegen_compiles": codegen.METRIC_COMPILATION_TIME().getCount(),
            "gc_s": sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0}


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in kids.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_sample(pid: int) -> tuple[float, int] | None:
    """(CPU seconds, VmHWM kB) of one process, or None once it has gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        with open(f"/proc/{pid}/status") as f:
            hwm = next((int(line.split()[1]) for line in f
                        if line.startswith("VmHWM:")), 0)
    except OSError:
        return None
    # utime and stime are fields 14 and 15 of /proc/<pid>/stat
    return (int(fields[11]) + int(fields[12])) / _CLK_TCK, hwm


class ProcessWatch:
    """CPU time and peak resident memory of this process and every
    descendant (the driver JVM, the PySpark daemon and its workers), from
    the moment it is created. Polling keeps the last value seen for
    processes that exit before the run ends; VmHWM is each process's own
    high-water mark."""

    def __init__(self):
        self.root = os.getpid()
        self.cpu_s: dict[int, float] = {}
        self.hwm_kb: dict[int, int] = {}
        # Restart this process's high-water mark, so input generation and
        # the DuckDB oracle (run before set-up) do not count.
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")

    def poll(self) -> None:
        for pid in [self.root, *descendants(self.root)]:
            sample = _proc_sample(pid)
            if sample is not None:
                self.cpu_s[pid] = sample[0]
                self.hwm_kb[pid] = max(sample[1], self.hwm_kb.get(pid, 0))

    def cpu_total(self) -> float:
        """CPU seconds used so far by the process tree (polls first)."""
        self.poll()
        return sum(self.cpu_s.values())

    def peak_mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1024.0

    def peak_by_process_mb(self) -> dict[str, float]:
        """Peak MB of the driver (this process), the JVM (largest child)
        and the Python workers (every other descendant)."""
        kids = sorted((kb for pid, kb in self.hwm_kb.items() if pid != self.root),
                      reverse=True)
        return {"driver": self.hwm_kb.get(self.root, 0) / 1024.0,
                "jvm": (kids[0] if kids else 0) / 1024.0,
                "workers": sum(kids[1:]) / 1024.0}
