"""Counters and spans collected from outside the package.

- Spark: every operation runs under its own job group; jobs, stages, tasks
  and failed tasks are read back from ``statusTracker()`` (the session
  disables the UI, the status store still runs).
- Process: CPU seconds of the whole process tree (driver Python, the JVM,
  the Python workers), disk bytes read/written, and peak RSS, from
  ``/proc/<pid>/{stat,io,status}``.
- Spans: only in a traced run.  ``span(name)`` records name, start, end,
  parent span and op id in memory; ``force(df)`` materialises a layer's
  output at its boundary so the layer's work lands inside its span.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime of every live process under ``root`` plus the cutime+cstime
    each has collected from children that already exited."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_io_bytes(root: int) -> tuple[int, int]:
    rd = wr = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/io") as fh:
                kv = dict(line.split(": ") for line in fh.read().splitlines())
        except OSError:
            continue
        rd += int(kv["read_bytes"])
        wr += int(kv["write_bytes"])
    return rd, wr


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class Telemetry:
    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.cores = self.sc.defaultParallelism
        self.latencies: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.spans: list[dict] = []
        self.op_counters: list[dict] = []
        self.counts: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []
        self._op_id: str | None = None
        self._groups: list[str] = []

    # -- operations ----------------------------------------------------------

    @contextmanager
    def op(self, kind: str, trace: bool = True):
        """One closed-loop operation; its latency is recorded under ``kind``.
        ``trace=False`` runs it without spans even in a traced run (the
        untraced half of the overhead comparison)."""
        self.attempted += 1
        self._op_id = f"{kind}#{self.attempted}"
        self._groups = [self._op_id]
        was_traced = self.traced
        self.traced = was_traced and trace
        self.sc.setJobGroup(self._op_id, kind)
        cpu0 = tree_cpu_s(os.getpid()) if was_traced else 0.0
        io0 = tree_io_bytes(os.getpid()) if was_traced else (0, 0)
        t0 = time.perf_counter()
        try:
            with self.span(kind):
                yield
            dt = time.perf_counter() - t0
            key = kind if self.traced == was_traced else f"{kind}.untraced"
            self.latencies[key].append(dt)
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            if was_traced:
                rd, wr = tree_io_bytes(os.getpid())
                self.op_counters.append(
                    dict(
                        kind=kind,
                        traced=self.traced,
                        cpu_s=tree_cpu_s(os.getpid()) - cpu0,
                        read_bytes=rd - io0[0],
                        write_bytes=wr - io0[1],
                        **self.spark_counts(self._groups),
                    )
                )
            self.traced = was_traced
            self._op_id = None

    def fail(self, why: str) -> None:
        """Count the current operation as failed (an output check failed)."""
        print(f"CHECK FAILED: {why}", file=sys.stderr)
        self.failed += 1

    def check(self, ok: bool, why: str) -> None:
        if not ok:
            self.fail(why)

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.traced:
            yield
            return
        sid = len(self.spans)
        group = f"{self._op_id}/{sid}"
        rec = dict(id=sid, name=name, op=self._op_id,
                   parent=self._stack[-1] if self._stack else None,
                   group=group, cpu0=tree_cpu_s(os.getpid()))
        self.spans.append(rec)
        self._stack.append(sid)
        self._groups.append(group)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu_s"] = tree_cpu_s(os.getpid()) - rec.pop("cpu0")
            rec.update(self.spark_counts([group]))
            self._stack.pop()
            parent = self.spans[self._stack[-1]]["group"] if self._stack else self._op_id
            self.sc.setJobGroup(parent, "")

    @contextmanager
    def untraced(self):
        traced, self.traced = self.traced, False
        try:
            yield
        finally:
            self.traced = traced

    def force(self, df):
        """Materialise ``df`` at a layer boundary in a traced run; the caller
        unpersists it.  Untraced runs return ``df`` untouched (lazy)."""
        if self.traced:
            df = df.persist()
            df.count()
        return df

    def count(self, name: str, value: float) -> None:
        """Record one occurrence of a per-layer count (traced runs only)."""
        if self.traced:
            self.counts[name].append(value)

    # -- read-out ------------------------------------------------------------

    def spark_counts(self, groups: list[str]) -> dict:
        st = self.sc.statusTracker()
        # job/stage events reach the status store through the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = stages = tasks = failed = 0
        for g in groups:
            for j in st.getJobIdsForGroup(g):
                jobs += 1
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    if si and si.numCompletedTasks + si.numFailedTasks > 0:
                        stages += 1
                        tasks += si.numCompletedTasks
                        failed += si.numFailedTasks
        return dict(jobs=jobs, stages=stages, tasks=tasks, failed_tasks=failed)

    def self_times(self) -> dict[str, float]:
        """Sum over spans of each name: duration minus the time its children
        cover (children of one span never overlap: one driver thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return out

    def span_cpu(self, name: str) -> float:
        return sum(s["cpu_s"] for s in self.spans if s["name"] == name)

    def peak_rss_mb(self) -> float:
        return peak_rss_mb(os.getpid()) + peak_rss_mb(self.jvm_pid)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, float, int] | None:
    """(value, percentile, n): the highest percentile that leaves at least
    ten samples above it; None below eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n, n
