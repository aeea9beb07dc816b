"""Spans, Spark stage metrics and process-tree memory for the benchmark.

A span is recorded in benchmark code around one call into a layer's
public function. While a span is open its Spark jobs run under their own
job group; when it closes, the group's jobs are looked up in Spark's
status store (``statusTracker().getJobIdsForGroup`` ->
``statusStore().job(id).stageIds()`` -> ``lastStageAttempt(sid)``), which
works with ``spark.ui.enabled=false`` and needs no change to the library.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_RSS_INTERVAL_S = 0.5


class Tracer:
    """Records spans; a disabled tracer records nothing and sets no job
    group."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        # Spark's task CPU time counts JVM threads only; the Python
        # workers (mapInPandas / mapInArrow bodies) are children of the JVM
        proc = getattr(self.sc._gateway, "proc", None)
        self.jvm_pid = proc.pid if proc is not None else None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        # job groups must not repeat across tracers of one SparkContext
        self._prefix = f"perfbench-{uuid.uuid4().hex[:8]}"

    @contextmanager
    def span(self, layer: str, **attrs):
        """Yields the span record; the caller may add counts to it."""
        rec = {"layer": layer, **attrs}
        if not self.enabled:
            yield rec
            return
        rec["id"] = len(self.spans)
        rec["parent"] = self._stack[-1]["id"] if self._stack else None
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"{self._prefix}-{rec['id']}"
        self.sc.setJobGroup(group, layer, False)
        cpu0 = self._worker_cpu()
        t0 = time.time()
        p0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - p0
            t1 = time.time()
            cpu1 = self._worker_cpu()
            rec["worker_cpu_s"] = sum(
                c - cpu0.get(pid, 0.0) for pid, c in cpu1.items())
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self.sc.setJobGroup(f"{self._prefix}-{parent['id']}",
                                    parent["layer"], False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec.update(self._stage_metrics(group, t0, t1, rec["wall_s"]))

    def _worker_cpu(self) -> dict[int, float]:
        if self.jvm_pid is None:
            return {}
        return {pid: proc_cpu_s(pid) for pid in descendants(self.jvm_pid)}

    def _stage_metrics(self, group: str, t0: float, t1: float,
                       wall: float) -> dict:
        jsc = self.sc._jsc.sc()
        # job/stage end events reach the status store asynchronously
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        run_ms = cpu_ns = gc_ms = shuffle = 0
        intervals = []
        seen = set()
        for jid in job_ids:
            sids = store.job(jid).stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                sub, comp = st.submissionTime(), st.completionTime()
                if not sub.isDefined():  # skipped: its output was reused
                    continue
                run_ms += st.executorRunTime()
                cpu_ns += st.executorCpuTime()
                gc_ms += st.jvmGcTime()
                shuffle += st.shuffleWriteBytes()
                end = comp.get().getTime() / 1e3 if comp.isDefined() else t1
                intervals.append((max(sub.get().getTime() / 1e3, t0),
                                  min(end, t1)))
        covered = _union_length(intervals)
        return {
            "jobs": len(job_ids),
            "stages": len(intervals),
            "task_run_s": run_ms / 1e3,
            "task_cpu_s": cpu_ns / 1e9,
            "gc_s": gc_ms / 1e3,
            "shuffle_bytes": shuffle,
            "stage_wall_s": covered,
            "driver_s": max(0.0, wall - covered),
        }

    def layer(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["layer"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


@contextmanager
def timed_calls(cls, method: str, sink: list[float]):
    """Appends the wall time of every ``cls.method`` call made inside the
    block to ``sink`` (a span around a public method that the workload
    calls indirectly, e.g. the sweeps inside ``run_pipeline``)."""
    orig = getattr(cls, method)

    def wrapper(self, *args, **kwargs):
        t = time.perf_counter()
        try:
            return orig(self, *args, **kwargs)
        finally:
            sink.append(time.perf_counter() - t)

    setattr(cls, method, wrapper)
    try:
        yield sink
    finally:
        setattr(cls, method, orig)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we looked
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of one process (0 once it has exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[11]) + int(fields[12])) / _TICK


def tree_pss_bytes(pid: int) -> int:
    """Resident memory of a process and all its descendants, as the sum of
    their proportional set sizes: a page shared by n processes, such as
    the Python workers forked from one daemon, counts 1/n in each, so the
    tree counts it once. A sum of RSS would count it n times."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # exited while we looked
            continue
    return total


class PeakRss:
    """Samples the resident memory of this process and all its descendants
    (the JVM and the Python workers) and keeps the peak."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(pid))
            self._stop.wait(_RSS_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
