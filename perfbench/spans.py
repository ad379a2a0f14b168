"""Spans, Spark stage totals and memory figures, measured from outside the
program under test.

A ``Tracer`` records spans (name, start, end, parent, run id) in memory
around the benchmark's calls into the program's public functions and
writes them once, at exit. While a span is open its Spark jobs carry the
span's job group, so the stage totals of exactly those jobs can be read
back from the Spark driver's UI REST API (``/api/v1/applications/<id>/jobs``
and ``/stages``) when the span closes. ``NullTracer`` is the same
interface doing nothing; untraced runs use it.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import urllib.request
from dataclasses import dataclass, field

from py4j.protocol import Py4JError

STAGE_FIELDS = ("exec_s", "tasks", "shuffle_write_bytes", "spill_bytes", "gc_s")


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of ``pid`` in KiB, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> float:
    """Peak RSS (VmHWM) of this Python process (the Spark driver) plus its
    JVM. The JVM's share is mostly heap the collector has grown into, so
    it follows the collector's timing more than what the jobs use."""
    return (vm_hwm_kb(os.getpid()) + vm_hwm_kb(jvm_pid(spark))) / 1024.0


def jvm_allocated_mb(spark) -> float:
    """Heap bytes allocated so far by the JVM's live threads, in MB, from
    ``com.sun.management.ThreadMXBean``. A thread that has ended no longer
    counts, so take the difference around one job, not over a run."""
    tm = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    return sum(b for b in tm.getThreadAllocatedBytes(tm.getAllThreadIds()) if b > 0) / 2**20


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str, stages: bool = True, **attrs):
        yield {}

    def count(self, name: str, value: float) -> None:
        pass


class Tracer:
    def __init__(self, spark, run_id: str, cores: int):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.cores = cores
        self.spans: list[Span] = []
        self.counts: dict[str, list[float]] = {}
        self._stack: list[int] = []
        self._groups: list[str] = []
        self._seq = 0
        self._ui = self.sc.uiWebUrl
        self._app = self.sc.applicationId

    @contextlib.contextmanager
    def span(self, name: str, stages: bool = True, **attrs):
        """Time the body. With ``stages`` the Spark jobs it runs carry a
        job group of their own and their stage totals join the span's
        attributes; a span without ``stages`` leaves its jobs to the
        enclosing span. Yields the span's attribute dict."""
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent=parent, run_id=self.run_id, attrs=attrs)
        self._stack.append(len(self.spans))
        self.spans.append(sp)
        group = None
        if stages:
            self._seq += 1
            group = f"{self.run_id}-{self._seq}"
            self._groups.append(group)
            self.sc.setJobGroup(group, name)
        try:
            yield sp.attrs
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self._groups.pop()
                if self._groups:
                    self.sc.setJobGroup(self._groups[-1], "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                sp.attrs.update(self._stage_totals(group, sp.end - sp.start))

    def count(self, name: str, value: float) -> None:
        self.counts.setdefault(name, []).append(float(value))

    def _get(self, path: str):
        with urllib.request.urlopen(
            f"{self._ui}/api/v1/applications/{self._app}/{path}", timeout=30
        ) as r:
            return json.load(r)

    def _stage_totals(self, group: str, wall: float) -> dict:
        """Sum the stage metrics of every job tagged ``group``. The UI
        store is filled asynchronously by the listener bus, so poll until
        every such job has finished and its stages are recorded."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JError:
            pass  # fall back to polling the store below
        deadline = time.monotonic() + 20.0
        while True:
            jobs = [j for j in self._get("jobs") if j.get("jobGroup") == group]
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        seen = set()
        for j in jobs:
            for sid in j.get("stageIds", []):
                if sid in seen:
                    continue
                seen.add(sid)
                for st in self._get(f"stages/{sid}"):
                    if st.get("status") == "SKIPPED":
                        continue
                    out["exec_s"] += st.get("executorRunTime", 0) / 1000.0
                    out["tasks"] += st.get("numCompleteTasks", 0)
                    out["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                    out["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get(
                        "diskBytesSpilled", 0
                    )
                    out["gc_s"] += st.get("jvmGcTime", 0) / 1000.0
        out["busy_share"] = out["exec_s"] / (wall * self.cores) if wall > 0 else 0.0
        return out

    def self_times(self) -> list[tuple[Span, float]]:
        """Each span with its self time: its duration minus the union of
        the intervals its direct children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = []
        for i, s in enumerate(self.spans):
            covered, cur_end = 0.0, s.start
            for c in sorted(children.get(i, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out.append((s, (s.end - s.start) - covered))
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0].start if self.spans else 0.0
        rows = [
            {
                "id": i,
                "name": s.name,
                "start": s.start - t0,
                "end": s.end - t0,
                "parent": s.parent,
                "run_id": s.run_id,
                "self_s": self_s,
                **s.attrs,
            }
            for i, (s, self_s) in enumerate(self.self_times())
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, "counts": self.counts}, f, indent=1)
