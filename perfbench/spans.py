"""Spans, Spark job accounting and process measurements for the benchmark.

A :class:`Tracer` records one span per call the benchmark makes into an
engine layer: name, start, end, parent span and the id of the operation
it belongs to.  Spans stay in memory; :meth:`Tracer.dump` writes them
out once, when the run ends, and :meth:`Tracer.self_times` derives each
layer's self time (its duration minus the part covered by its children).

With ``spark`` given, a span also sets a Spark job group for its
duration and, on exit, reads that group's jobs, stages and tasks from
``SparkContext.statusTracker()`` and the stage metrics (bytes read,
shuffle bytes written, spill) from the application status store.  A
disabled tracer (the untraced run) records nothing and sets no job
group, so the measured end-to-end path carries no tracing cost.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_STAGE_METRICS = {
    "bytes_read": "inputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    counts: dict = field(default_factory=dict)


class Tracer:
    """Span recorder.  ``enabled=False`` makes every method a no-op."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = spark.sparkContext if (enabled and spark is not None) else None
        self._groups = 0

    @contextmanager
    def span(self, name: str, op: int | None = None, jobs: bool = False):
        """Record a span around the body.  ``jobs=True`` also counts the
        Spark jobs, stages and tasks the body launches (job groups do not
        nest, so only leaf spans should count jobs)."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            start=time.perf_counter(),
            parent=parent.id if parent else None,
            op=op if op is not None else (parent.op if parent else None),
        )
        self.spans.append(s)
        self._stack.append(s)
        group = None
        if jobs and self._sc is not None:
            self._groups += 1
            group = f"perfbench-{self._groups}"
            self._sc.setJobGroup(group, name, False)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
                s.counts.update(self._job_counts(group))

    def _job_counts(self, group: str) -> dict:
        st = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0}
        out.update({k: 0 for k in _STAGE_METRICS})
        for job_id in st.getJobIdsForGroup(group):
            info = st.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                data = store.lastStageAttempt(stage_id)
                if data.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += data.numTasks()
                for key, getters in _STAGE_METRICS.items():
                    getters = (getters,) if isinstance(getters, str) else getters
                    out[key] += sum(getattr(data, g)() for g in getters)
        return out

    def total(self, name: str, key: str | None = None) -> float:
        """Sum of a span name's durations (or of one of its counts)."""
        return sum(
            (s.counts.get(key, 0) if key else s.end - s.start)
            for s in self.spans
            if s.name == name
        )

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its direct
        children cover."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child_time.get(s.id, 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": [asdict(s) for s in self.spans], "self_s": self.self_times()},
                f,
            )


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The latency at the highest percentile that still has at least
    ten samples beyond it: ``(value, percentile, n)``.  With ten or
    fewer samples no percentile qualifies and the maximum is returned."""
    xs = sorted(samples)
    n = len(xs)
    k = n - 11 if n > 10 else n - 1  # xs[n - 11] has ten samples above it
    return xs[k], 100.0 * (k + 1) / n, n


def median(xs: list[float]) -> float:
    ys = sorted(xs)
    n = len(ys)
    return (ys[(n - 1) // 2] + ys[n // 2]) / 2


def reset_peak_rss() -> None:
    """Reset the kernel's peak-RSS mark of this process to its current
    RSS, so :func:`peak_rss_mb` covers only what follows."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        kb = int(re.search(r"VmHWM:\s+(\d+)", f.read()).group(1))
    return kb / 1024.0


def cpu_probe_s() -> float:
    """Best-of-3 time of a fixed pure-Python integer loop: a
    data-independent speed reading of this host at this moment."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        best = min(best, time.perf_counter() - t0)
    return best
