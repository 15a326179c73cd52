"""Span recorder for the traced benchmark run.

A span wraps one call the benchmark makes into a layer's public
function. Each span keeps its name, start, end, parent span and request
id, plus counts taken at its two boundaries:

* Spark jobs, stages, tasks and failed tasks started inside the span,
  from ``SparkContext.statusTracker()`` job ids before and after;
* CPU seconds from ``/proc``, split into the benchmark's own Python
  process (``driver_cpu_s``), the Spark JVM (``jvm_cpu_s``) and the
  JVM's Python worker processes (``pyworker_cpu_s``).

Peak memory is each process's own high-water mark (``VmHWM``), summed
over the process tree when the traced section ends.

Spans stay in memory; :meth:`Tracer.dump` writes them as JSON and
:meth:`Tracer.layer_metrics` aggregates them into per-layer figures,
with self time = duration minus the part covered by child spans.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
#: layers called more than once per request (the corpus build writes three
#: tables) whose per-layer figure is the per-request total
SUMMED_PER_REQUEST = ("sources.sink_write",)


def _stat(pid: int) -> tuple[int, list[str]] | None:
    """(parent pid, fields after the command name) of /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    rest = raw[raw.rindex(")") + 2 :].split()
    return int(rest[1]), rest


def _cpu(rest: list[str]) -> float:
    # utime, stime, cutime, cstime: reaped children count toward the parent
    return sum(int(v) for v in rest[11:15]) / _TICK


def _hwm_mb(pid: int) -> float:
    """Peak resident set size of one process since it started."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


@dataclass
class ProcSample:
    driver_cpu_s: float
    jvm_cpu_s: float
    pyworker_cpu_s: float


class ProcessTree:
    """CPU and memory of the benchmark process, the Spark JVM it
    launched, and every process below the JVM (Python workers)."""

    def __init__(self, jvm_pid: int | None):
        self.jvm_pid = jvm_pid

    def _stats(self) -> tuple[dict, list[int]]:
        """/proc/<pid>/stat of every process, and the JVM's descendants."""
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _stat(int(d))
                if st is not None:
                    stats[int(d)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        workers, todo = [], list(children.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            workers.append(pid)
            todo.extend(children.get(pid, []))
        return stats, workers

    def sample(self) -> ProcSample:
        stats, workers = self._stats()
        mine = stats.get(os.getpid())
        jvm = stats.get(self.jvm_pid)
        return ProcSample(
            # own utime+stime only: the JVM is our child and is never reaped mid-run
            driver_cpu_s=sum(int(v) for v in mine[1][11:13]) / _TICK if mine else 0.0,
            jvm_cpu_s=sum(int(v) for v in jvm[1][11:13]) / _TICK if jvm else 0.0,
            pyworker_cpu_s=sum(_cpu(stats[p][1]) for p in workers),
        )

    def peak_rss_mb(self) -> float:
        """Sum of the high-water marks of this process, the JVM and every
        live Python worker: an upper bound on the tree's peak, whatever
        the span boundaries. Workers that have already exited are missed;
        Spark reuses its workers, so few do."""
        _, workers = self._stats()
        return sum(_hwm_mb(p) for p in [os.getpid(), self.jvm_pid, *workers] if p is not None)


class SparkCounts:
    """Jobs/stages/tasks started between two boundaries, read from the
    status tracker once the listener bus has delivered every event."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def job_ids(self) -> set[int]:
        self._drain()
        return set(self.tracker.getJobIdsForGroup(None))

    def counts(self, new_jobs: set[int]) -> dict[str, int]:
        stages: set[int] = set()
        for j in new_jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        n_stages = tasks = failed = 0
        for s in stages:
            info = self.tracker.getStageInfo(s)
            if info is None:
                continue
            ran = info.numCompletedTasks + info.numFailedTasks
            if ran:  # a stage whose shuffle output was reused runs no task
                n_stages += 1
                tasks += ran
                failed += info.numFailedTasks
        return {"jobs": len(new_jobs), "stages": n_stages, "tasks": tasks, "failed_tasks": failed}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans once :meth:`start` is called; before that a span
    costs one generator step and records nothing."""

    def __init__(self, spark, jvm_pid: int | None):
        self.enabled = False
        self.spans: list[Span] = []
        self.values: dict[str, list[float]] = {}
        self._stack: list[int] = []
        self.request: int | None = None
        self.spark_counts = SparkCounts(spark.sparkContext)
        self.tree = ProcessTree(jvm_pid)

    def start(self) -> None:
        self.enabled = True
        self._t0, self._p0 = time.perf_counter(), self.tree.sample()

    def stop(self) -> dict[str, float]:
        """Whole-tree CPU, utilisation and peak RSS over the traced section."""
        p1, wall = self.tree.sample(), time.perf_counter() - self._t0
        self.enabled = False
        cpu = sum(getattr(p1, k) - getattr(self._p0, k) for k in ("driver_cpu_s", "jvm_cpu_s", "pyworker_cpu_s"))
        return {"cpu_s": cpu, "wall_s": wall, "peak_rss_mb": self.tree.peak_rss_mb()}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        jobs0 = self.spark_counts.job_ids()
        p0 = self.tree.sample()
        sp = Span(len(self.spans), name, self._stack[-1] if self._stack else None, self.request, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            p1 = self.tree.sample()
            sp.counts = self.spark_counts.counts(self.spark_counts.job_ids() - jobs0)
            for k in ("driver_cpu_s", "jvm_cpu_s", "pyworker_cpu_s"):
                sp.counts[k] = getattr(p1, k) - getattr(p0, k)

    def value(self, name: str, v: float) -> None:
        """A per-layer figure that is not a span (ratios, counts)."""
        self.values.setdefault(name, []).append(float(v))

    def self_time(self, sp: Span) -> float:
        covered, last = 0.0, sp.start
        kids = sorted((c for c in self.spans if c.parent == sp.id), key=lambda c: c.start)
        for c in kids:
            lo, hi = max(c.start, last), min(c.end, sp.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return sp.wall - covered

    def layer_metrics(self, ncpu: int) -> dict[str, float]:
        """Per span name, the median over its calls of wall seconds
        (``<name>_s``), self seconds and each count; ``cpu_util`` = span
        CPU / (wall x cores). A layer in SUMMED_PER_REQUEST is summed over
        each request's calls first."""
        med = statistics.median
        by: dict[str, dict] = {}
        for sp in self.spans:
            key = sp.request if sp.name in SUMMED_PER_REQUEST else sp.id
            row = by.setdefault(sp.name, {}).setdefault(key, dict.fromkeys(("s", "self_s", *sp.counts), 0.0))
            row["s"] += sp.wall
            row["self_s"] += self.self_time(sp)
            for k, v in sp.counts.items():
                row[k] += v
        out: dict[str, float] = {}
        for name, calls in by.items():
            rows = list(calls.values())
            for k in rows[0]:
                out[f"{name}_{k}"] = med(r[k] for r in rows)
            out[f"{name}_cpu_util"] = med(
                (r["driver_cpu_s"] + r["jvm_cpu_s"] + r["pyworker_cpu_s"]) / max(r["s"] * ncpu, 1e-9) for r in rows
            )
        for name, vals in self.values.items():
            out[name] = med(vals)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [dict(asdict(s), self_s=self.self_time(s)) for s in self.spans],
                    "values": self.values,
                },
                fh,
            )
