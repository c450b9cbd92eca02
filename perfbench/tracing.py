"""Spans, host counters and Spark's status stores, read from outside the
package.

A :class:`Tracer` keeps spans in memory (name, start, end, parent, run
id, attributes) and writes them out once, when the run ends.  Spans are
recorded by the benchmark's own code around calls into the package's
public functions; :meth:`Tracer.patch` wraps a module-level function in
every ``mongo_hadoop_spark`` module that bound it by name, so calls made
from inside the package (an operator calling ``session.table``) are
seen too.  The untraced run uses :class:`NullTracer`, whose spans cost a
``nullcontext``.

:class:`SparkStatus` reads the application status store and the SQL
status store for one job group: stages, tasks, shuffle bytes, executor
run/CPU/GC time, the stage skew of the widest stage, and the Python
exec-node time from the SQL metrics.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import resource
import sys
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, self.run_id,
                 time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def patch(self, module, attr: str, name: str) -> None:
        """Record a span ``name`` around every call of ``module.attr``,
        including calls through names other package modules bound to it."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("mongo_hadoop_spark")
                    and getattr(mod, attr, None) is original):
                setattr(mod, attr, traced)
                self._undo.append((mod, attr, original))

    def unpatch(self) -> None:
        for mod, attr, original in reversed(self._undo):
            setattr(mod, attr, original)
        self._undo.clear()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part of it its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur = 0.0, s.start
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            out[s.id] = (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self": selfs[s.id]}) + "\n")


class NullTracer:
    """Tracing off: every span is a ``nullcontext``."""

    def span(self, name: str, **attrs):
        return contextlib.nullcontext()


# --- host ---------------------------------------------------------------------

def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait
    irq softirq steal (guest time is already inside user)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_deltas(before: list[int], after: list[int]) -> dict[str, float]:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"host.busy_frac": (total - d[3] - d[4]) / total,
            "host.steal_frac": d[7] / total}


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak RSS of this process plus the Spark JVM."""
    own = max(_vm_hwm_kb("self"),
              resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)
    return (own + (_vm_hwm_kb(jvm_pid) if jvm_pid else 0)) / 1024


# --- Spark status stores ------------------------------------------------------

_DURATION = re.compile(r"([\d.,]+) (ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_METRIC = "time to run Python workers"


def _seconds(formatted: str) -> float:
    """A formatted SQL timing metric ("2.2 s", or the multi-task
    "total (min, med, max ...)\\n2.2 s (...)") -> its total in seconds."""
    body = formatted.split("\n", 1)[-1]
    m = _DURATION.search(body)
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


class SparkStatus:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_exec = 0

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the final metrics of the jobs that just ended."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group(self, group: str) -> dict:
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()
        job_ids = set(tracker.getJobIdsForGroup(group))
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0,
               "shuffle_write_bytes": 0, "executor_run_s": 0.0,
               "executor_cpu_s": 0.0, "gc_s": 0.0, "python_s": 0.0,
               "stage_skew": 1.0}
        widest = None
        for sid in stage_ids:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # evicted or never submitted
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            if widest is None or sd.numTasks() > widest[1]:
                widest = (sid, sd.numTasks(), sd.attemptId())
        if widest is not None:
            out["stage_skew"] = self._skew(widest[0], widest[2])
        out["python_s"] = self._python_seconds(job_ids)
        return out

    def _skew(self, stage_id: int, attempt: int) -> float:
        """Max over median task run time in one stage."""
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self.store.taskSummary(stage_id, attempt, q)
        if not summary.isDefined():
            return 1.0
        runtimes = summary.get().executorRunTime()
        med, mx = runtimes.apply(0), runtimes.apply(1)
        return mx / med if med > 0 else 1.0

    def _python_seconds(self, job_ids: set[int]) -> float:
        """Sum of the Python exec nodes' worker run time over the SQL
        executions that ran any of ``job_ids``."""
        execs = self.sql.executionsList()
        total = 0.0
        for i in range(self._seen_exec, execs.size()):
            e = execs.apply(i)
            ids = {int(x) for x in e.jobs().keys().mkString(",").split(",") if x}
            if not ids & job_ids:
                continue
            graph = self.sql.planGraph(e.executionId())
            accs = set()
            nodes = graph.allNodes()
            for k in range(nodes.size()):
                ms = nodes.apply(k).metrics()
                for j in range(ms.size()):
                    if ms.apply(j).name() == _PY_METRIC:
                        accs.add(ms.apply(j).accumulatorId())
            if accs:
                for k, v in self._metric_values(e.executionId()).items():
                    if k in accs:
                        total += _seconds(v)
        return total

    def _metric_values(self, execution_id) -> dict[int, str]:
        sep = "\u0001"
        flat = self.sql.executionMetrics(execution_id).mkString(sep)
        out = {}
        for entry in flat.split(sep) if flat else []:
            k, _, v = entry.partition(" -> ")
            out[int(k)] = v
        return out

    def mark(self) -> None:
        """Skip the SQL executions seen so far in later lookups."""
        self._seen_exec = self.sql.executionsList().size()


def jvm_pid(spark) -> int | None:
    try:
        return int(spark._jvm.java.lang.ProcessHandle.current().pid())
    except Exception:  # noqa: BLE001 — RSS then covers the Python side only
        return None


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
