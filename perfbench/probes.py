"""Measurement probes the benchmark reads from outside the package.

- :class:`ProcTree`: the process tree under this interpreter, split
  into the Python driver, the Spark JVM and the Python workers the JVM
  forks, and the tree's peak resident set.
- :class:`StatusStore`: Spark's own status store, read after each
  iteration: per-node SQL metrics of every new execution, totals of
  every new stage, and the number of new jobs.
- :class:`PhaseListener`: a ``QueryExecutionListener`` (through the py4j
  callback server) that records the Catalyst phase times of every
  action.
- :class:`Tracer`: in-memory spans ``(name, start, end, parent,
  iteration)`` around calls into the package's layers.
"""

from __future__ import annotations

import functools
import json
import os
import re
import threading
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children)."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue  # raced with process exit
        # comm may hold spaces or parens: fields restart after the last ')'
        rest = raw[raw.rfind(")") + 2:].split()
        table[int(d)] = (int(rest[1]),
                         sum(int(x) for x in rest[11:15]) / _CLK)
    return table


class ProcTree:
    """CPU split and peak RSS of this process tree. ``jvm_pid`` is the
    Spark gateway JVM; every other descendant of it is a Python worker
    (the pyspark daemon and the workers it forks)."""

    def __init__(self) -> None:
        self.jvm_pid: int | None = None

    @staticmethod
    def _walk(table) -> list[int]:
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in table.items():
            kids.setdefault(ppid, []).append(pid)
        todo, seen = [os.getpid()], []
        while todo:
            pid = todo.pop()
            if pid in table:
                seen.append(pid)
                todo += kids.get(pid, [])
        return seen

    def cpu_split(self) -> dict[str, float]:
        """Cumulative CPU seconds: {'driver', 'jvm', 'pyworker'}. The
        parts sum to what ``bench.tree_cpu_s`` reports (same fields,
        same tree), so one walk gives both the total and its split."""
        table = _proc_table()
        out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for pid in self._walk(table):
            cpu = table[pid][1]
            if pid == os.getpid():
                out["driver"] += cpu
            elif pid == self.jvm_pid:
                out["jvm"] += cpu
            else:
                out["pyworker"] += cpu
        return out

    def peak_rss(self) -> int:
        """Bytes: the sum over the live tree of each process's peak
        resident set (VmHWM) — the memory the run had to have."""
        total = 0
        for pid in self._walk(_proc_table()):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue  # raced with process exit
        return total


# ------------------------------------------------------ status store ---

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str | None) -> float:
    """Total of one formatted SQL metric value: '1,024', '3.3 s',
    '26 ms', '1565.1 KiB', or the 'total (min, med, max ...)\\n<total>
    (...)' form. Sizes come back in bytes, times in seconds."""
    if not text:
        return 0.0
    line = text.strip().splitlines()[-1]
    m = re.match(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    return value * _TIME.get(unit, 1.0)


def _seq(jseq) -> list:
    out, it = [], jseq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


class StatusStore:
    """Reads what Spark recorded for the executions, stages and jobs
    that appeared since the last :meth:`mark`."""

    def __init__(self, spark) -> None:
        self._gw = spark.sparkContext._gateway
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._app = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_exec: set[int] = set()
        self._seen_stage: set[tuple[int, int]] = set()
        self._seen_job: set[int] = set()

    def drain(self) -> None:
        self._bus.waitUntilEmpty()

    def _executions(self) -> list:
        return _seq(self._sql.executionsList())

    def _stages(self) -> list:
        no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        return _seq(self._app.stageList(None, False, False, no_quantiles,
                                        None))

    def _jobs(self) -> list:
        return _seq(self._app.jobsList(None))

    def mark(self) -> None:
        self.drain()
        self._seen_exec = {e.executionId() for e in self._executions()}
        self._seen_stage = {(s.stageId(), s.attemptId())
                            for s in self._stages()}
        self._seen_job = {j.jobId() for j in self._jobs()}

    def collect(self) -> dict:
        """{'nodes': [(name, desc, {metric: total})], 'stages': {...},
        'jobs': n} for everything new since the last mark/collect."""
        self.drain()
        nodes = []
        for e in self._executions():
            eid = e.executionId()
            if eid in self._seen_exec:
                continue
            self._seen_exec.add(eid)
            values = self._sql.executionMetrics(eid)
            for n in _seq(self._sql.planGraph(eid).allNodes()):
                metrics = {}
                for m in _seq(n.metrics()):
                    v = values.get(m.accumulatorId())
                    metrics[m.name()] = parse_metric(
                        v.get() if v.isDefined() else None)
                nodes.append((n.name(), n.desc(), metrics))
        stages = {"executor_cpu_s": 0.0, "gc_s": 0.0, "tasks": 0,
                  "failed_tasks": 0, "spill_bytes": 0}
        for s in self._stages():
            key = (s.stageId(), s.attemptId())
            if key in self._seen_stage:
                continue
            self._seen_stage.add(key)
            stages["executor_cpu_s"] += s.executorCpuTime() / 1e9
            stages["gc_s"] += s.jvmGcTime() / 1e3
            stages["tasks"] += s.numCompleteTasks()
            stages["failed_tasks"] += s.numFailedTasks() + s.numKilledTasks()
            stages["spill_bytes"] += s.diskBytesSpilled()
        new_jobs = {j.jobId() for j in self._jobs()} - self._seen_job
        self._seen_job |= new_jobs
        return {"nodes": nodes, "stages": stages, "jobs": len(new_jobs)}


class PhaseListener:
    """QueryExecutionListener recording analysis + optimization +
    planning seconds per action. Registered for the traced iterations
    only."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self._manager = spark._jsparkSession.listenerManager()
        self._lock = threading.Lock()
        self.catalyst_s = 0.0

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — py4j
        phases = qe.tracker().phases()
        total = 0.0
        for name in self.PHASES:
            p = phases.get(name)
            if p.isDefined():
                total += p.get().durationMs() / 1e3
        with self._lock:
            self.catalyst_s += total

    def onFailure(self, func_name, qe, exception):  # noqa: N802 — py4j
        pass

    def take(self) -> float:
        with self._lock:
            out, self.catalyst_s = self.catalyst_s, 0.0
        return out

    def register(self) -> None:
        self._manager.register(self)

    def unregister(self) -> None:
        self._manager.unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# ----------------------------------------------------------- tracing ---

class Tracer:
    """Spans kept in memory, written once when the run ends. Wrapped
    callables record a span only while :attr:`active`."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.active = False
        self.iteration = -1
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "iteration": self.iteration}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a span-recording wrapper (the
        package looks these attributes up at call time)."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def total(self, name: str, iteration: int) -> float:
        """Summed duration of the outermost ``name`` spans of one
        iteration (a nested span of the same name is not counted
        twice)."""
        out = 0.0
        for s in self.spans:
            if s["name"] != name or s["iteration"] != iteration:
                continue
            p = s["parent"]
            while p is not None and self.spans[p]["name"] != name:
                p = self.spans[p]["parent"]
            if p is None:
                out += s["end"] - s["start"]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
