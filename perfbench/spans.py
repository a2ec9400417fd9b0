"""Tracing from outside the program.

Everything here observes the package through public surfaces only:

- wall-clock spans the benchmark opens around its own calls into the
  package (and, for the ETL's internal stages, around the package's
  public functions, wrapped for the duration of a traced run);
- Spark's ``statusTracker()`` job/stage/task counts per job group;
- the SQL status store's executed plans (final adaptive plans), for
  Exchange / ReusedExchange / Python-node counts;
- a ``StreamingQueryListener`` registered by the benchmark, for the
  per-micro-batch ``durationMs`` breakdown;
- the kernel's CPU accounting of the benchmark's process tree
  (``tree_cpu_s``), for the CPU time each operation costs.

Spans stay in memory and are written once, by ``Tracer.dump``. With
tracing off, ``span`` still times (the end-to-end figures need it) but
records nothing and asks Spark for nothing.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

_PLAN_NODE = re.compile(r"^[\s:+\-|*]*([A-Za-z][A-Za-z0-9]*)")
_PYTHON_NODE = re.compile(r"^(ArrowEvalPython\w*|BatchEvalPython\w*|\w+InPandas\w*|\w+InArrow\w*)$")


def plan_tree(description: str) -> list[str]:
    """Node names of the plan a SQL execution ran: the final adaptive
    plan when there is one, else the whole physical tree."""
    body = description.split("== Physical Plan ==", 1)[-1]
    tree = body.strip("\n").split("\n\n", 1)[0].splitlines()
    if any("== Final Plan ==" in line for line in tree):
        start = next(i for i, line in enumerate(tree) if "== Final Plan ==" in line) + 1
        end = next(
            (i for i, line in enumerate(tree) if "== Initial Plan ==" in line), len(tree)
        )
        tree = tree[start:end]
    names = []
    for line in tree:
        m = _PLAN_NODE.match(line)
        if m and "==" not in line:
            names.append(m.group(1))
    return names


def plan_counts(names: list[str]) -> dict[str, int]:
    return {
        "exchanges": sum(n in ("Exchange", "BroadcastExchange") for n in names),
        "reused_exchanges": sum(n == "ReusedExchange" for n in names),
        "python_nodes": sum(bool(_PYTHON_NODE.match(n)) for n in names),
    }


class _BatchListener(StreamingQueryListener):
    """Records query starts and every micro-batch's progress. Callbacks
    arrive on the listener bus, after the fact; ``Tracer`` waits for the
    bus to drain before reading them."""

    def __init__(self) -> None:
        self.started: list[dict] = []
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        self.started.append({"id": str(event.id), "name": event.name, "timestamp": event.timestamp})

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches.append({
            "id": str(p.id),
            "name": p.name,
            "batch_id": p.batchId,
            "timestamp": p.timestamp,
            "num_input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
        })

    def onQueryTerminated(self, event) -> None:
        pass


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) spent so far by this process and every
    process below it, the Spark JVM and its Python workers included
    (children already reaped count through their parent). Time the CPUs
    spend elsewhere, stolen by the hypervisor or taken by other
    processes, is not in it; a busy host still slows the CPUs while
    they run (README.md, "Why scaled CPU seconds")."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while being read
            continue
        pid = int(entry)
        stats[pid] = fields
        children.setdefault(int(fields[1]), []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        ticks += sum(int(x) for x in stats[pid][11:15]) if pid in stats else 0
        todo.extend(children.get(pid, ()))
    return ticks / _TICK


def host_cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole machine since boot, from
    /proc/stat; their change over an interval gives the share of CPU
    time the hypervisor gave to others (the steal share)."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def cpu_mark() -> tuple[float, int, int]:
    """A starting point for ``cpu_since``."""
    return (tree_cpu_s(), *host_cpu_ticks())


def cpu_since(mark: tuple[float, int, int]) -> tuple[float, float]:
    """CPU seconds the process tree spent since ``mark``, and the
    machine's steal share over the same interval."""
    steal, total = host_cpu_ticks()
    return tree_cpu_s() - mark[0], (steal - mark[1]) / max(1, total - mark[2])


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Tracer:
    """Span recorder plus Spark-side counters for one benchmark run."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[int] = []
        self._spark = None
        self._listener: _BatchListener | None = None

    # -- lifecycle ---------------------------------------------------------
    def attach(self, spark) -> None:
        """Start observing ``spark``: register the streaming listener."""
        self._spark = spark
        if self.enabled:
            self._listener = _BatchListener()
            spark.streams.addListener(self._listener)

    def detach(self) -> None:
        if self._listener is not None:
            self.drain()
            self._spark.streams.removeListener(self._listener)

    def _store(self):
        return self._spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until Spark's listener bus has delivered every event."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time a block; when tracing, record it as a span whose parent
        is the innermost open span. Yields a dict the caller may add
        attributes to; ``dur`` is set on exit."""
        rec = {"name": name, **attrs}
        idx = None
        if self.enabled:
            idx = len(self.spans)
            rec.update(id=idx, parent=self._stack[-1] if self._stack else None, run=self.run_id)
            self.spans.append(rec)
            self._stack.append(idx)
        t0 = time.perf_counter()
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            if idx is not None:
                self._stack.pop()

    @contextlib.contextmanager
    def job_group(self, group: str):
        """Tag the Spark jobs a block starts with ``group`` (traced runs
        only), so their counts can be read back per group."""
        if not self.enabled:
            yield
            return
        sc = self._spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def wrap(self, module, attr: str, span_name: str):
        """Replace ``module.attr`` with a version that runs inside a span
        named ``span_name``; returns an undo callable. Used only while
        tracing, on the package's public functions."""
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            name = span_name(*args, **kwargs) if callable(span_name) else span_name
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        return lambda: setattr(module, attr, original)

    # -- Spark-side counters -------------------------------------------------
    def group_counts(self, group: str) -> dict[str, int]:
        """Jobs and completed tasks Spark ran under ``group``."""
        t0 = time.perf_counter()
        tracker = self._spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                sinfo = tracker.getStageInfo(stage)
                tasks += sinfo.numCompletedTasks if sinfo else 0
        self.self_s += time.perf_counter() - t0
        return {"jobs": len(jobs), "tasks": tasks}

    def mark(self) -> tuple[int, int, int] | None:
        """A position in the run's records (query starts, micro-batches,
        SQL executions), taken once the listener bus is drained; see
        ``since``. None when tracing is off."""
        if self._listener is None:
            return None
        t0 = time.perf_counter()
        self.drain()
        pos = len(self._listener.started), len(self._listener.batches), self._store().executionsCount()
        self.self_s += time.perf_counter() - t0
        return pos

    def since(self, mark: tuple[int, int, int]) -> tuple[list[dict], list[float], dict[str, int]]:
        """What was recorded after ``mark``: micro-batches, query-start
        epochs, and plan-node counts over the SQL executions."""
        t0 = time.perf_counter()
        self.drain()
        store = self._store()
        total = store.executionsCount()
        execs = store.executionsList(mark[2], total - mark[2])
        counts = {"exchanges": 0, "reused_exchanges": 0, "python_nodes": 0, "executions": 0}
        for i in range(execs.size()):
            names = plan_tree(execs.apply(i).physicalPlanDescription())
            for k, v in plan_counts(names).items():
                counts[k] += v
            counts["executions"] += 1
        starts = [_epoch(s["timestamp"]) for s in self._listener.started[mark[0]:]]
        batches = self._listener.batches[mark[1]:]
        self.self_s += time.perf_counter() - t0
        return batches, starts, counts

    def dump(self, path: str, extra: dict) -> None:
        """Write spans (with self time: duration minus children) and
        operation records once, at the end of the run."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.get("parent") is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["dur"]
        for s in self.spans:
            s["self"] = s["dur"] - child.get(s["id"], 0.0)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, fh, indent=1, default=str)


def stream_summary(batches: list[dict]) -> dict[str, float]:
    """Fold micro-batch progress records into the stream.* metrics."""
    trig = [b["duration_ms"].get("triggerExecution", 0) / 1000 for b in batches]
    add = [b["duration_ms"].get("addBatch", 0) / 1000 for b in batches]
    rows = sum(b["num_input_rows"] for b in batches)
    return {
        "batches": len(batches),
        "empty_batches": sum(b["num_input_rows"] == 0 for b in batches),
        "batch_p50_s": statistics.median(trig) if trig else 0.0,
        "add_batch_s": sum(add),
        "overhead_s": sum(t - a for t, a in zip(trig, add)),
        "rows_per_s": rows / sum(trig) if sum(trig) > 0 else 0.0,
    }
