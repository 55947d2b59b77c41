"""Tracing from outside the engine: wrap its public functions, read
Spark's own status store.

Spans are kept in memory (name, start, end, parent, run id) and written
out once, when the run ends.  Nothing in ``logpump_spark`` is edited: a
wrapped function is rebound in every loaded engine module that holds it,
because most modules import it by name (``from ..tables import load``),
and the originals are put back by ``Tracer.restore``.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import re
import sys
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    span_id: int
    attrs: dict


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._rebound: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, **attrs) -> Span:
        stack = self._stack()
        sp = Span(name, time.perf_counter(), 0.0, stack[-1] if stack else None,
                  self.run_id, next(self._ids), attrs)
        stack.append(sp.span_id)
        return sp

    def end(self, sp: Span) -> Span:
        sp.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == sp.span_id:
            stack.pop()
        with self._lock:
            self.spans.append(sp)
        return sp

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = self.begin(name, **attrs)
        try:
            yield sp
        finally:
            self.end(sp)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    # -- wrapping ---------------------------------------------------
    def wrap(self, module, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``module.attr`` with a span-recording wrapper, and
        rebind every loaded ``logpump_spark`` module attribute that is the
        same function object.  ``before(args, kwargs)`` may return extra
        span attributes; ``after(attrs)`` runs once the call returns or
        raises."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            attrs = before(args, kwargs) if before else {}
            sp = tracer.begin(name, **attrs)
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.end(sp)
                if after:
                    after(attrs)

        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("logpump_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, wrapper)
                    self._rebound.append((mod, key, orig))

    def restore(self) -> None:
        for mod, key, orig in reversed(self._rebound):
            setattr(mod, key, orig)
        self._rebound.clear()

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "span_id": s.span_id,
                    "run_id": s.run_id, **s.attrs,
                }) + "\n")


# -- Spark's status store --------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9][0-9,]*\.?[0-9]*)\s*(B|KiB|MiB|GiB|TiB)")


def parse_size(text: str) -> float:
    """Bytes in a formatted SQL size metric: either ``'2.3 MiB'`` or the
    per-task form ``'total (min, med, max ...)\\n3.1 MiB (...)'``."""
    body = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _SIZE_RE.search(body)
    if not m:
        raise ValueError(f"not a size metric: {text!r}")
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]


def max_stage_id(spark) -> int:
    store = spark.sparkContext._jsc.sc().statusStore()
    return max((s["stage"] for s in _stages(spark, store)), default=-1)


def max_execution_id(spark) -> int:
    recent = recent_executions(spark, 1)
    return recent[-1][0] if recent else -1


def _stages(spark, store) -> list[dict]:
    gw = spark.sparkContext._gateway
    empty = gw.jvm.java.util.ArrayList()
    out = []
    it = store.stageList(empty, False, False, gw.new_array(gw.jvm.double, 0), empty).iterator()
    while it.hasNext():
        s = it.next()
        out.append({
            "stage": int(s.stageId()),
            "attempt": int(s.attemptId()),
            "tasks": int(s.numCompleteTasks()),
            "run_ms": int(s.executorRunTime()),
            "shuffle_read": int(s.shuffleReadBytes()),
            "shuffle_write": int(s.shuffleWriteBytes()),
            "spill": int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
            "gc_ms": int(s.jvmGcTime()),
            "skipped": str(s.status()) == "SKIPPED",
        })
    return out


def spark_window(spark, stage_ok, exec_ok, wall_s: float, cores: int) -> dict:
    """Spark execution metrics over the stages with ``stage_ok(stage_id)``
    and the SQL executions with ``exec_ok(execution_id, job_ids)``, read
    from the status store after they ran."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    stages = [s for s in _stages(spark, store) if stage_ok(s["stage"]) and not s["skipped"]]
    skews = []
    for s in stages:
        if s["tasks"] < 2:  # one task has no skew
            continue
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summ = store.taskSummary(s["stage"], s["attempt"], q)
        if summ.isDefined():
            d = summ.get().executorRunTime()
            med, mx = float(d.apply(0)), float(d.apply(1))
            if med > 0:
                skews.append(mx / med)
    task_s = sum(s["run_ms"] for s in stages) / 1000.0
    udf_in = udf_out = 0.0
    sql = spark._jsparkSession.sharedState().statusStore()
    it = sql.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        jobs, jt = set(), e.jobs().keySet().iterator()
        while jt.hasNext():
            jobs.add(int(jt.next()))
        if not exec_ok(int(e.executionId()), jobs):
            continue
        values = sql.executionMetrics(e.executionId())
        ms = e.metrics().iterator()
        while ms.hasNext():
            pm = ms.next()
            name = pm.name()
            if name not in ("data sent to Python workers", "data returned from Python workers"):
                continue
            v = values.get(pm.accumulatorId())
            if not v.isDefined():
                continue
            if name.startswith("data sent"):
                udf_in += parse_size(v.get())
            else:
                udf_out += parse_size(v.get())
    from .stats import percentile

    return {
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.task_time_s": task_s,
        "spark.core_utilisation": task_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.task_skew": percentile(skews, 50) if skews else 0.0,
        "spark.shuffle_read_bytes": sum(s["shuffle_read"] for s in stages),
        "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
        "spark.spill_bytes": sum(s["spill"] for s in stages),
        "spark.python_udf_bytes_in": udf_in,
        "spark.python_udf_bytes_out": udf_out,
        "spark.gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
    }


def stages_of_jobs(spark, job_ids) -> set[int]:
    tracker = spark.sparkContext.statusTracker()
    out = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            out.update(int(s) for s in info.stageIds)
    return out


def recent_executions(spark, n: int) -> list[tuple[int, float]]:
    """(execution id, submission time in epoch seconds) of the last ``n``
    SQL executions, read without walking the whole list."""
    sql = spark._jsparkSession.sharedState().statusStore()
    count = int(sql.executionsCount())
    it = sql.executionsList(max(0, count - n), n).iterator()
    out = []
    while it.hasNext():
        e = it.next()
        out.append((int(e.executionId()), e.submissionTime() / 1000.0))
    return sorted(out)
