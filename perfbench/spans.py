"""Spans and Spark counters for the benchmark's traced run.

Spans are recorded only from the benchmark's own files, around each call
into the engine; the engine itself is not instrumented. They stay in
memory and are written out when the run ends.

Per span the tracer reads, after the span has closed:

- the Spark jobs of the span's job group (``statusTracker``), their
  stages (``statusStore().lastStageAttempt``; SKIPPED stages are left out)
  and each stage's executor run time, CPU time, shuffle bytes and task
  count;
- the SQL executions that started inside the span, from the SQL status
  store: scan metrics (files, partitions, metadata time) and write metrics
  (files, bytes, job commit time).

Counters are read only after the listener bus has drained, because AQE
splits one action into several jobs of the same group.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op_id: int
    start: float
    end: float = 0.0
    parent: int | None = None
    slot: str = ""
    counters: dict = field(default_factory=dict)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_time(span: Span, spans: list[Span], index: int) -> float:
    """Span duration minus the part of it covered by its child spans."""
    kids = [(c.start, c.end) for c in spans if c.parent == index]
    return (span.end - span.start) - covered(
        clipped(kids, span.start, span.end))


_UNITS = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
          "TiB": 2 ** 40, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "h": 3600.0}


def parse_metric(text: str) -> float:
    """A SQL UI metric string as a number: counts as-is, sizes in bytes,
    timings in seconds. Multi-task metrics read their total line."""
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*([-0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


# SQL metric name -> per-layer counter it adds to
_SQL_COUNTERS = {
    ("Scan", "number of files read"): "sinks.scan_files",
    ("Scan", "number of partitions read"): "sinks.scan_partitions",
    ("Scan", "metadata time"): "sinks.scan_listing_s",
    ("Scan", "number of output rows"): "scan_rows",
    ("Execute", "number of written files"): "sinks.write_files",
    ("Execute", "written output"): "sinks.write_bytes",
    ("Execute", "job commit time"): "sinks.job_commit_s",
}


class Tracer:
    """Records spans; when ``spark`` is given, wraps every root span in a
    Spark job group and reads its counters when the span closes."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next_exec = 0
        self.bookkeeping_s = 0.0

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def span(self, name: str, op_id: int, slot: str = ""):
        return _SpanCtx(self, name, op_id, slot)

    # -- counters -----------------------------------------------------

    def _read_counters(self, group: str, span: Span) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        c = {"spark.jobs": 0, "spark.tasks": 0, "executor.run_s": 0.0,
             "executor.cpu_s": 0.0, "executor.shuffle_bytes": 0,
             "sinks.scan_files": 0, "sinks.scan_partitions": 0,
             "sinks.scan_listing_s": 0.0, "scan_rows": 0,
             "sinks.write_files": 0, "sinks.write_bytes": 0,
             "sinks.job_commit_s": 0.0}
        stages = []
        store = jsc.statusStore()
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            c["spark.jobs"] += 1
            info = sc.statusTracker().getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                c["spark.tasks"] += sd.numTasks()
                c["executor.run_s"] += sd.executorRunTime() / 1e3
                c["executor.cpu_s"] += sd.executorCpuTime() / 1e9
                c["executor.shuffle_bytes"] += sd.shuffleWriteBytes()
                if (sd.submissionTime().isDefined()
                        and sd.completionTime().isDefined()):
                    stages.append(
                        (sd.submissionTime().get().getTime() / 1e3,
                         sd.completionTime().get().getTime() / 1e3))
        stage_wall = covered(clipped(stages, span.start, span.end))
        c["spark.stage_wall_s"] = stage_wall
        c["spark.driver_self_s"] = (span.end - span.start) - stage_wall
        sql = self._sql_store()
        n_exec = sql.executionsCount()
        for eid in range(self._next_exec, n_exec):
            self._add_sql(sql, eid, c)
        self._next_exec = n_exec
        return c

    @staticmethod
    def _add_sql(sql, eid: int, c: dict) -> None:
        if not sql.execution(eid).isDefined():
            return
        values = sql.executionMetrics(eid)
        nodes = sql.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            kind = node.name().split(" ")[0]
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = _SQL_COUNTERS.get((kind, m.name()))
                if key is None:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    c[key] += parse_metric(v.get())


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op_id: int, slot: str):
        self.t, self.name, self.op_id, self.slot = tracer, name, op_id, slot

    def __enter__(self) -> Span:
        t = self.t
        parent = t._stack[-1] if t._stack else None
        self.span = Span(self.name, self.op_id, 0.0, parent=parent,
                         slot=self.slot)
        self.index = len(t.spans)
        t.spans.append(self.span)
        t._stack.append(self.index)
        if t.spark is not None and parent is None:
            # executions from before the span belong to no span
            t.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            t._next_exec = t._sql_store().executionsCount()
            self.group = f"perfbench-{self.op_id}-{self.index}"
            t.spark.sparkContext.setJobGroup(self.group, self.name)
        self.span.start = time.time()
        return self.span

    def __exit__(self, *exc) -> None:
        t = self.t
        self.span.end = time.time()
        t._stack.pop()
        if t.spark is not None and self.span.parent is None:
            b0 = time.time()
            self.span.counters = t._read_counters(self.group, self.span)
            t.bookkeeping_s += time.time() - b0
