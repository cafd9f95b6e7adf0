"""Traced run: spans around the program's public calls, with the data of
Spark's own status stores attached to the span that was open when Spark
produced it.

The spans come from wrappers the benchmark installs on module and class
attributes at run time; the program's files are not edited. Each span makes
its id the Spark job group, so every job, and the stages and SQL execution
behind it, belongs to the innermost open span. After each top-level
operation ``harvest`` reads three stores, all of which work with
``spark.ui.enabled=false``:

- ``statusStore().stageData``: tasks, CPU time, GC, shuffle and spill;
- the SQL store's ``planGraph`` and ``executionMetrics``: per-operator
  metrics, whose formatted strings are parsed back into numbers and mapped
  to layers by operator name (see ``OPERATORS``);
- ``queryExecution().tracker().phases()``: Catalyst phase times of the
  frames a query call returns.
"""

from __future__ import annotations

import functools
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

JOB_GROUP = "spark.jobGroup.id"
GROUP_PREFIX = "perfbench-"

# operator name prefix -> (layer, {SQL metric name -> layer counter})
OPERATORS = {
    "MapInPandas": (
        "chunking",
        {
            "time to run Python workers": "python_run_s",
            # not "time to initialize Python workers": for a reused worker
            # Spark 4.1 reports its age there, tens of seconds per task
            "time to start Python workers": "python_init_s",
            "data sent to Python workers": "arrow_bytes_in",
            "data returned from Python workers": "arrow_bytes_out",
            "number of output rows": "chunks_out",
        },
    ),
    "Scan binaryFile": (
        "sources.local",
        {"number of files read": "files_listed", "size of files read": "bytes_read"},
    ),
    "Scan parquet": (
        "store.scan",
        {
            "number of files read": "files",
            "size of files read": "bytes_scanned",
            "number of output rows": "rows_scanned",
        },
    ),
    "Execute InsertIntoHadoopFsRelationCommand": (
        "store.write",
        {
            "written output": "bytes_written",
            "number of written files": "files_written",
            "number of output rows": "rows_written",
        },
    ),
}

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40, "PiB": 1 << 50}
_TIME_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE_RE = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str, kind: str) -> float:
    """A formatted SQL metric as a number: sizes in bytes, timings in
    seconds, sums as counts. Per-task metrics read 'total (min, med, max
    ...)\\n<total> (<min>, ...)'; the total is the first value on the last
    line."""
    m = _VALUE_RE.search(text.strip().split("\n")[-1])
    if m is None:
        raise ValueError(f"unparseable {kind} metric {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if kind == "size":
        return number * _SIZE[unit]
    if kind in ("timing", "nsTiming"):
        return number * _TIME_S[unit]
    return number


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    # layer -> counter -> value, from the SQL operators of this span's jobs
    operators: dict = field(default_factory=lambda: defaultdict(lambda: defaultdict(float)))
    frame: DataFrame | None = None
    catalyst_ms: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jvm = self._sc._jvm
        self._status = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self._harvested = 0
        self._seen_stages: set[int] = set()
        self._job_span: dict[int, int] = {}
        self._seen_executions = self._sql.executionsCount()
        # time the tracer itself adds inside timed operations
        self.bookkeeping_s = 0.0

    # -- spans ----------------------------------------------------------------

    def _set_group(self) -> None:
        top = self._stack[-1].id if self._stack else None
        self._sc.setLocalProperty(JOB_GROUP, None if top is None else f"{GROUP_PREFIX}{top}")

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        sp = Span(len(self.spans), name, self._stack[-1].id if self._stack else None, t0)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group()
        sp.start = time.perf_counter()
        self.bookkeeping_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group()
            self.bookkeeping_s += time.perf_counter() - sp.end

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that opens span ``name``
        around each call and keeps the DataFrame the call returns."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = original(*args, **kwargs)
                if isinstance(out, DataFrame):
                    sp.frame = out
                return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- status stores -------------------------------------------------------------

    def harvest(self) -> None:
        """Attach the jobs, stages and SQL operators produced since the last
        harvest to their spans, and read the Catalyst phases of kept frames.
        Call with no span open."""
        for sp in self.spans[self._harvested :]:
            for job_id in self._sc.statusTracker().getJobIdsForGroup(f"{GROUP_PREFIX}{sp.id}"):
                self._job_span[job_id] = sp.id
                sp.jobs += 1
                self._add_stages(sp, self._status.job(job_id).stageIds())
            if sp.frame is not None:
                phases = sp.frame._jdf.queryExecution().tracker().phases()
                it = phases.valuesIterator()
                while it.hasNext():
                    sp.catalyst_ms += it.next().durationMs()
                sp.frame = None
        self._harvested = len(self.spans)
        self._add_executions()

    def _add_stages(self, sp: Span, stage_ids) -> None:
        empty = self._jvm.java.util.ArrayList()
        no_quantiles = self._sc._gateway.new_array(self._jvm.double, 0)
        it = stage_ids.iterator()
        while it.hasNext():
            sid = it.next()
            if sid in self._seen_stages:
                continue
            attempts = self._status.stageData(sid, False, empty, False, no_quantiles)
            ran = False
            at = attempts.iterator()
            while at.hasNext():
                s = at.next()
                if s.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                ran = True
                sp.tasks += s.numCompleteTasks()
                sp.cpu_s += s.executorCpuTime() / 1e9
                sp.gc_s += s.jvmGcTime() / 1e3
                sp.shuffle_read_bytes += s.shuffleReadBytes()
                sp.shuffle_write_bytes += s.shuffleWriteBytes()
                sp.spill_bytes += s.diskBytesSpilled()
            if ran:
                sp.stages += 1
                self._seen_stages.add(sid)

    def _add_executions(self) -> None:
        count = self._sql.executionsCount()
        if count <= self._seen_executions:
            return
        executions = self._sql.executionsList(self._seen_executions, count - self._seen_executions)
        self._seen_executions = count
        it = executions.iterator()
        while it.hasNext():
            ex = it.next()
            jobs = ex.jobs().keysIterator()
            span_id = None
            while jobs.hasNext() and span_id is None:
                span_id = self._job_span.get(jobs.next())
            if span_id is None:
                continue
            sp = self.spans[span_id]
            values = self._sql.executionMetrics(ex.executionId())
            nodes = self._sql.planGraph(ex.executionId()).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                name = node.name()
                match = next((v for k, v in OPERATORS.items() if name.startswith(k)), None)
                if match is None:
                    continue
                layer, wanted = match
                metrics = node.metrics().iterator()
                while metrics.hasNext():
                    metric = metrics.next()
                    counter = wanted.get(metric.name())
                    value = values.get(metric.accumulatorId()) if counter else None
                    # values are this execution's own updates: a cached
                    # subtree that another execution computed reads 0 here
                    if value is not None and value.isDefined():
                        sp.operators[layer][counter] += parse_metric(
                            value.get(), metric.metricType()
                        )

    # -- span trees ------------------------------------------------------------------

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def subtree(self, sp: Span) -> list[Span]:
        out = [sp]
        for child in self.children(sp):
            out += self.subtree(child)
        return out

    def self_seconds(self, sp: Span) -> float:
        return sp.seconds - sum(c.seconds for c in self.children(sp))
