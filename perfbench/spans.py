"""Spans and Spark counters, recorded from outside the package.

A ``Tracer`` records spans (name, start, end, parent, run id). Each span
runs under its own Spark job group, so when it closes the tracer can ask
``SparkContext.statusTracker()`` for the span's own jobs and stages, and
the SQL status store (``sharedState().statusStore()``, which works with
the UI disabled) for the plan-node metrics of the SQL executions those
jobs belong to. Counts are a span's own: jobs that a child span ran are
the child's.

``wrap`` swaps a module attribute for a traced version for the length of
a ``with`` block, which is how the traced run puts spans around the
package's public functions without editing the package.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import re
import time
import uuid
from pathlib import Path

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

# SQL plan-node metrics the benchmark reports, by the name Spark gives
# them, mapped to (counter name, scale to the reported unit).
SQL_METRICS = {
    ("shuffle bytes written", "size"): ("shuffle_write_mb", 1 / 2**20),
    ("spill size", "size"): ("spill_mb", 1 / 2**20),
    ("time to run Python workers", "timing"): ("python_exec_s", 1.0),
    ("data sent to Python workers", "size"): ("python_sent_mb", 1 / 2**20),
}
COUNTERS = (
    "spark_jobs", "spark_stages", "shuffle_write_mb", "spill_mb",
    "python_exec_s", "python_sent_mb", "csv_rows_read", "parquet_rows_read",
)


def parse_metric(text: str) -> float:
    """Spark's formatted metric value ('4,000', '1.4 s', '63.4 KiB', or a
    'total (min, med, max ...)' header line followed by the values) as a
    number in bytes, seconds or plain units."""
    line = text.split("\n")[-1]
    m = _NUM.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "counters", "attrs")

    def __init__(self, name: str, parent: "Span | None"):
        self.id = uuid.uuid4().hex[:12]
        self.name = name
        self.parent = parent
        self.start = self.end = 0.0
        self.counters = dict.fromkeys(COUNTERS, 0.0)
        self.attrs: dict = {}

    def to_json(self, run_id: str, t0: float) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "parent": self.parent.id if self.parent else None,
            "run_id": run_id,
            "start_s": round(self.start - t0, 6),
            "end_s": round(self.end - t0, 6),
            "counters": self.counters,
            "attrs": self.attrs,
        }


class Tracer:
    """Records spans in memory; ``dump`` writes them as one JSON file."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.t0 = time.monotonic()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # Seconds spent in the tracer's own code: setting job groups and
        # reading the counters, around each span.
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        t_enter = time.monotonic()
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent)
        s.attrs.update(attrs)
        self._stack.append(s)
        group = f"perfbench-{s.id}"
        sc.setJobGroup(group, name)
        first_exec = self._next_execution_id()
        s.start = time.monotonic()
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"perfbench-{parent.id}", parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self._count(s, group, first_exec)
            self.spans.append(s)
            self.overhead_s += (s.start - t_enter) + (time.monotonic() - s.end)

    def _next_execution_id(self) -> int:
        execs = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() + 1 if n else 0

    def _count(self, s: Span, group: str, first_exec: int) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        jobs = set(tracker.getJobIdsForGroup(group))
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        s.counters["spark_jobs"] = float(len(jobs))
        s.counters["spark_stages"] = float(len(stages))
        if not jobs:
            return
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            ex = execs.apply(i)
            if ex.executionId() < first_exec:
                break
            ex_jobs = {int(k) for k in _scala_keys(ex.jobs())}
            if ex_jobs & jobs:
                self._add_sql_metrics(s, store, ex.executionId())

    @staticmethod
    def _add_sql_metrics(s: Span, store, exec_id: int) -> None:
        values = store.executionMetrics(exec_id)
        nodes = store.planGraph(exec_id).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = (m.name(), m.metricType())
                is_rows = key == ("number of output rows", "sum")
                if key not in SQL_METRICS and not (is_rows and name.startswith("Scan ")):
                    continue
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                x = parse_metric(v.get())
                if is_rows:
                    fmt = name.split()[1] if len(name.split()) > 1 else ""
                    if fmt in ("csv", "parquet"):
                        s.counters[f"{fmt}_rows_read"] += x
                else:
                    counter, scale = SQL_METRICS[key]
                    s.counters[counter] += x * scale

    # -- reading the trace -------------------------------------------------

    def self_time(self, s: Span) -> float:
        """The span's duration minus the part its child spans cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent is s)
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (s.end - s.start) - covered

    def subtree(self, s: Span) -> list[Span]:
        out = [s]
        for c in self.spans:
            if c.parent is s:
                out += self.subtree(c)
        return out

    def total(self, s: Span, counter: str) -> float:
        return sum(x.counters[counter] for x in self.subtree(s))

    def dump(self, path: Path, extra: dict) -> None:
        doc = {
            "run_id": self.run_id,
            "spans": [
                dict(s.to_json(self.run_id, self.t0), self_s=round(self.self_time(s), 6))
                for s in self.spans
            ],
        }
        doc.update(extra)
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(doc, indent=1))


def _scala_keys(scala_map) -> list:
    it = scala_map.keysIterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


@contextlib.contextmanager
def wrap(tracer: Tracer, targets: list[tuple[str, str, str]]):
    """Trace calls to ``module.attr`` as spans named ``span`` for the
    ``with`` block; ``targets`` holds (module, attr, span) triples. The
    originals are restored on exit."""
    saved = []

    def traced(fn, name):
        def call(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        call.__wrapped__ = fn
        return call

    try:
        for mod_name, attr, name in targets:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            setattr(mod, attr, traced(orig, name))
        yield
    finally:
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)
