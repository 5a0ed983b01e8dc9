"""Spans around the calls the benchmark makes into each layer.

A span records its name, start, end, parent and operation id. With
tracing on, each span also runs its Spark jobs under a job group of its
own, and the outermost span of a call records which session confs the
call left changed. The Spark
counts are read once, when the run ends, so the timed calls pay only for
the job-group switch:

- jobs, stages, tasks and failed tasks, from ``statusTracker`` by group;
- shuffle bytes written, spill bytes, bytes sent to and returned from
  Python, and join output rows, from the SQL status store's per-node
  metrics of the SQL executions the span started.

With tracing off, ``span`` does nothing.
"""

from __future__ import annotations

import re
import time
import uuid
from statistics import median
from contextlib import contextmanager, nullcontext

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9.,]+) (B|KiB|MiB|GiB|TiB)")

# SQL metric name -> span counter
SQL_COUNTERS = {
    "shuffle bytes written": "shuffle_bytes",
    "spill size": "spill_bytes",
    "data sent to Python workers": "py_bytes",
    "data returned from Python workers": "py_bytes",
}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: the total of a per-task metric
    ('total (min, med, max ...)\\n1.2 MiB (...)'), a size or a count."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _SIZE_RE.match(line.strip())
    if m:
        return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]
    head = line.strip().split(" ")[0].replace(",", "")
    try:
        return float(head)
    except ValueError:
        return 0.0


def _conf_snapshot(spark) -> str:
    """The session's SQL confs as one string (one Py4J call)."""
    return spark._jsparkSession.sessionState().conf().getAllConfs().toString()


def _conf_diff(before: str, after: str) -> list[str]:
    """Names of the confs that differ between two snapshots."""
    if before == after:
        return []

    def pairs(s: str) -> set[str]:
        return set(s[s.index("(") + 1:-1].split(", "))

    changed = pairs(before) ^ pairs(after)
    return sorted({p.split(" -> ")[0] for p in changed})


class Tracer:
    """Span recorder for one benchmark run."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._store = spark._jsparkSession.sharedState().statusStore() if enabled else None
        self.overhead_s = 0.0  # time the tracer itself spent inside spans
        self._group_prefix = f"bench-{uuid.uuid4().hex[:8]}"  # unique per tracer

    def span(self, name: str, op: int | None = None):
        return self._span(name, op) if self.enabled else nullcontext()

    def _last_execution_id(self) -> int:
        n = self._store.executionsCount()
        return self._store.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def _claim_executions(self, span: dict) -> None:
        last = self._last_execution_id()
        span["executions"].extend(range(self._next_eid, last + 1))
        self._next_eid = last + 1

    @contextmanager
    def _span(self, name: str, op: int | None):
        t_in = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        if not self._stack:
            self._next_eid = self._last_execution_id() + 1
        elif parent is not None:
            self._claim_executions(parent)
        span = {
            "id": len(self.spans), "name": name, "op": op,
            "parent": parent["id"] if parent else None,
            "group": f"{self._group_prefix}-{len(self.spans)}", "executions": [],
        }
        self.spans.append(span)
        self._stack.append(span)
        # conf changes are recorded on the outermost span of each call
        confs = _conf_snapshot(self.spark) if parent is None else None
        sc.setJobGroup(span["group"], name)
        span["start"] = time.perf_counter()
        self.overhead_s += span["start"] - t_in
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            self._claim_executions(span)
            span["conf_changed"] = [] if confs is None else _conf_diff(
                confs, _conf_snapshot(self.spark))
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc._jsc.clearJobGroup()
            self.overhead_s += time.perf_counter() - span["end"]

    def finish(self) -> list[dict]:
        """Read the Spark counts of every span and compute self times."""
        if not self.enabled:
            return []
        time.sleep(0.5)  # let the listener bus deliver the last job and SQL events
        tracker = self.spark.sparkContext.statusTracker()
        for s in self.spans:
            jobs = tracker.getJobIdsForGroup(s["group"])
            stages = [sid for j in jobs if (ji := tracker.getJobInfo(j)) for sid in ji.stageIds]
            infos = [si for sid in stages if (si := tracker.getStageInfo(sid))]
            s.update(
                jobs=len(jobs), stages=len(stages),
                tasks=sum(si.numTasks for si in infos),
                failed_tasks=sum(si.numFailedTasks for si in infos),
                shuffle_bytes=0.0, spill_bytes=0.0, py_bytes=0.0, join_rows_out=0.0,
            )
            for eid in s.pop("executions"):
                self._add_sql_metrics(s, eid)
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"] - _covered(s, children.get(s["id"], []))
        return self.spans

    def _add_sql_metrics(self, span: dict, eid: int) -> None:
        try:
            values = self._store.executionMetrics(eid)
            nodes = self._store.planGraph(eid).allNodes()
        except Exception:  # execution evicted from the store
            return
        for i in range(nodes.size()):
            node = nodes.apply(i)
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = SQL_COUNTERS.get(m.name())
                is_join_rows = "Join" in node.name() and m.name() == "number of output rows"
                if key is None and not is_join_rows:
                    continue
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                span[key or "join_rows_out"] += parse_metric(v.get())


def _covered(span: dict, kids: list[dict]) -> float:
    """Length of the part of ``span``'s interval its children cover."""
    total, reach = 0.0, span["start"]
    for k in sorted(kids, key=lambda k: k["start"]):
        lo, hi = max(k["start"], reach), min(k["end"], span["end"])
        if hi > lo:
            total += hi - lo
            reach = hi
    return total


def per_op(spans: list[dict], names, field: str, inclusive: bool = False) -> float:
    """Median over measured operations of ``field`` summed over the spans
    called one of ``names`` in each (0.0 when the workload has no such
    span). ``inclusive`` adds each span's children (counts, not times)."""
    names = {names} if isinstance(names, str) else set(names)
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    by_op: dict[int, float] = {}
    for s in spans:
        if s["name"] not in names or s["op"] is None or s["op"] < 0:
            continue
        v = s[field] + (sum(k[field] for k in kids.get(s["id"], [])) if inclusive else 0.0)
        by_op[s["op"]] = by_op.get(s["op"], 0.0) + v
    return float(median(by_op.values())) if by_op else 0.0
