"""Tracing from outside the program: spans around calls into its public
functions, and Spark's own counters read after the fact.

``Tracer.install()`` replaces every public function of the traced
modules with a wrapper that records a span (name, start, end, parent,
operation) and runs the call under its own Spark job group, so the jobs
a call started can be counted afterwards. References imported by name
into other program modules (``from x import f``) are replaced too.
Spans stay in memory until the benchmark writes them out.

Spark-side readers (no code inside the program):

- ``spark_jobs``: jobs, stages and tasks per job group, from the
  ``statusTracker``;
- ``sql_metrics``: scan, exchange and Arrow-worker SQL metrics of the
  SQL executions since a given id, from the SQL status store;
- ``plan_phases``: Catalyst analysis, optimisation and planning time
  from a DataFrame's ``QueryExecution`` tracker;
- ``codegen_counters``: the JVM's whole-stage codegen compile count and
  time.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import pkgutil
import re
import sys
import time
from dataclasses import dataclass

#: Program modules whose public functions get spans, besides every
#: module of ``orx_surgical_spark.operators``. The metric name of a span
#: is the module path below ``orx_surgical_spark`` plus the function
#: name, e.g. ``operators.graph.connected_components``.
TRACED_MODULES = ("orx_surgical_spark.pipelines.cms", "orx_surgical_spark.sources.readers")

#: Driver cutovers whose driver path is a helper function: operator span
#: name -> (module, helper). A call of the operator counts as a driver
#: cutover when the helper ran inside it, else as distributed. The other
#: cutovers (similarity's Gram and PQ fits) decide inline and are not
#: observable from outside the program.
CUTOVERS = {
    "operators.graph.connected_components":
        ("orx_surgical_spark.operators.graph", "_driver_union_find"),
    "operators.clustering.lloyd_centroids":
        ("orx_surgical_spark.operators.clustering", "_driver_lloyd"),
}

#: Arrow/pandas worker nodes of a physical plan.
ARROW_NODES = re.compile(r"MapInArrow|MapInPandas|ArrowEvalPython|FlatMapGroupsInPandas|"
                         r"FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas|"
                         r"PythonMapInArrow|ArrowWindowPython|ArrowAggregatePython")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    group: str


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: str | None = None
        self.phases: dict[str, dict[str, float]] = {}
        #: wrappers record spans only while a traced pass runs
        self.active = False
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span around the block, with its jobs in a group of
        their own."""
        sid = self._next
        self._next += 1
        parent = self._stack[-1].id if self._stack else None
        s = Span(sid, name, 0.0, 0.0, parent, self.op, f"perfbench-{sid}")
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                self.sc._jsc.clearJobGroup()
            self.spans.append(s)

    def install(self) -> None:
        """Wrap the public functions of the traced modules."""
        import orx_surgical_spark.operators as ops

        wrapped: dict[int, tuple] = {}
        modules = [f"{ops.__name__}.{m.name}" for m in pkgutil.iter_modules(ops.__path__)]
        for modname in [*modules, *TRACED_MODULES]:
            mod = importlib.import_module(modname)
            prefix = modname.removeprefix("orx_surgical_spark.")
            for attr, fn in list(vars(mod).items()):
                if (attr.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != modname):
                    continue
                w = self._wrap(fn, f"{prefix}.{attr}")
                wrapped[id(fn)] = (fn, w)
                setattr(mod, attr, w)
        for op, (modname, helper) in CUTOVERS.items():
            mod = importlib.import_module(modname)
            setattr(mod, helper, self._wrap(getattr(mod, helper), f"cutover.{op}"))
        for name, mod in list(sys.modules.items()):
            if not name.startswith("orx_surgical_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                hit = wrapped.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper


def cutover_counts(spans: list[Span]) -> dict[str, int]:
    """Calls of each cutover operator, split by the path they took."""
    driver = {s.parent for s in spans if s.name.startswith("cutover.")}
    out = {"operators.cutover.driver": 0, "operators.cutover.distributed": 0}
    for s in spans:
        if s.name in CUTOVERS:
            out["operators.cutover.driver" if s.id in driver
                else "operators.cutover.distributed"] += 1
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its child spans cover."""
    child: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
    return {s.id: (s.end - s.start) - child.get(s.id, 0.0) for s in spans}


# -- Spark-side readers ------------------------------------------------

def wait_for_listeners(spark) -> None:
    """Let the listener bus deliver every event posted so far, so the
    status stores hold the jobs and SQL executions just run."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def spark_jobs(spark, groups: list[str]) -> dict[str, dict[str, int]]:
    """Job group -> jobs, stages that ran, tasks completed, tasks failed."""
    st = spark.sparkContext._jsc.sc().statusTracker()
    out = {}
    for g in groups:
        jobs = list(st.getJobIdsForGroup(g))
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info.isEmpty():
                continue
            for sid in info.get().stageIds():
                si = st.getStageInfo(sid)
                if si.isEmpty():
                    continue
                si = si.get()
                done = si.numCompletedTasks()
                stages += done > 0
                tasks += done
                failed += si.numFailedTasks()
        out[g] = {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}
    return out


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}


def _metric_value(text: str) -> float:
    """Parse the total out of a status-store metric string, e.g.
    ``"1,234"`` or ``"total (min, med, max ...)\\n12.3 MiB (...)"``."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    if n == 0:
        return -1
    return max(e.executionId() for e in _seq(store.executionsList(int(n) - 1, 1)))


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def sql_metrics(spark, after_id: int) -> dict[str, float]:
    """Sum of the scan, exchange and Arrow-worker SQL metrics over every
    SQL execution with an id above ``after_id``."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = {"sources.scan_rows": 0.0, "sources.scan_bytes": 0.0, "sources.scan_time_ms": 0.0,
           "spark.exchange.shuffle_bytes": 0.0, "spark.exchange.broadcast_bytes": 0.0,
           "udf.arrow_rows": 0.0}
    n = int(store.executionsCount())
    for e in _seq(store.executionsList(0, n)):
        eid = e.executionId()
        if eid <= after_id:
            continue
        values = store.executionMetrics(eid)
        for node in _seq(store.planGraph(eid).allNodes()):
            name = node.name()
            if name.startswith("Scan"):
                wanted = {"number of output rows": "sources.scan_rows",
                          "size of files read": "sources.scan_bytes",
                          "scan time": "sources.scan_time_ms"}
            elif name == "Exchange":
                wanted = {"shuffle bytes written": "spark.exchange.shuffle_bytes"}
            elif name == "BroadcastExchange":
                wanted = {"data size": "spark.exchange.broadcast_bytes"}
            elif ARROW_NODES.search(name):
                wanted = {"number of output rows": "udf.arrow_rows"}
            else:
                continue
            for m in _seq(node.metrics()):
                key = wanted.get(m.name())
                if key is None:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[key] += _metric_value(v.get())
    return out


def plan_phases(df) -> dict[str, float]:
    """Force the DataFrame's physical plan and return its Catalyst phase
    times in seconds."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        p = phases.get(phase)
        out[f"spark.plan.{phase}_s"] = (
            (p.get().endTimeMs() - p.get().startTimeMs()) / 1000 if p.isDefined() else 0.0
        )
    return out


def codegen_counters(spark) -> tuple[int, float]:
    """(compilations so far, their total milliseconds) from the JVM's
    codegen metrics; the total is count x mean of the histogram's
    sample, so it is an estimate once the sample is full."""
    h = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = int(h.getCount())
    return n, n * float(h.getSnapshot().getMean())
