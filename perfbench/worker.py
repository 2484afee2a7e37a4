"""One benchmark process: a Spark session that runs one workload.

``run.py`` starts this file as a child process; it is not meant to be
run by hand. Two modes:

- ``probe``: import the catalog, create the session, print ``READY``
  and wait to be stopped. ``run.py`` times it from process start to
  ``READY``.
- ``run``: the same set-up, then, once ``run.py`` writes ``GO`` on
  stdin, one closed loop with one client: a cold pass, the correctness
  checks, and warm passes until ``--seconds`` have passed. One pass runs every operation of the
  workload once, in a fixed order: the build (the call returns a
  DataFrame) and a full materialisation through the ``noop`` sink.
  With ``--trace 1`` untraced and traced warm passes alternate; the
  traced ones give the per-layer numbers. The result is written as
  JSON to ``--report``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback

import tracing as tr
from procfs import tree_cpu_s
from workloads import WORKLOADS, operations

SESSION_CONF = {"spark.ui.showConsoleProgress": "false"}


def _session():
    import orx_surgical_spark.queries.catalog  # noqa: F401  (part of set-up)
    from orx_surgical_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=SESSION_CONF)
    return spark, time.perf_counter() - t


def probe() -> None:
    _session()
    print("READY", flush=True)
    # run.py stops the whole process tree once it has read READY
    time.sleep(60)


class Loop:
    """Runs passes and counts attempted and failed operations."""

    def __init__(self, spark, ops, deadline: float):
        self.spark, self.ops = spark, ops
        self.attempted = 0
        self.op_s: dict[str, list[float]] = {name: [] for name, _ in ops}
        self.failures: list[dict] = []
        self.timed_out = False
        self.cpu_s: list[float] = []  # CPU seconds of each untraced pass
        self._timer = threading.Timer(max(deadline - time.monotonic(), 0.0), self._expire)
        self._timer.daemon = True
        self._timer.start()

    def _expire(self) -> None:
        # A stuck operation fails with a cancelled job; operations not
        # started yet are counted as failed without running.
        self.timed_out = True
        self.spark.sparkContext.cancelAllJobs()

    def close(self) -> None:
        self._timer.cancel()

    def fail(self, name: str, why: str) -> None:
        self.failures.append({"op": name, "why": why[:500]})
        print(f"# FAILED {name}: {why[:500]}", file=sys.stderr, flush=True)

    def run_op(self, name, build, tracer=None):
        """One operation; returns its DataFrame, or None if it failed."""
        self.attempted += 1
        if self.timed_out:
            self.fail(name, "timeout: run budget exhausted before the operation started")
            return None
        try:
            if tracer is None:
                t = time.perf_counter()
                df = build()
                df.write.format("noop").mode("overwrite").save()
                self.op_s[name].append(time.perf_counter() - t)
                return df
            tracer.op = name
            with tracer.span(f"query.{name}"):
                with tracer.span("queries.build"):
                    df = build()
                with tracer.span("spark.plan"):
                    tracer.phases[name] = tr.plan_phases(df)
                with tracer.span("spark.exec.run"):
                    df.write.format("noop").mode("overwrite").save()
            return df
        except Exception as exc:  # an operation failure is a measured outcome
            self.fail(name, ("timeout: " if self.timed_out else "")
                      + "".join(traceback.format_exception_only(exc)).strip())
            return None

    def untraced_pass(self) -> tuple[float, dict]:
        cpu, t = tree_cpu_s(os.getpid()), time.perf_counter()
        dfs = {name: self.run_op(name, build) for name, build in self.ops}
        wall = time.perf_counter() - t
        self.cpu_s.append(tree_cpu_s(os.getpid()) - cpu)
        return wall, dfs

    def traced_pass(self, tracer) -> dict[str, float]:
        exec0 = tr.last_execution_id(self.spark)
        first = len(tracer.spans)
        tracer.phases = {}
        tracer.active = True
        try:
            with tracer.span("pass"):
                for name, build in self.ops:
                    self.run_op(name, build, tracer)
        finally:
            tracer.active = False
            tracer.op = None
        tr.wait_for_listeners(self.spark)
        return layer_metrics(self.spark, tracer, tracer.spans[first:], exec0)


def layer_metrics(spark, tracer, spans, exec0) -> dict[str, float]:
    """Per-layer numbers of one traced pass."""
    by_id = {s.id: s for s in spans}
    selfs = tr.self_times(spans)
    jobs = tr.spark_jobs(spark, [s.group for s in spans])

    def under(s, name) -> bool:
        while s is not None:
            if s.name == name:
                return True
            s = by_id.get(s.parent)
        return False

    root = next(s for s in spans if s.name == "pass")
    m: dict[str, float] = {
        "traced_pass_s": root.end - root.start,
        "queries.build_s": sum(s.end - s.start for s in spans if s.name == "queries.build"),
        "queries.build_jobs": sum(jobs[s.group]["jobs"] for s in spans
                                  if under(s, "queries.build")),
        "spark.exec.run_s": sum(s.end - s.start for s in spans if s.name == "spark.exec.run"),
        "operators.self_s": sum(selfs[s.id] for s in spans
                                if s.name.startswith(("operators.", "cutover."))),
        # share of the pass covered by the spans below the pass span
        "trace.coverage_ratio": 1 - selfs[root.id] / (root.end - root.start),
    }
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"spark.exec.{k}"] = sum(j[k] for j in jobs.values())
    for phases in tracer.phases.values():
        for k, v in phases.items():
            m[k] = m.get(k, 0.0) + v
    m.update(tr.sql_metrics(spark, exec0))
    m.update(tr.cutover_counts(spans))
    for s in spans:
        if s.name.startswith("query."):
            key = f"{s.name}_s"
            m[key] = m.get(key, 0.0) + (s.end - s.start)
        elif s.name.startswith(("operators.", "cutover.", "pipelines.", "sources.")):
            key = f"{s.name}_s"
            m[key] = m.get(key, 0.0) + selfs[s.id]
    return m


def run(args) -> None:
    from checks import check_catalog, check_cms, cms_expected

    deadline = time.monotonic() + args.budget
    spark, get_spark_s = _session()
    print("READY", flush=True)
    sys.stdin.readline()  # GO: the probe session has been stopped
    t_ready = time.monotonic()
    workload = WORKLOADS[args.workload]
    loop = Loop(spark, operations(workload, spark, args.data), deadline)

    cg0 = tr.codegen_counters(spark)
    cold_pass_s, cold_dfs = loop.untraced_pass()
    cg1 = tr.codegen_counters(spark)

    log = lambda what: print(f"# worker {what} at {time.monotonic() - t_ready:.1f}s",  # noqa: E731
                             file=sys.stderr, flush=True)
    log(f"cold pass done ({cold_pass_s:.2f}s)")
    expected = cms_expected(args.data) if workload.kind == "cms" else None
    for name, df in cold_dfs.items():
        if df is None:
            continue
        t = time.monotonic()
        try:
            if expected is None:
                check_catalog(name, df, args.data)
            else:
                check_cms(name, df, expected)
        except Exception as exc:  # a wrong or unreadable result fails the op
            loop.fail(name, "wrong result: " + "".join(
                traceback.format_exception_only(exc)).strip())
        log(f"checked {name} in {time.monotonic() - t:.2f}s")
    del cold_dfs
    log("checks done")

    tracer = None
    if args.trace:
        tracer = tr.Tracer(spark)
        tracer.install()
    # Warm passes until --seconds have passed. Traced passes sit between
    # untraced ones (U T U T U ...), so the overhead ratio compares
    # neighbours rather than a first, still-warming pass with later ones.
    t_warm = time.monotonic()
    passes = [loop.untraced_pass()[0]]
    traced: list[dict] = []
    round_s = passes[0] * (2 if tracer else 1)
    while (tracer is not None and not traced) or time.monotonic() - t_warm < args.seconds:
        if deadline - time.monotonic() < 1.5 * round_s:
            break
        t = time.monotonic()
        if tracer is not None:
            traced.append(loop.traced_pass(tracer))
        passes.append(loop.untraced_pass()[0])
        round_s = time.monotonic() - t
    loop.close()
    log(f"warm passes done ({len(passes)})")

    layers = {}
    if traced:
        layers = {k: statistics.median(t.get(k, 0.0) for t in traced)
                  for k in sorted(set().union(*traced))}
        layers["trace.overhead_ratio"] = layers["traced_pass_s"] / statistics.median(passes)
        layers["session.get_spark_s"] = get_spark_s
        layers["spark.codegen.compiles"] = cg1[0] - cg0[0]
        layers["spark.codegen.compile_ms"] = cg1[1] - cg0[1]
    report = {
        "get_spark_s": get_spark_s,
        "cold_pass_s": cold_pass_s,
        "pass_s": passes,
        "cold_pass_cpu_s": loop.cpu_s[0],
        "pass_cpu_s": loop.cpu_s[1:],
        "op_s": loop.op_s,
        "attempted": loop.attempted,
        "failures": loop.failures,
        "layers": layers,
        "spans": [vars(s) for s in tracer.spans] if tracer else [],
    }
    with open(args.report, "w") as f:
        json.dump(report, f)
    print("DONE", flush=True)
    # run.py stops this process, the JVM and its Python workers
    time.sleep(60)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["probe", "run"])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--data")
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--budget", type=float, default=150.0)
    ap.add_argument("--report")
    args = ap.parse_args()
    if args.mode == "probe":
        probe()
    else:
        run(args)


if __name__ == "__main__":
    main()
