"""Benchmark entry point.

Usage (from the repository root)::

    python3 perfbench/run.py --workload catalog_sf0.001 --seed 1 --seconds 10 --trace 0

One run: generate the workload's inputs from ``--seed`` (cached per
seed under ``.perfbench/data``), start the worker session and a probe
session together and time both set-ups, stop the probe, then let the
worker run a cold pass, check the results, and run warm passes for
``--seconds``. Every metric is
printed to stderr by name and unit; the last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) named in ``BENCHMARK.json``. The full run record,
with every sample and, when traced, every span, is written to
``.perfbench/runs/`` for ``perfbench/compare.py``.

Exits non-zero without a result line when the program under test is
not in the working directory or the worker cannot finish.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from compare import quartiles  # noqa: E402
from procfs import descendants, rss_mb, start_time  # noqa: E402
from workloads import WORKLOADS, data_dir_for, generate  # noqa: E402

#: Hard limit of one run; the worker gets what is left of it.
RUN_LIMIT_S = 170.0


def spec() -> dict:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def driver_memory() -> str:
    """Driver heap from the machine's RAM: a fifth of it, between 1 and
    2 GiB. ``session.get_spark`` would otherwise ask for 48g, which the
    kernel's OOM killer ends on a small machine."""
    with open("/proc/meminfo") as f:
        total_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    mib = min(max(total_kib // 1024 // 5, 1024), 2048)
    return f"{mib // 256 * 256}m"


def spark_cores() -> int:
    """Task threads of ``local[N]``: half the cores, between 1 and 4. The
    JVM's JIT compiler and GC threads, the Python driver and the Python
    workers need the other half; with ``N = nproc`` they compete with the
    tasks for cores and the timings vary with the scheduling."""
    return min(4, max(1, (os.cpu_count() or 1) // 2))


def child_env(root: str) -> dict[str, str]:
    tmp = os.path.join(root, ".perfbench", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": str(spark_cores()),
        "SPARK_GRAFT_DRIVER_MEM": driver_memory(),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return env


class Child:
    """A worker process. Its whole process tree (the Python driver, the
    JVM and the PySpark daemons, which put themselves in process groups
    of their own) is killed on close."""

    def __init__(self, args: list[str], root: str, env: dict[str, str]):
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            cwd=root, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            text=True, start_new_session=True,
        )
        self.peak_rss_mb = 0.0
        self._seen: dict[int, int] = {}  # pid -> start time
        self._sampling = False
        self._thread = None

    def _tree(self) -> list[int]:
        pids = descendants(self.proc.pid)
        for p in pids:
            t = start_time(p)
            if t is not None:
                self._seen.setdefault(p, t)
        return pids

    def wait_for(self, word: str) -> float:
        """Seconds from process start until the worker printed ``word``."""
        for line in self.proc.stdout:
            if line.strip() == word:
                return time.perf_counter() - self.t0
        raise RuntimeError(f"worker exited before printing {word}")

    def sample_rss(self, period_s: float = 0.2) -> None:
        """Sample the summed RSS of the process tree until close."""
        self._sampling = True

        def loop():
            while self._sampling and self.proc.poll() is None:
                self.peak_rss_mb = max(self.peak_rss_mb, rss_mb(self._tree()))
                time.sleep(period_s)

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def kill(self) -> None:
        """Stop a worker that ran out of time; close() ends the rest."""
        self.proc.kill()

    def close(self) -> None:
        """Kill every process of the tree and wait until all have ended."""
        self._sampling = False
        if self._thread is not None:
            self._thread.join()
        self._tree()
        for pid, start in self._seen.items():
            if start_time(pid) == start:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        self.proc.wait()
        self.proc.stdin.close()
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and any(
            start_time(p) == t for p, t in self._seen.items()
        ):
            time.sleep(0.05)
        self.proc.stdout.close()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out-dir", default=None,
                    help="where to write the run record (default .perfbench/runs)")
    args = ap.parse_args()
    start = time.monotonic()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "orx_surgical_spark", "__init__.py")):
        print("perfbench: orx_surgical_spark/ not found in the working directory; "
              "run from the repository root", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    bench = spec()

    data = data_dir_for(root, workload, args.seed)
    if not os.path.exists(os.path.join(data, ".done")):
        sizes = generate(workload, data, args.seed)
        with open(os.path.join(data, ".done"), "w") as f:
            json.dump(sizes, f)
    with open(os.path.join(data, ".done")) as f:
        sizes = json.load(f)

    env = child_env(root)
    out_dir = args.out_dir or os.path.join(root, ".perfbench", "runs")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{workload.name}-seed{args.seed}-trace{args.trace}-{int(time.time() * 1000)}"
    worker_report = os.path.join(env["TMPDIR"], stem + ".worker.json")
    budget = RUN_LIMIT_S - (time.monotonic() - start)
    worker = Child(["run", "--workload", workload.name, "--data", data,
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--budget", str(budget - 15), "--report", worker_report], root, env)
    # Untraced runs also start a probe session at the same moment: its
    # set-up is a second setup_s sample. It is stopped before the worker
    # is told to go on, so it never overlaps a timed pass.
    probe = None if args.trace else Child(["probe"], root, env)
    timer = threading.Timer(max(RUN_LIMIT_S - (time.monotonic() - start), 1.0), worker.kill)
    timer.start()
    setup = []
    try:
        worker.sample_rss()
        setup.append(worker.wait_for("READY"))
        if probe is not None:
            setup.append(probe.wait_for("READY"))
            probe.close()
        worker.proc.stdin.write("GO\n")
        worker.proc.stdin.flush()
        worker.wait_for("DONE")
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 3
    finally:
        timer.cancel()
        if probe is not None:
            probe.close()
        worker.close()
    with open(worker_report) as f:
        w = json.load(f)
    os.remove(worker_report)

    attempted, failed = w["attempted"], len(w["failures"])
    passes = w["pass_s"]
    q1, med, q3 = quartiles(passes)
    end_to_end = {
        "setup_s": statistics.median(setup),
        "cold_pass_cpu_s": w["cold_pass_cpu_s"],
        "pass_cpu_s": statistics.median(w["pass_cpu_s"]),
        "peak_rss_mb": worker.peak_rss_mb,
        # wall times of the same passes: recorded and printed, not bounded
        "cold_pass_s": w["cold_pass_s"],
        "pass_s": med,
    }
    record = {
        "workload": workload.name, "seed": args.seed, "trace": args.trace,
        "written_at": time.time(),
        "seconds": args.seconds, "input_rows": sizes,
        "driver_memory": env["SPARK_GRAFT_DRIVER_MEM"], "cpus": env["SPARK_GRAFT_CPUS"],
        "setup_s_samples": setup, "pass_s_samples": passes,
        "pass_s_quartiles": [q1, med, q3], "pass_s_max": max(passes),
        "op_s": w["op_s"],
        "pass_cpu_s_samples": w["pass_cpu_s"],
        "attempted": attempted, "failed": failed, "failures": w["failures"],
        "ops_failed_ratio": failed / attempted,
        "end_to_end": end_to_end, "per_layer": w["layers"], "spans": w["spans"],
    }
    with open(os.path.join(out_dir, stem + ".json"), "w") as f:
        json.dump(record, f)

    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    log = lambda s: print(s, file=sys.stderr)  # noqa: E731
    log(f"# {workload.name} seed={args.seed} trace={args.trace} "
        f"driver_memory={record['driver_memory']} cpus={record['cpus']} inputs={sizes}")
    if args.trace:
        for k, v in sorted(w["layers"].items()):
            log(f"{k} {v:.6g} {units.get(k, '')}".rstrip())
        wanted = [m["name"] for m in bench["per_layer"]]
        metrics = {k: w["layers"][k] for k in wanted}
    else:
        for k, v in end_to_end.items():
            log(f"{k} {v:.6g} {units.get(k, 's')}")
        log(f"pass_s n={len(passes)} q1={q1:.4f} median={med:.4f} q3={q3:.4f} "
            f"max={max(passes):.4f} s")
        log(f"ops_failed_ratio {failed}/{attempted} = {failed / attempted:.4f}")
        wanted = [m["name"] for m in bench["end_to_end"]]
        metrics = {k: end_to_end[k] for k in wanted}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
