"""Compare two sets of benchmark runs: a parent and a change.

Usage::

    python3 perfbench/compare.py PARENT CHANGE

``PARENT`` and ``CHANGE`` are directories (or single files) of run
records that ``perfbench/run.py`` writes (``--out-dir``; by default
``.perfbench/runs``). Untraced records are compared; traced ones are
ignored. For each workload and end-to-end metric of ``BENCHMARK.json``
it prints both sides' medians and quartiles, the share of pairs the
change won, and a verdict:

- ``improved``: the change wins at least nine tenths of the pairs (ties
  count for neither side) and the medians differ by more than the
  parent's own spread (the distance between its quartiles);
- ``regressed``: the change's median is worse than the parent's by
  more than the bound, and either both spreads are within the bound or
  every run of the change reads worse than every run of the parent;
- ``unresolved``: otherwise, when the run-to-run spread of either side
  is wider than the metric's bound, unless every run of the change
  reads better than every run of the parent;
- ``unchanged``: otherwise.

Runs are paired by seed where both sides ran the same seeds, otherwise
in the order the records were written. A gain does not count when the
change failed more operations than the parent. Exits 1 if any metric
regressed.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> dict[str, list[dict]]:
    """Workload -> untraced run records, in the order they were written."""
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*-seed*-trace*.json")))
    else:
        files = [path]
    runs: dict[str, list[dict]] = {}
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        if rec.get("trace") == 0 and "end_to_end" in rec:
            runs.setdefault(rec["workload"], []).append(rec)
    for recs in runs.values():
        recs.sort(key=lambda r: r.get("written_at", 0))
    return runs


def quartiles(v: list[float]) -> tuple[float, float, float]:
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def pairs(parent: list[dict], change: list[dict]) -> list[tuple[dict, dict]]:
    ps = {r["seed"]: r for r in parent}
    cs = {r["seed"]: r for r in change}
    common = sorted(set(ps) & set(cs))
    if len(common) == min(len(parent), len(change)):
        return [(ps[s], cs[s]) for s in common]
    return list(zip(parent, change))


def verdict(metric: dict, parent: list[float], change: list[float],
            paired: list[tuple[float, float]], more_failures: bool) -> dict:
    lower = metric["better"] == "lower"
    better = (lambda a, b: a < b) if lower else (lambda a, b: a > b)
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    wins = sum(better(c, p) for p, c in paired)
    win_share = wins / len(paired) if paired else 0.0
    spread = max((p3 - p1) / pm if pm else 0.0, (c3 - c1) / cm if cm else 0.0)
    worse_by = ((cm - pm) if lower else (pm - cm)) / pm if pm else 0.0
    all_better = all(better(c, p) for c in change for p in parent)
    all_worse = all(better(p, c) for c in change for p in parent)
    if (not more_failures and paired and win_share >= 0.9 and better(cm, pm)
            and abs(cm - pm) > p3 - p1):
        v = "improved"
    elif worse_by > metric["bound"] and (spread <= metric["bound"] or all_worse):
        v = "regressed"
    elif spread > metric["bound"] and not all_better:
        v = "unresolved"
    else:
        v = "unchanged"
    return {"parent": [p1, pm, p3], "change": [c1, cm, c3], "n": [len(parent), len(change)],
            "wins": f"{wins}/{len(paired)}", "spread": spread, "worse_by": worse_by,
            "bound": metric["bound"], "verdict": v}


def compare(parent_dir: str, change_dir: str) -> list[dict]:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    parent, change = load(parent_dir), load(change_dir)
    rows = []
    for wl in sorted(set(parent) | set(change)):
        p, c = parent.get(wl, []), change.get(wl, [])
        if not p or not c:
            rows.append({"workload": wl, "metric": "*", "verdict": "missing runs",
                         "n": [len(p), len(c)]})
            continue
        pf, cf = sum(r["failed"] for r in p), sum(r["failed"] for r in c)
        paired = pairs(p, c)
        for m in metrics:
            name = m["name"]
            row = verdict(
                m, [r["end_to_end"][name] for r in p], [r["end_to_end"][name] for r in c],
                [(a["end_to_end"][name], b["end_to_end"][name]) for a, b in paired],
                cf > pf,
            )
            rows.append({"workload": wl, "metric": name, "unit": m["unit"], **row})
        rows.append({"workload": wl, "metric": "failed_ops", "n": [len(p), len(c)],
                     "parent": pf, "change": cf,
                     "verdict": "regressed" if cf > pf else "unchanged"})
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description="Compare parent and change benchmark runs.")
    ap.add_argument("parent")
    ap.add_argument("change")
    args = ap.parse_args()
    rows = compare(args.parent, args.change)
    for r in rows:
        if "spread" not in r:
            print(f"{r['workload']:<16} {r['metric']:<12} n={r['n']} "
                  f"parent={r.get('parent', '-')} change={r.get('change', '-')} "
                  f"{r['verdict']}")
            continue
        (p1, pm, p3), (c1, cm, c3) = r["parent"], r["change"]
        print(f"{r['workload']:<16} {r['metric']:<12} n={r['n']} "
              f"parent {pm:.4g} [{p1:.4g}, {p3:.4g}] change {cm:.4g} [{c1:.4g}, {c3:.4g}] "
              f"{r['unit']} wins {r['wins']} worse_by {r['worse_by']:+.1%} "
              f"spread {r['spread']:.1%} bound {r['bound']:.0%} -> {r['verdict']}")
    return 1 if any(r["verdict"] == "regressed" for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main())
