"""Paired A/B comparison of two zolo_spark checkouts.

    python3 perfbench/compare.py --parent ../parent --change . \
        [--workloads interactive_sql,etl_tx]

Both sides run THIS copy of the benchmark (``perfbench/run.py`` next to
this file) with the same settings; only the program under test differs
(each run's working directory is its side's checkout). There are 10
pairs per workload; pair ``k`` uses seed ``1000 + k`` on both sides and
alternates which side goes first.

For every workload and end-to-end metric it prints each side's median
and quartiles, the share of pairs the change won (ties count for
neither), the change/parent ratio of medians, and a verdict against
the metric's bound from ``BENCHMARK.json``:

* ``improved``: the change won at least 9 of 10 pairs and the medians
  differ by more than the parent's own quartile spread;
* ``regressed``: the change's median is worse by more than the bound;
* ``unresolved``: the parent's spread is wider than the bound;
* ``same`` otherwise. ``--json`` writes every run's figures as well.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PAIRS = 10
SEED0 = 1000


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                       timeout=600)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout}: {workload} seed {seed} exited "
                           f"{r.returncode}: {r.stderr[-400:]}")
    out = json.loads(lines[-1])
    if not out["correct"]:
        raise RuntimeError(f"{checkout}: {workload} seed {seed} failed its "
                           f"output checks: {r.stderr[-400:]}")
    return {k: v["value"] for k, v in out["metrics"].items()}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def verdict(parent: list[float], change: list[float], better: str,
            bound: float) -> dict:
    lower = better == "lower"
    wins = sum((c < p) if lower else (c > p) for p, c in zip(parent, change))
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    worse = (cm - pm) / pm if lower else (pm - cm) / pm
    spread = (p3 - p1) / pm if pm else float("inf")
    if wins >= 0.9 * len(parent) and abs(cm - pm) > p3 - p1:
        v = "improved"
    elif worse > bound:
        v = "regressed"
    elif spread > bound:
        v = "unresolved"
    else:
        v = "same"
    return {"parent": [p1, pm, p3], "change": [c1, cm, c3],
            "won": wins / len(parent), "ratio": cm / pm if pm else None,
            "bound": bound, "verdict": v}


def main() -> None:
    ap = argparse.ArgumentParser(description="paired A/B benchmark comparison")
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--json", default=None, help="write all figures here")
    args = ap.parse_args()

    spec = _spec()
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec["workloads"]])
    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    runs: dict = {w: {"parent": [], "change": []} for w in workloads}
    for w in workloads:
        for k in range(PAIRS):
            order = ["parent", "change"] if k % 2 == 0 else ["change", "parent"]
            for side in order:
                runs[w][side].append(run_once(sides[side], w, SEED0 + k,
                                              spec["run_seconds"]))
                print(f"{w} pair {k} {side} done", file=sys.stderr)

    report = {}
    for w in workloads:
        report[w] = {}
        for m in spec["end_to_end"]:
            name = m["name"]
            p = [r[name] for r in runs[w]["parent"]]
            c = [r[name] for r in runs[w]["change"]]
            report[w][name] = verdict(p, c, m["better"], m["bound"])
            v = report[w][name]
            print(f"{w:16} {name:12} parent {v['parent'][1]:.4g} "
                  f"[{v['parent'][0]:.4g}, {v['parent'][2]:.4g}]  change "
                  f"{v['change'][1]:.4g} [{v['change'][0]:.4g}, "
                  f"{v['change'][2]:.4g}]  won {v['won']:.0%}  "
                  f"ratio {v['ratio']:.3f}  bound {v['bound']}  {v['verdict']}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"report": report, "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
