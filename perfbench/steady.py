"""Steadiness mode: run each workload repeatedly, one seed per run, and
print per metric the median, the quartiles and the relative spread
(interquartile distance over the median) next to the metric's bound.

    python3 perfbench/steady.py --runs 10 --seconds 10
    python3 perfbench/steady.py --workloads repos_store --runs 5

Runs go one after another (never in parallel, so they do not disturb
each other). A metric is "steady" when its spread is below a third of
its bound; setup_s is reported but, like the bound check, judged by its
median only.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    out = json.loads(lines[-1])
    out["wall_s"] = wall
    return out


def summarize(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main(argv=None) -> int:
    b = spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in b["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=b["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    bounds = {m["name"]: m.get("bound") for m in b["end_to_end"]}
    for wl in args.workloads:
        runs = [run_once(wl, args.first_seed + i, args.seconds, args.trace)
                for i in range(args.runs)]
        names = list(runs[0]["metrics"])
        report = {"workload": wl, "runs": args.runs,
                  "wall_s": summarize([r["wall_s"] for r in runs]),
                  "all_correct": all(r["correct"] for r in runs),
                  "metrics": {}}
        for name in names:
            vals = [r["metrics"][name]["value"] for r in runs]
            s = summarize(vals)
            bound = bounds.get(name)
            s["bound"] = bound
            s["steady"] = (None if bound is None or name == "setup_s"
                           else s["spread"] < bound / 3)
            s["values"] = vals
            report["metrics"][name] = s
        print(json.dumps(report), flush=True)
        for name, s in report["metrics"].items():
            print(f"# {wl:14s} {name:22s} median {s['median']:12.4f} "
                  f"q1 {s['q1']:12.4f} q3 {s['q3']:12.4f} "
                  f"spread {s['spread']:7.4f} bound {s['bound']} "
                  f"steady {s['steady']}", file=sys.stderr, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
