"""Benchmark of the colcodec engine, one workload per run.

    python3 perfbench/run.py --workload repos_store --seed 1 --seconds 30 --trace 0

Run from the checkout root. Every input is generated from --seed; nothing
is read from outside the checkout. The run launches the engine once,
sets up SETUP_REPS times (setup_s = launch + the median set-up), then
runs the workload's closed loop (one client) for --seconds and checks
every result.

stdout carries two JSON lines: an "info" line (environment, set-up
parts, per-kind latency medians and tails with their sample counts,
failed_frac, and in a traced run the untraced and traced end-to-end
values side by side), then the result line
``{"correct", "attempted", "failed", "metrics"}``. With --trace 0 the
metrics are the end-to-end ones (E2E); with --trace 1 the loop is split
into an untraced and a traced half, and the metrics are the per-layer
ones (per_layer_names()). A layer a workload does not run reports 0.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402
from perfbench.workload import SETUP_REPS  # noqa: E402

# name -> (unit, better, bound)
E2E = {
    "setup_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.1),
    "write_mb_s": ("MB/s", "higher", 0.25),
    "scan_mb_s": ("MB/s", "higher", 0.25),
    "stored_per_raw": ("ratio", "lower", 0.1),
    "read_p50_ms": ("ms", "lower", 0.25),
}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric with its unit."""
    from perfbench import eventlog, probe, repos

    out = {f"spark.{role}.{k}": eventlog.UNITS[k]
           for role in repos.SPARK_ROLES for k in eventlog.LAYER_FIELDS}
    out.update({"lookup.driver_plan_ms": "ms", "lookup.chunks_total": "count",
                "lookup.candidate_chunks": "count"})
    for c in repos.REPO_COLS:
        out[f"codecs.selector.select_ms.{c}"] = "ms"
        out[f"codecs.selector.select_warm_ms.{c}"] = "ms"
        out[f"codecs.selector.winner.{c}"] = "id"
        out[f"codecs.chunk.decode_mb_s.{c}"] = "MB/s"
    out.update({"codecs.fsst.train_ms": "ms", "codecs.bloom.build_ms": "ms"})
    for c in probe.COLUMNS:
        out[f"interop.pqwriter.write_mb_s.{c}"] = "MB/s"
    out.update({
        "interop.pqreader.read_schema_ms": "ms",
        "interop.pqreader.footer_aggregates_ms": "ms",
        "interop.pqbloom.read_blooms_ms": "ms",
        "interop.pqreader.probe_read_bytes": "bytes",
        "interop.pyarrow.probe_ms": "ms",
        "trace.overhead_pct": "%",
    })
    return out


def workloads() -> dict:
    from perfbench.probe import Probe
    from perfbench.repos import ReposStore

    return {w.name: w for w in (ReposStore, Probe)}


# the end-to-end metric a workload's tracing overhead is read from
PRIMARY = {"repos_store": "read_p50_ms", "probe_parquet": "read_p50_ms"}


def environment() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"cpus": harness.cpus(), "spark_master":
            f"local[{harness.spark_cpus()}]", "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
            "python": sys.version.split()[0],
            "kernel_path": harness.kernel_path()}


def latencies(samples: dict[str, list[float]]) -> dict:
    out = {}
    for kind, xs in samples.items():
        t = harness.tail(xs)
        out[kind] = {"n": len(xs), "p50_ms": harness.median(xs) * 1e3,
                     "tail_pct": t[0] if t else None,
                     "tail_ms": t[1] * 1e3 if t else None,
                     "samples_ms": [round(x * 1e3, 3) for x in xs]}
    return out


def overhead_pct(metric: str, untraced: float, traced: float) -> float:
    """Extra cost of tracing, in percent of the untraced value."""
    ratio = (traced / untraced if E2E[metric][1] == "lower"
             else untraced / traced)
    return (ratio - 1) * 100


def run(name: str, seed: int, seconds: float, trace: bool) -> dict:
    work = harness.WorkDir()
    rss = harness.RssPoller().start()
    wl = workloads()[name](seed, work)
    info: dict = {"workload": name, "seed": seed, "seconds": seconds,
                  "trace": int(trace)}
    try:
        t0 = time.perf_counter()
        wl.launch()
        launch_s = time.perf_counter() - t0
        info["env"] = environment()
        reps = []
        for r in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(r)
            reps.append(time.perf_counter() - t0)
        info["setup"] = {"launch_s": launch_s, "reps_s": reps}
        setup_s = launch_s + harness.median(reps)
        loop_s = seconds / 2 if trace else seconds
        untraced = wl.measure(loop_s, traced=False)
        info["latency"] = latencies(wl.loop.samples)
        layers = {}
        if trace:
            wl.start_trace()
            traced = wl.measure(loop_s, traced=True)
            layers = wl.layers()
            info["untraced"], info["traced"] = untraced, traced
            info["trace_overhead_pct"] = {
                k: overhead_pct(k, untraced[k], traced[k]) for k in untraced}
            p = PRIMARY[name]
            layers["trace.overhead_pct"] = (
                overhead_pct(p, untraced[p], traced[p]), "%")
    finally:
        wl.close()
        rss.stop()
        work.remove()
    info["peak_rss_mb"] = {"python": rss.peak_mb, "other": rss.other_peak_mb}
    info["attempted"], info["failed"] = wl.attempted, wl.failed
    info["failed_frac"] = wl.failed / max(wl.attempted, 1)
    if trace:
        names = per_layer_names()
        unknown = set(layers) - set(names)
        if unknown:
            raise RuntimeError(f"unlisted per-layer metrics {sorted(unknown)}")
        metrics = {k: {"value": layers.get(k, (0, u))[0], "unit": u}
                   for k, u in names.items()}
    else:
        values = {**untraced, "setup_s": setup_s, "peak_rss_mb": rss.peak_mb}
        metrics = {k: {"value": values[k], "unit": E2E[k][0]} for k in E2E}
    finite = all(math.isfinite(m["value"]) for m in metrics.values())
    return {"info": info, "result": {
        "correct": wl.failed == 0 and wl.attempted > 0 and finite,
        "attempted": wl.attempted, "failed": wl.failed, "metrics": metrics}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(PRIMARY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(harness.ROOT, "parquet_go_spark",
                                       "__init__.py")):
        print("perfbench: the parquet_go_spark package is not in this "
              "checkout; nothing to measure", file=sys.stderr)
        return 2
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"info": out["info"]}, default=float))
    print(json.dumps(out["result"], default=float))
    return 0


if __name__ == "__main__":
    sys.exit(main())
