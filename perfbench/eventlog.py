"""Fold a Spark event log into per-tag layer metrics.

Each benchmark operation runs under ``sc.setJobDescription(tag)``; the
tag rides in every ``SparkListenerJobStart``'s properties. A tag's jobs
and their completed stages are summed: job wall time, task count, and the
stage accumulables Spark itself records (executor run/CPU/GC time, the
Python-worker time and bytes of mapInArrow and Python data sources,
shuffle write and fetch wait, output bytes).
"""

from __future__ import annotations

import json
import os

# layer metric name -> (accumulable name, scale to the metric's unit)
ACCUMULABLES = {
    "executor_run_s": ("internal.metrics.executorRunTime", 1e-3),
    "executor_cpu_s": ("internal.metrics.executorCpuTime", 1e-9),
    "gc_s": ("internal.metrics.jvmGCTime", 1e-3),
    "python_worker_s": ("time to run Python workers", 1e-3),
    "to_python_mb": ("data sent to Python workers", 1e-6),
    "from_python_mb": ("data returned from Python workers", 1e-6),
    "shuffle_write_mb": ("internal.metrics.shuffle.write.bytesWritten", 1e-6),
    "shuffle_fetch_wait_s": ("internal.metrics.shuffle.read.fetchWaitTime",
                             1e-3),
    "output_mb": ("internal.metrics.output.bytesWritten", 1e-6),
}
LAYER_FIELDS = ("wall_s", "tasks", *ACCUMULABLES)
UNITS = {k: "count" if k == "tasks" else "MB" if k.endswith("_mb") else "s"
         for k in LAYER_FIELDS}


def log_files(log_dir: str) -> list[str]:
    """Event files under log_dir: plain logs and rolled (v2) parts."""
    out = []
    for d, _, files in os.walk(log_dir):
        for f in files:
            if f.startswith("appstatus_") or f.endswith(".crc"):
                continue
            out.append(os.path.join(d, f))
    return sorted(out)


def _events(paths):
    for p in paths:
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def fold(paths) -> dict[str, dict]:
    """{tag: {"jobs", "first_submit_ms", "wall_s", "tasks", <ACCUMULABLES>}}
    over every job that ran under a job description."""
    job_tag: dict[int, str] = {}
    job_submit: dict[int, int] = {}
    job_end: dict[int, int] = {}
    stage_tag: dict[int, str] = {}
    stages: list[tuple[str, dict]] = []
    for e in _events(paths):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            tag = (e.get("Properties") or {}).get("spark.job.description")
            if tag is None:
                continue
            jid = e["Job ID"]
            job_tag[jid] = tag
            job_submit[jid] = e["Submission Time"]
            for sid in e.get("Stage IDs", ()):
                stage_tag.setdefault(sid, tag)
        elif kind == "SparkListenerJobEnd":
            job_end[e["Job ID"]] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            tag = stage_tag.get(info["Stage ID"])
            if tag is not None:
                stages.append((tag, info))

    out: dict[str, dict] = {}

    def entry(tag: str) -> dict:
        return out.setdefault(tag, {"jobs": 0, "first_submit_ms": None,
                                    **{k: 0.0 for k in LAYER_FIELDS}})

    for jid, tag in job_tag.items():
        m = entry(tag)
        m["jobs"] += 1
        sub = job_submit[jid]
        if m["first_submit_ms"] is None or sub < m["first_submit_ms"]:
            m["first_submit_ms"] = sub
        if jid in job_end:
            m["wall_s"] += (job_end[jid] - sub) / 1e3
    by_name = {acc: (field, scale)
               for field, (acc, scale) in ACCUMULABLES.items()}
    # an accumulator's Value is its running total; most live for one
    # stage, but a Python data source's metrics persist with the cached
    # relation across queries, so each stage adds only its increase
    last: dict[int, float] = {}
    for tag, info in stages:
        m = entry(tag)
        m["tasks"] += info.get("Number of Tasks", 0)
        for acc in info.get("Accumulables", ()):
            hit = by_name.get(acc.get("Name"))
            if hit is None:
                continue
            try:
                value = float(acc["Value"])
            except (KeyError, TypeError, ValueError):
                continue
            aid = acc.get("ID")
            m[hit[0]] += (value - last.get(aid, 0.0)) * hit[1]
            last[aid] = value
    return out


def per_op(folded: dict[str, dict], role: str) -> tuple[dict, int]:
    """Mean per operation of a role's tags ("<role>:<i>"), and the
    number of operations found."""
    tags = [t for t in folded if t.split(":", 1)[0] == role]
    totals = {k: 0.0 for k in LAYER_FIELDS}
    for t in tags:
        for k in LAYER_FIELDS:
            totals[k] += folded[t][k]
    n = len(tags)
    return ({k: v / n for k, v in totals.items()} if n else totals), n
