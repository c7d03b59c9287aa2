"""The event-log folding, on a real tiny job (a tagged mapInArrow over 3
partitions must fold to 3 tasks with Python-worker bytes both ways, and
an untagged job must not leak into the tag) and on a hand-written log.

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json

import pytest

from perfbench import eventlog, harness


@pytest.fixture(scope="module")
def folded():
    work = harness.WorkDir()
    spark = harness.Spark(work, 2)
    try:
        session = spark.start(event_log=True)

        def passthrough(batches):
            yield from batches

        df = session.range(0, 3000, 1, numPartitions=3)
        spark.tag("tiny:0")
        rows = df.mapInArrow(passthrough, "id long").collect()
        spark.tag(None)
        session.range(0, 10, 1, numPartitions=5).collect()  # untagged
        assert len(rows) == 3000
        session.stop()  # flushes the event log
        spark.session = None
        yield eventlog.fold(eventlog.log_files(spark.event_dir))
    finally:
        spark.stop()
        work.remove()


def test_tagged_job_tasks(folded):
    assert set(folded) == {"tiny:0"}
    m = folded["tiny:0"]
    assert m["jobs"] == 1
    assert m["tasks"] == 3
    assert m["wall_s"] > 0
    assert m["executor_run_s"] > 0


def test_tagged_job_python_bytes(folded):
    m = folded["tiny:0"]
    # 3000 int64 ids travel to the workers and back as Arrow batches
    assert m["to_python_mb"] * 1e6 >= 3000 * 8
    assert m["from_python_mb"] * 1e6 >= 3000 * 8


def test_per_op_mean(folded):
    layers, n = eventlog.per_op(folded, "tiny")
    assert n == 1
    assert layers["tasks"] == 3
    _, none = eventlog.per_op(folded, "absent")
    assert none == 0


def test_running_totals_fold_to_increases(tmp_path):
    """A data source's metric accumulator lives across queries: its Value
    in each StageCompleted is a running total, so each stage adds only
    its increase."""
    def job(jid, sid, tag, t0):
        return [
            {"Event": "SparkListenerJobStart", "Job ID": jid,
             "Submission Time": t0, "Stage IDs": [sid],
             "Properties": {"spark.job.description": tag}},
            {"Event": "SparkListenerStageCompleted", "Stage Info": {
                "Stage ID": sid, "Number of Tasks": 2,
                "Accumulables": [{"ID": 7, "Name":
                                  "data returned from Python workers",
                                  "Value": str(1_000_000 * (sid + 1))}]}},
            {"Event": "SparkListenerJobEnd", "Job ID": jid,
             "Completion Time": t0 + 500},
        ]

    events = job(0, 0, "lookup:0", 1000) + job(1, 1, "lookup:1", 2000)
    log = tmp_path / "events_1"
    log.write_text("\n".join(json.dumps(e) for e in events))
    folded = eventlog.fold(eventlog.log_files(str(tmp_path)))
    assert folded["lookup:0"]["from_python_mb"] == 1.0
    assert folded["lookup:1"]["from_python_mb"] == 1.0
    assert folded["lookup:1"]["first_submit_ms"] == 2000
    assert folded["lookup:1"]["wall_s"] == 0.5
    layers, n = eventlog.per_op(folded, "lookup")
    assert n == 2 and layers["tasks"] == 2
