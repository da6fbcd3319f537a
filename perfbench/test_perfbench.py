"""Tests of the benchmark itself: the event-log parser on a captured
log, and the output checks (a falsified expected answer must fail the
run).

    python -m pytest perfbench -q

``testdata/eventlog_small.jsonl`` is an uncompressed Spark 4.1 event
log of a local[2] session, trimmed of fields the parser does not read
(plan text, environment, accumulables). It holds four jobs: two under
job group ``span-1`` (a grouped count; its second job skips the map
stage), one under ``span-2`` (a pandas UDF, so an ArrowEvalPython
stage), and one Structured Streaming batch whose job group is the
query's run id, submitted while span ``span-3`` was open.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402

LOG = os.path.join(HERE, "testdata", "eventlog_small.jsonl")
STREAM_RUN_ID = "0fa953b6-58f4-4d25-a53f-96e751b1e421"


def _spans():
    # epoch seconds; span-3 covers the streaming job's submission
    return [
        {"id": "span-1", "start": 1792204992.0, "end": 1792204993.9},
        {"id": "span-2", "start": 1792204994.0, "end": 1792204995.5},
        {"id": "span-3", "start": 1792204995.6, "end": 1792204997.0},
    ]


def test_eventlog_counts_and_attribution():
    log = eventlog.parse(LOG)
    assert sorted(log.jobs) == [0, 1, 2, 3]
    assert len(log.tasks) == 8
    assert log.jobs[3].group == STREAM_RUN_ID

    eventlog.attribute(log, _spans())
    assert {j: log.jobs[j].span for j in log.jobs} == {
        0: "span-1", 1: "span-1", 2: "span-2", 3: "span-3"}

    s1 = eventlog.totals(log, {"span-1"})
    assert (s1["jobs"], s1["stages"], s1["tasks"]) == (2, 2, 3)
    assert s1["python_udf_s"] == 0.0
    s2 = eventlog.totals(log, {"span-2"})
    assert (s2["jobs"], s2["stages"], s2["tasks"]) == (1, 1, 2)
    assert s2["python_udf_s"] == pytest.approx((1047 + 1073) / 1000.0)
    s3 = eventlog.totals(log, {"span-3"})
    assert (s3["jobs"], s3["stages"], s3["tasks"]) == (1, 2, 3)
    everything = eventlog.totals(log)
    assert (everything["jobs"], everything["tasks"]) == (4, 8)
    assert everything["task_retry_frac"] == 0.0

    assert log.sql_groups[0] == "span-1" and log.sql_groups[3] == STREAM_RUN_ID
    assert log.aqe_updates == {0: 3}
    assert len(log.progress) == 1
    assert log.progress[0]["sources"][0]["numInputRows"] == 2


def test_union_counts_overlap_once():
    assert eventlog.union_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert eventlog.union_s([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert eventlog.union_s([], 0, 1) == 0


@pytest.mark.parametrize("workload", ["social_ops", "relational_scan"])
def test_wrong_expected_answer_fails_the_run(workload):
    """``--corrupt`` falsifies one expected answer (a model row for
    social_ops, an oracle row for the query workloads): the run must
    report failed operations and exit non-zero."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "0", "--corrupt"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=180,
    )
    assert out.returncode == 1, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert 0 < result["failed"] <= result["attempted"]
