"""Tests for the event-log summary.

testdata/tiny_eventlog.jsonl is a Spark 4.1 event log recorded at
local[2] from one small PySpark job: spark.range(0, 1000, 2 partitions)
through a pandas UDF (x + 1), then groupBy(y % 3).count().collect().
It keeps the four event types the parser reads, without their bulky
"Properties" and RDD fields.  Job 0 ran the two-task UDF + shuffle-write
stage; job 1 ran the one-task shuffle-read stage (its map stage was
skipped).  Run with: python3 -m pytest perfbench
"""

from __future__ import annotations

from pathlib import Path

import pytest

from eventlog import read_events, summarize

TINY = Path(__file__).parent / "testdata" / "tiny_eventlog.jsonl"
JOB0_START, JOB0_END, JOB1_END = 1792192712444, 1792192715454, 1792192715884


def test_tiny_log_whole_window():
    s = summarize(read_events(str(TINY)), [(JOB0_START, JOB1_END)], n_slots=2)
    assert (s["jobs"], s["stages"], s["tasks"]) == (2, 2, 3)
    # in ms past 1792192710000 the window is [2444, 5884] and the tasks
    # ran [2659, 5404], [2680, 5419], [5645, 5868]: busy 2745 + 2739 +
    # 223, covered 2760 + 223 of 3440
    assert s["busy_s"] == pytest.approx(5.707)
    assert s["serial_s"] == pytest.approx(0.457)
    assert s["slot_utilization"] == pytest.approx(5.707 / (2 * 3.44))
    assert s["python_udf_s"] == pytest.approx(4.552)
    assert s["arrow_to_python_mb"] * 2**20 == pytest.approx(8416)
    assert s["arrow_from_python_mb"] * 2**20 == pytest.approx(8288)
    assert s["shuffle_write_mb"] * 2**20 == pytest.approx(269)
    assert s["shuffle_read_mb"] * 2**20 == pytest.approx(269)
    assert s["gc_s"] == pytest.approx(0.077)
    assert s["spill_mb"] == 0
    assert s["task_skew"] == pytest.approx(2745 / 2742)


def test_tiny_log_window_excludes_later_job():
    s = summarize(read_events(str(TINY)), [(JOB0_START, JOB0_END)], n_slots=2)
    assert (s["jobs"], s["stages"], s["tasks"]) == (1, 1, 2)
    assert s["shuffle_read_mb"] == 0
    assert s["serial_s"] == pytest.approx((3010 - 2760) / 1000)


def _task(stage, launch, finish):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {}}


def test_serial_time_is_window_minus_task_cover_per_window():
    events = [
        _task(1, 100, 300), _task(1, 200, 400),   # overlap: cover 300
        _task(2, 1100, 1150),                     # second window
        _task(3, 600, 700),                       # between windows: ignored
        _task(4, 1190, 1300),                     # clipped at window end
    ]
    s = summarize(events, [(0, 500), (1000, 1200)], n_slots=2)
    assert s["tasks"] == 4
    assert s["busy_s"] == pytest.approx((200 + 200 + 50 + 10) / 1000)
    assert s["serial_s"] == pytest.approx((700 - 300 - 60) / 1000)
    assert s["task_skew"] == pytest.approx(1.0)
