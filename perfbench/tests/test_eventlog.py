"""Event-log parser, checked against a small canned log.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import eventlog  # noqa: E402


@pytest.fixture(scope="module")
def tags():
    with open(HERE / "canned_eventlog.jsonl", encoding="utf-8") as f:
        return eventlog.parse_lines(f)


def test_jobs_stages_tasks_per_tag(tags):
    assert set(tags) == {eventlog.UNTAGGED, "cold:q1", "warm1:q1"}
    cold = tags["cold:q1"]
    assert cold["jobs"] == 2
    assert cold["stages"] == {1, 2, 3}
    assert cold["tasks"] == 4
    assert cold["intervals"] == [(1001.0, 1003.0), (1002.5, 1004.0)]
    assert tags["warm1:q1"]["jobs"] == 1
    assert tags[eventlog.UNTAGGED]["tasks"] == 1


def test_task_metrics_in_base_units(tags):
    cold = tags["cold:q1"]
    assert cold["run_s"] == pytest.approx(2.5)
    assert cold["cpu_s"] == pytest.approx(0.92)
    assert cold["gc_s"] == pytest.approx(0.01)
    assert cold["deser_s"] == pytest.approx(0.005)
    assert cold["shuffle_write_mb"] == pytest.approx(2.0)
    assert cold["shuffle_read_mb"] == pytest.approx(2.0)
    assert cold["fetch_wait_s"] == pytest.approx(0.007)
    assert cold["spill_mb"] == pytest.approx(2.0)
    assert cold["result_mb"] == pytest.approx(1.00390625)


def test_sql_metrics_summed_from_updates(tags):
    cold = tags["cold:q1"]
    # the second task's "Value" is the running total; only updates add up
    assert cold["scan_time_s"] == pytest.approx(0.1)
    assert cold["agg_build_s"] == pytest.approx(0.03)
    assert cold["sort_time_s"] == pytest.approx(0.25)
    # task-side hash-map build plus the broadcast build the driver reports
    assert cold["join_build_s"] == pytest.approx(0.2)
    assert cold["py_start_s"] == pytest.approx(0.5)
    assert cold["py_init_s"] == 0.0
    assert cold["py_run_s"] == pytest.approx(1.5)
    assert cold["py_sent_mb"] == pytest.approx(3.0)
    assert cold["py_returned_mb"] == pytest.approx(1.0)


def test_driver_metrics_follow_the_execution_to_its_tag(tags):
    # posted before the execution's first job started
    assert tags["cold:q1"]["scan_mb"] == pytest.approx(4.0)
    assert tags[eventlog.UNTAGGED]["scan_mb"] == 0.0


def test_union_of_overlapping_job_intervals(tags):
    assert eventlog.union_seconds(tags["cold:q1"]["intervals"]) == pytest.approx(3.0)
    assert eventlog.union_seconds([(0, 1), (2, 3), (2.5, 2.7)]) == pytest.approx(2.0)
    assert eventlog.union_seconds([]) == 0.0
