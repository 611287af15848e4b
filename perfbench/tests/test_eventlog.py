"""The event-log fold on a small recorded log.

``data/eventlog`` holds one application's log from Spark 4.1, trimmed to
the fields the fold reads and split into two rolling parts
(``events_1_*``, ``events_2_*``). Job 0's group property was removed, so
its stage must be skipped. Expected values were summed from the log by
hand-written code independent of the fold.
"""

from pathlib import Path

import pytest

import eventlog

LOG = Path(__file__).parent / "data" / "eventlog"


def test_rolling_parts_in_index_order():
    names = [p.name.split("_")[1] for p in eventlog.event_files(LOG)]
    assert names == ["1", "2"]


def test_groups_and_jobs():
    groups = eventlog.fold_dir(LOG)
    assert set(groups) == {"corpus", "docs", "signatures"}
    assert {g: s.jobs for g, s in groups.items()} == {"corpus": 2, "docs": 3, "signatures": 5}
    assert {g: s.tasks for g, s in groups.items()} == {"corpus": 5, "docs": 9, "signatures": 14}


def test_python_worker_accumulables():
    groups = eventlog.fold_dir(LOG)
    sig = groups["signatures"].measures()
    assert sig["py_bytes"] == 374080 + 118064
    assert sig["py_worker_s"] == pytest.approx(1.191)
    docs = groups["docs"].measures()
    assert docs["py_bytes"] == 542112 + 453552
    assert docs["py_worker_s"] == pytest.approx(1.123)
    assert groups["corpus"].measures()["py_bytes"] == 0


def test_task_metrics():
    sig = eventlog.fold_dir(LOG)["signatures"].measures()
    assert sig["task_cpu_s"] == pytest.approx(0.250310736)
    assert sig["gc_s"] == pytest.approx(0.124)
    assert sig["shuffle_bytes"] == 2 * 19293
    assert sig["spill_bytes"] == 0
    # task walls 12..404 ms, median of 14 = (169 + 170) / 2
    assert sig["task_skew"] == pytest.approx(404 / 169.5)


def test_stage_claimed_by_first_job_only():
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2, 3], "Properties": {"spark.jobGroup.id": "b"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Info": {"Launch Time": 0, "Finish Time": 5}, "Task Metrics": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Info": {"Launch Time": 0, "Finish Time": 7}, "Task Metrics": {}},
    ]
    groups = eventlog.fold(events)
    assert groups["a"].task_ms == [5]
    assert groups["b"].task_ms == [7]
    assert groups["a"].jobs == groups["b"].jobs == 1
