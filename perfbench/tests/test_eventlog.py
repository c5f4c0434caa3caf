"""Pins the event-log parser on a committed fixture (see make_fixture.py).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

FIXTURE = os.path.join(HERE, "fixture")
LOG = os.path.join(FIXTURE, "eventlog.jsonl")


@pytest.fixture(scope="module")
def run():
    with open(os.path.join(FIXTURE, "run.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def metrics(run):
    return eventlog.layer_metrics(run, LOG)


def test_every_job_lands_in_an_interval_or_is_counted(run):
    log = eventlog.parse(LOG)
    where = eventlog.Attributor(run)
    assert Counter(where(j["start"]) for j in log["jobs"].values()) == {
        "setup": 2, 0: 2, "check": 2, 1: 1, 2: 1, None: 3,
    }


def test_counts(metrics):
    assert metrics["spark.jobs"] == 4
    assert metrics["spark.stages"] == 5
    assert metrics["spark.tasks"] == 9
    assert metrics["spark.unattributed_jobs"] == 3


def test_python_worker_time_and_bytes(metrics):
    assert metrics["operators.py_worker_s"] == pytest.approx(4.663)
    assert metrics["operators.py_sent_mb"] == pytest.approx(8608 / 2**20)
    assert metrics["streaming.py_worker_s"] == 0


def test_streaming_progress_is_attributed(metrics):
    assert metrics["streaming.batches"] == 1
    assert metrics["streaming.state_rows"] == 5


def test_task_sums(metrics):
    assert metrics["spark.exec_run_s"] == pytest.approx(7.729)
    assert metrics["spark.exec_cpu_s"] == pytest.approx(1.27350094)
    assert metrics["spark.shuffle_read_mb"] == metrics["spark.shuffle_write_mb"] > 0
    assert metrics["catalog.input_mb"] > 0


def test_driver_gap_is_op_time_outside_jobs(run, metrics):
    wall = sum(o["t1"] - o["t0"] for o in run["ops"])
    assert metrics["trace.wall_s"] == pytest.approx(wall)
    assert 0 < metrics["spark.driver_gap_s"] < wall


def test_union_clips_and_merges():
    assert eventlog.union_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert eventlog.union_s([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert eventlog.union_s([(4, 3)], 0, 10) == 0
    assert eventlog.union_s([], 0, 10) == 0


def test_rolling_parts_read_in_order(tmp_path):
    for name in ("events_10_app", "events_2_app", "appstatus_app", ".events_2_app.crc"):
        (tmp_path / name).write_text("")
    assert [os.path.basename(p) for p in eventlog.event_files(str(tmp_path))] == [
        "events_2_app", "events_10_app",
    ]
