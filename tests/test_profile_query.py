"""tools/profile_query.py builds its per-query records with
perfbench/eventlog.py's parser. Pin that caller on the parser's
committed fixture (an event log plus the run that produced it), so an
API drift between the two fails here.

No Spark session needed — the fixture is read, not regenerated.
"""

import json
import os
import sys

import pytest

REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.join(REPO, "tools"))
sys.path.insert(0, REPO)

from perfbench.eventlog import layer_metrics  # noqa: E402
from profile_query import query_records  # noqa: E402

FIXTURE = os.path.join(REPO, "perfbench", "tests", "fixture")
LOG = os.path.join(FIXTURE, "eventlog.jsonl")


@pytest.fixture(scope="module")
def run():
    with open(os.path.join(FIXTURE, "run.json")) as f:
        return json.load(f)


def test_records_sum_to_the_run_totals(run):
    records = query_records(run, LOG)
    assert list(records) == [op["name"] for op in run["ops"]]
    totals = layer_metrics(run, LOG)
    for field, metric in (("jobs", "spark.jobs"), ("tasks", "spark.tasks"),
                          ("py_worker_s", "operators.py_worker_s")):
        assert sum(r[field] for r in records.values()) == pytest.approx(
            totals[metric]
        ), field
    assert totals["spark.jobs"] > 0 and totals["operators.py_worker_s"] > 0


def test_set_aside_and_setup_work_is_not_billed(run):
    """The fixture's first op has two jobs in its own interval and two
    in its set-aside check interval; the set-up interval holds two
    more. Only the op's own two count."""
    records = query_records(run, LOG)
    assert {n: r["jobs"] for n, r in records.items()} == {
        "aggregate": 2, "python": 1, "stream": 1,
    }
    for op in run["ops"]:
        assert records[op["name"]]["wall_s"] == pytest.approx(op["t1"] - op["t0"])
