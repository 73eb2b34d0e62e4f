"""Event-log reader against a tiny recorded Spark 4.1.2 log
(fixtures/tiny_eventlog.jsonl, made by record_fixture.py).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os

import pytest

from eventlog import PY_RUN, PY_SENT, _union_s, group_counters, read_event_log

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "tiny_eventlog.jsonl")


@pytest.fixture(scope="module")
def log():
    return read_event_log(FIXTURE)


def test_every_job_and_stage_maps_to_its_group(log):
    jobs, stages, _ = log
    assert [(j["job"], j["group"]) for j in jobs] == [
        (0, "turtle.parse#0"),
        (1, "turtle.parse#0"),
        (2, "turtle.parse#0"),
        (3, "plain#0"),
        (4, "plain#0"),
        (5, "plain#0"),
    ]
    assert len(stages) == 6
    assert {s["group"] for s in stages} == {"turtle.parse#0", "plain#0"}
    assert all(s["tasks"] >= 1 and s["wall_s"] > 0 for s in stages)


def test_python_worker_metrics_only_on_the_udf_group(log):
    _, _, sql = log
    py = {(m["group"], m["name"]): m["value"] for m in sql if m["name"] in (PY_RUN, PY_SENT)}
    assert py == {("turtle.parse#0", PY_RUN): 2364.0, ("turtle.parse#0", PY_SENT): 1936.0}


def test_group_counters(log):
    c = group_counters(*log)
    parse, plain = c["turtle.parse#0"], c["plain#0"]
    assert parse["jobs"] == plain["jobs"] == 3
    assert parse["python_worker_s"] == pytest.approx(2.364)
    assert parse["python_bytes_sent"] == 1936
    assert plain["python_worker_s"] == 0 and plain["python_bytes_sent"] == 0
    assert parse["jobs_s"] == pytest.approx(1.718, abs=1e-6)
    assert plain["jobs_s"] == pytest.approx(0.076, abs=1e-6)
    # every shuffle written inside a group is read back inside it
    assert parse["shuffle_bytes"] == parse["shuffle_read_bytes"] == 1087
    assert plain["shuffle_bytes"] == plain["shuffle_read_bytes"] == 330
    assert parse["executor_run_s"] == pytest.approx(2.87)
    assert parse["spill_bytes"] == plain["spill_bytes"] == 0
    assert parse["task_skew"] >= 1 and plain["task_skew"] >= 1


def test_union_of_overlapping_intervals():
    assert _union_s([]) == 0
    assert _union_s([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)
