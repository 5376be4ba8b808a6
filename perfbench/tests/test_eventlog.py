import json
import os

import pytest

from eventlog import reduce_event_log, sum_jobs

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


@pytest.fixture
def jobs():
    with open(FIXTURE) as f:
        return reduce_event_log(f)


def test_jobs_carry_their_span_and_task_metrics(jobs):
    assert [(j["job"], j["span"]) for j in jobs] == [(0, "1"), (1, "2"), (2, None)]
    j0 = jobs[0]
    assert j0["tasks"] == 2
    assert j0["executor_cpu_s"] == pytest.approx(3.0)
    assert j0["executor_run_s"] == pytest.approx(4.0)
    assert j0["shuffle_write_mb"] == pytest.approx(2.0)
    assert j0["submit_s"] == pytest.approx(1000.0)


def test_a_stage_shared_by_two_jobs_counts_for_the_first(jobs):
    j1 = jobs[1]
    assert j1["tasks"] == 1  # stage 0 belongs to job 0
    assert j1["shuffle_read_mb"] == pytest.approx(2.0)
    assert j1["spill_mb"] == pytest.approx(3.0)


def test_tasks_without_metrics_are_skipped(jobs):
    assert jobs[2]["tasks"] == 1
    assert jobs[2]["executor_cpu_s"] == pytest.approx(0.25)


def test_scope_stats_follow_the_stage_operators(jobs):
    assert set(jobs[0]["scopes"]) == {"Exchange", "MapInPandas", "WholeStageCodegen (1)"}
    dec = sum_jobs(jobs, scope="MapInPandas")
    assert (dec["jobs"], dec["tasks"]) == (1, 2)
    assert dec["executor_run_s"] == pytest.approx(4.0)
    assert "Scan parquet" in jobs[2]["scopes"]  # from StageSubmitted


def test_sum_jobs_totals(jobs):
    tot = sum_jobs(jobs)
    assert tot["jobs"] == 3
    assert tot["tasks"] == 4
    assert tot["executor_cpu_s"] == pytest.approx(3.75)


def test_blank_lines_are_ignored():
    lines = ["", json.dumps({"Event": "SparkListenerJobStart", "Job ID": 5,
                             "Stage IDs": [], "Properties": {}}), "  "]
    (j,) = reduce_event_log(lines)
    assert j["span"] is None and j["tasks"] == 0
