"""The event-log parser on a small recorded log (one crawl wave plus a
set-up job, trimmed to the fields the parser reads)."""

import os

import pytest

from perfbench import eventlog as E

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log():
    return E.read(LOG)


def test_jobs_are_grouped_by_job_group(log):
    assert E.jobs_per_group(log, "") == {"setup": 1, "wave-0": 31, "wave-1": 3}
    assert E.jobs_per_group(log, "wave-") == {"wave-0": 31, "wave-1": 3}


def test_summary_totals(log):
    lo = min(j.start_ms for j in log.jobs.values())
    hi = max(j.end_ms for j in log.jobs.values())
    s = E.summary(log, lo, hi, cores=4)
    assert s["spark.jobs"] == 35
    assert s["spark.stages"] == 35
    assert s["spark.tasks"] == 73
    assert s["spark.jobs_per_wave"] == 17.0
    assert s["spark.executor_run_s"] == pytest.approx(3.298)
    assert s["spark.gc_s"] == pytest.approx(0.2)
    assert s["spark.shuffle_write_bytes"] == 323352
    assert s["spark.shuffle_read_bytes"] == 377349
    assert s["spark.spill_bytes"] == 0
    assert s["spark.python_run_s"] == pytest.approx(0.4)
    assert s["spark.window_run_s"] == pytest.approx(0.889)
    assert 0 < s["spark.driver_gap_s"] < (hi - lo) / 1e3
    assert s["spark.core_busy_ratio"] == pytest.approx(3.298 / ((hi - lo) / 1e3 * 4))


def test_python_stages_are_recognised_by_scope(log):
    py = [s for s in log.stages.values() if s.python]
    assert {s.operator for s in py} >= {"MapInPandas+Scan parquet"}
    assert all(any(n in E.PYTHON_SCOPES for n in s.scopes) for s in py)


def test_window_clipping_drops_jobs_outside(log):
    wave0 = [j for j in log.jobs.values() if j.group == "wave-0"]
    lo, hi = min(j.start_ms for j in wave0), max(j.end_ms for j in wave0)
    s = E.summary(log, lo, hi, cores=4)
    assert s["spark.jobs"] == 31


def test_busy_ms_merges_overlapping_jobs():
    jobs = [E.Job(0, "g", 0, 10), E.Job(1, "g", 5, 20), E.Job(2, "g", 30, 40), E.Job(3, "g", 50, None)]
    assert E.busy_ms(jobs, 0, 100) == 30
    assert E.busy_ms(jobs, 8, 35) == 17


def test_report_lists_groups_operators_and_gap(log):
    text = E.report(log)
    assert "== per group ==" in text and "wave-0" in text
    assert "== per operator ==" in text and "MapInPandas" in text
    assert "driver gap" in text
