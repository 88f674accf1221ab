import os

import pytest

from perfbench import eventlog
from perfbench.trace import is_timed

FIXTURE = os.path.join(os.path.dirname(__file__), "data", "eventlog_tiny.jsonl")


@pytest.fixture
def parsed():
    with open(FIXTURE) as fh:
        return eventlog.parse_event_log(fh, keep=is_timed)


def test_sums_task_metrics_per_job_group(parsed):
    extract = parsed["groups"]["pipeline.extract.build"]
    assert extract["jobs"] == 1 and extract["stages"] == 1 and extract["tasks"] == 2
    assert extract["task_run_s"] == pytest.approx(1.0)
    assert extract["task_cpu_s"] == pytest.approx(0.8)
    assert extract["gc_s"] == pytest.approx(0.01)
    assert extract["shuffle_write_mb"] == pytest.approx(3.0)
    assert extract["exec_wall_s"] == pytest.approx(1.0)

    csv = parsed["groups"]["io.sinks.csv"]
    assert csv["jobs"] == 1 and csv["stages"] == 1 and csv["tasks"] == 1
    assert csv["shuffle_read_mb"] == pytest.approx(3.0)
    assert csv["spill_mb"] == pytest.approx(6.0)
    assert csv["exec_wall_s"] == pytest.approx(1.5)


def test_skipped_stage_stays_with_the_job_that_ran_it(parsed):
    # job 2 lists stage 1 again; its tasks belong to job 1's group only
    assert parsed["groups"]["io.sinks.csv"]["task_run_s"] == pytest.approx(1.0)


def test_untimed_jobs_are_dropped(parsed):
    assert set(parsed["jobs"]) == {1, 2}
    assert parsed["jobs"][1]["props"]["perfbench.kind"] == "build"


def test_totals_and_parallelism(parsed):
    tot = eventlog.totals(parsed)
    assert tot["jobs"] == 2 and tot["tasks"] == 3
    assert tot["task_run_s"] == pytest.approx(2.0)
    # jobs ran over [10, 11] and [10.5, 12]: 2 s of wall, not 2.5
    assert tot["exec_wall_s"] == pytest.approx(2.0)
    assert tot["parallelism"] == pytest.approx(1.0)


def test_keep_decides_which_jobs_count():
    with open(FIXTURE) as fh:
        parsed = eventlog.parse_event_log(fh, keep=lambda props: True)
    assert eventlog.totals(parsed)["jobs"] == 4
