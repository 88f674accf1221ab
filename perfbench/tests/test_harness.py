import os
import shutil
import subprocess
import sys

from perfbench import harness
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class FakeWorkload:
    """Jobs return their index; the check compares against ``expected``."""

    def __init__(self, expected, fail_on=()):
        self.expected = expected
        self.fail_on = fail_on

    def run_job(self, job):
        if job in self.fail_on:
            raise RuntimeError("job blew up")
        return job

    def check(self, job, out):
        return [] if out == self.expected[job] else [f"{out} != {self.expected[job]}"]

    def digest(self, out):
        return harness.sha([out])

    def input_rows(self, job):
        return 10


def test_loop_counts_no_failure_when_outputs_match():
    loop = harness.timed_loop(FakeWorkload({0: 0}), Tracer(None, False), 0)
    assert (len(loop.latencies), loop.failed, loop.rows) == (1, 0, 10)


def test_wrong_expectation_makes_failed_ratio_non_zero(capsys):
    loop = harness.timed_loop(FakeWorkload({0: 1}), Tracer(None, False), 0)
    assert loop.failed == 1 and len(loop.latencies) == 1
    assert "check failed" in capsys.readouterr().err


def test_a_job_that_raises_is_counted_not_fatal(capsys):
    loop = harness.timed_loop(FakeWorkload({0: 0}, fail_on={0}), Tracer(None, False), 0)
    assert loop.failed == 1 and loop.digests == []
    assert "job blew up" in capsys.readouterr().err


def test_loop_runs_until_seconds_pass():
    loop = harness.timed_loop(FakeWorkload({i: i for i in range(10**6)}), Tracer(None, False), 0.05)
    assert len(loop.latencies) > 1 and loop.failed == 0


def test_review_rows_counts_data_rows_only(tmp_path):
    from hiv_data_integration_spark.io.excel import write_xlsx_cells, write_xlsx_workbook

    from perfbench.pnls_monthly import review_rows

    template = str(tmp_path / "t.xlsx")
    out = str(tmp_path / "o.xlsx")
    write_xlsx_workbook(template, {"IST": [["title"]] + [[None]] * 4, "PEC": [["title"]]})
    write_xlsx_cells(template, "IST", out, [["f1", 1.0], ["f2", 2.0], ["f3", None]], start_row=6)
    assert review_rows(out, 6) == 3


def test_consistent_template_fires_no_rule():
    import random

    from hiv_data_integration_spark import ref_constants as rc
    from hiv_data_integration_spark.operators.rules import evaluate_rules_python

    from perfbench.pnls_monthly import consistent_template

    for p in ("IST", "PEC", "PTME"):
        template = consistent_template(p, random.Random(7))
        cols = ["organisation_unit_id", "period"] + rc.expected_value_columns(p)
        row = dict(template, organisation_unit_id="x", period="202401")
        colors = evaluate_rules_python([row], cols, rc.rules_for(p), cols[:2])[0]
        assert not any(colors.values()), p


def test_exits_non_zero_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pnls_monthly",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
