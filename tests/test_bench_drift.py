"""bench.py self-labeling: the floor parser and the drift flag.

The round-8 lesson: the driver's bench artifact read 1.31x median floors
on UNCHANGED code (hot box) and nothing in the JSON distinguished it from
a real regression. bench.py now embeds per-query run spread, loadavg, and
a drift_suspect flag computed against BASELINE.md's quiet floors — these
tests pin the parser and the flag's threshold semantics.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_load_floors_parses_baseline_tables():
    floors = bench.load_floors()
    # BASELINE.md carries a floor for (nearly) every battery entry
    assert len(floors) >= 300
    assert all(v > 0 for v in floors.values())
    # spot-check two entries whose floors the round-8 verdict cites
    assert "dedup_minhash_eval" in floors
    assert "scd2_customer_history" in floors


def test_load_floors_missing_file_is_empty():
    assert bench.load_floors("/nonexistent/BASELINE.md") == {}


def test_load_floors_from_synthetic_table(tmp_path):
    p = tmp_path / "B.md"
    p.write_text(
        "prose\n"
        "| query | floor (s) | notes |\n"
        "|---|---|---|\n"
        "| q_a | 1.5 | note |\n"
        "| q_b | 0.25 | note |\n"
        "| not_a_float | x | skipped |\n"
        "\n"
        "more prose\n"
        "| query | floor (s) | notes |\n"
        "|---|---|---|\n"
        "| q_c | 2.0 | second table |\n"
    )
    assert bench.load_floors(str(p)) == {"q_a": 1.5, "q_b": 0.25, "q_c": 2.0}


def test_floor_comparison_only_at_baseline_sf():
    assert bench.full_sf_is_baseline("0.1")
    assert not bench.full_sf_is_baseline("0.01")
    assert not bench.full_sf_is_baseline("0.001")


def test_drift_threshold_is_battery_scale():
    # the flag must not fire on a localized regression (a few queries)
    # and must fire on battery-wide inflation
    assert 3 < bench.DRIFT_SUSPECT_MIN_EXCEEDANCES <= 30
