"""Property tests: rule compiler vs the row-wise Python oracle
(faithful reimplementation of the reference evaluator,
update_pnls_report/utils.py:300-315)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hiv_data_integration_spark.operators.rules import (
    Rule,
    apply_rules,
    col_letter,
    compile_formula,
    default_letter_binding,
    evaluate_rules_python,
    letter_index,
    split_by_consistency,
)

KEY_COLS = ["organisation_unit_id", "period"]
DATA_COLS = ["ind_1", "ind_2", "ind_3", "ind_4"]
COLUMNS = KEY_COLS + DATA_COLS

# Letters: ou→C, period→D, ind_1→E, ind_2→F, ind_3→G, ind_4→H (offset +3,
# update_pnls_report/utils.py:165-171)
RULES = {
    "r1": Rule("E<F", "FF0000", 2),
    "r2": Rule("G>(E+F)", "FFA500", 1),
    "r3": Rule("E!=F+G", "FFFF00", 3),
    "r4": Rule("H>=10", "00FF00", 2),
    "r5": Rule("(E+H)<=F", "0000FF", 2),
    # key-only (D = period): fires on every row but colors no data cell,
    # so it must never flag a row
    "rk": Rule("D>=0", "000000", 9),
}


def test_letter_round_trip():
    for i in range(1, 200):
        assert letter_index(col_letter(i)) == i
    assert col_letter(1) == "A" and col_letter(27) == "AA"


def test_binding_offset_matches_reference():
    binding = default_letter_binding(COLUMNS)
    # first data column (df index 2) must answer to sheet letter E
    assert binding["E"] == "ind_1"
    assert binding["C"] == "organisation_unit_id"


def test_formula_parse_errors():
    binding = default_letter_binding(COLUMNS)
    with pytest.raises(ValueError):
        compile_formula("E+F", binding)  # not a comparison
    with pytest.raises(KeyError):
        compile_formula("ZZ<E", binding)  # unbound letter
    with pytest.raises(ValueError):
        compile_formula("E<(F", binding)  # unbalanced parens


values = st.one_of(st.none(), st.integers(min_value=-20, max_value=20))


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(values, values, values, values), min_size=1, max_size=12
    )
)
def test_compiled_rules_match_python_oracle(spark, rows):
    data = [
        {
            "organisation_unit_id": f"ou{i}",
            "period": "202401",
            "ind_1": a,
            "ind_2": b,
            "ind_3": c,
            "ind_4": d,
        }
        for i, (a, b, c, d) in enumerate(rows)
    ]
    sdf = spark.createDataFrame(
        [tuple(d[c] for c in COLUMNS) for d in data],
        schema="organisation_unit_id string, period string, "
        "ind_1 long, ind_2 long, ind_3 long, ind_4 long",
    )
    annotated = {
        r["organisation_unit_id"]: r
        for r in apply_rules(sdf, RULES, KEY_COLS).collect()
    }
    oracle = evaluate_rules_python(data, COLUMNS, RULES, KEY_COLS)
    for d, colors in zip(data, oracle):
        got = annotated[d["organisation_unit_id"]]
        for c in DATA_COLS:
            assert got[f"{c}__color"] == colors[c], (d, c, colors)
        assert got["is_consistent"] == all(v is None for v in colors.values())


def test_split_by_consistency_routing(spark):
    sdf = spark.createDataFrame(
        [("ou1", "202401", 1, 5, 2, 0), ("ou2", "202401", 7, 5, 2, 0)],
        schema="organisation_unit_id string, period string, "
        "ind_1 long, ind_2 long, ind_3 long, ind_4 long",
    )
    consistent, flagged = split_by_consistency(sdf, RULES, KEY_COLS)
    # ou1: E<F fires (1<5) → flagged.  ou2: 7>5, 7==5+2, H<10 … check oracle
    oracle = evaluate_rules_python(
        [
            dict(zip(COLUMNS, ("ou1", "202401", 1, 5, 2, 0))),
            dict(zip(COLUMNS, ("ou2", "202401", 7, 5, 2, 0))),
        ],
        COLUMNS,
        RULES,
        KEY_COLS,
    )
    expect_consistent = {
        f"ou{i+1}"
        for i, colors in enumerate(oracle)
        if all(v is None for v in colors.values())
    }
    got_consistent = {r["organisation_unit_id"] for r in consistent.collect()}
    got_flagged = {r["organisation_unit_id"] for r in flagged.collect()}
    assert got_consistent == expect_consistent
    assert got_flagged == {"ou1", "ou2"} - expect_consistent
    assert consistent.columns == COLUMNS  # original shape preserved


def test_apply_rules_reannotation_single_flag(spark):
    """Re-annotating an already-annotated frame must not produce a
    duplicate ``is_consistent`` column (which would make any later
    reference AMBIGUOUS_REFERENCE) — the pre-existing flag is dropped and
    recomputed."""
    sdf = spark.createDataFrame(
        [("ou1", "202401", 1, 5, 2, 0)],
        schema="organisation_unit_id string, period string, "
        "ind_1 long, ind_2 long, ind_3 long, ind_4 long",
    )
    once = apply_rules(sdf, RULES, KEY_COLS)
    assert once.columns.count("is_consistent") == 1
    twice = apply_rules(once.select(*COLUMNS, "is_consistent"), RULES, KEY_COLS)
    assert twice.columns.count("is_consistent") == 1
    # the recomputed flag is still referenceable (no ambiguity error)
    assert twice.filter(F.col("is_consistent")).count() in (0, 1)


def test_apply_rules_color_literal_round_trips(spark):
    """A rule colour reaches the output verbatim, backslashes and quotes
    included: Spark's parser un-escapes backslashes inside string
    literals, so ``C:\\new`` must not come back as ``C:`` + newline."""
    from hiv_data_integration_spark.operators.reshape import stack_by_prefix

    color = "C:\\new 'it''s' \\\\ end\\"
    sdf = spark.createDataFrame(
        [("ou1", "202401", 1, 5, 2, 0)],
        schema="organisation_unit_id string, period string, "
        "ind_1 long, ind_2 long, ind_3 long, ind_4 long",
    )
    out = apply_rules(sdf, {"r1": Rule("E<F", color, 1)}, KEY_COLS).collect()[0]
    assert out["ind_1__color"] == out["ind_2__color"] == color
    # the reshape stacker spells its indicator literal with the same quoter
    long = stack_by_prefix(sdf, KEY_COLS, {"ind_": color}).collect()
    assert {r["indicateur"] for r in long} == {color}
