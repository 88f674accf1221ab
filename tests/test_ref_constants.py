"""The reference's shipped configuration data: completeness of the 279-rule
/ 3-contract payload, rule-compiler coverage of every real formula, and a
golden run of the real IST + PTME rule sets against the Python oracle."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from hiv_data_integration_spark import ref_constants as rc
from hiv_data_integration_spark.operators.rules import (
    COLOR_SUFFIX,
    apply_rules,
    compile_formula,
    default_letter_binding,
    evaluate_rules_python,
    formula_letters,
    letter_index,
)

KEYS = ["organisation_unit_id", "period"]


def test_shipped_payload_is_complete():
    assert len(rc.DICO_RULES["IST"]) == 86
    assert len(rc.DICO_RULES["PEC"]) == 175
    assert len(rc.DICO_RULES["PTME"]) == 18
    assert len(rc.DICO_EXPECTED_COLUMNS["IST"]) == 154
    assert len(rc.DICO_EXPECTED_COLUMNS["PEC"]) == 236
    assert len(rc.DICO_EXPECTED_COLUMNS["PTME"]) == 33
    assert set(rc.DICO_COLUMNS) == {"IST", "PEC", "PTME"}
    assert set(rc.SHEET_RENAMES) == {"CD", "PEC", "PTME"}
    # the report maps cover every pipeline-A leg
    assert set(rc.REPORT_INDICATOR_MAPS) == {
        "NAOMI", "IST", "PEC", "PEC_AGG", "PTME", "CONSULTANT",
    }
    assert len(rc.MAP_AGE_GROUP) == 9


def test_payload_is_immutable():
    with pytest.raises(TypeError):
        rc.DICO_RULES["IST"]["rule_1"] = None  # type: ignore[index]
    assert isinstance(rc.DICO_EXPECTED_COLUMNS["IST"], tuple)


@pytest.mark.parametrize("pathology", ["IST", "PEC", "PTME"])
def test_all_shipped_formulas_compile(spark, pathology):
    """Every real formula parses into a SQL predicate under the pathology's
    own contract binding — letters resolve, grammar covers every operator."""
    columns = KEYS + rc.expected_value_columns(pathology)
    binding = default_letter_binding(columns)
    max_idx = len(columns) + 2  # offset 3, 1-based
    for name, rule in rc.rules_for(pathology).items():
        letters = formula_letters(rule.formula)
        assert letters, f"{pathology}/{name}: formula mentions no letters"
        for lt in letters:
            idx = letter_index(lt)
            assert 3 <= idx <= max_idx, (
                f"{pathology}/{name}: letter {lt} (index {idx}) outside the "
                f"{len(columns)}-column contract binding"
            )
        compile_formula(rule.formula, binding)  # raises on any gap


def _random_wide_rows(pathology: str, n_rows: int, seed: int):
    value_cols = rc.expected_value_columns(pathology)
    rnd = random.Random(seed)
    rows = []
    for i in range(n_rows):
        row = {"organisation_unit_id": f"ou{i % 3}", "period": "202401"}
        for c in value_cols:
            row[c] = rnd.choice([None, 0, 1, rnd.randint(0, 30)])
        rows.append(row)
    return KEYS + value_cols, rows


@pytest.mark.parametrize("pathology,seed", [("IST", 7), ("PEC", 3), ("PTME", 11)])
def test_real_rule_set_matches_python_oracle(spark, pathology, seed):
    """Golden run: the pathology's FULL shipped rule set through the
    compiled engine on randomized wide rows, cell-for-cell against the
    reference-faithful per-row eval oracle."""
    columns, rows = _random_wide_rows(pathology, n_rows=12, seed=seed)
    rules = rc.rules_for(pathology)
    schema = ", ".join(
        f"`{c}` string" if c in KEYS else f"`{c}` int" for c in columns
    )
    df = spark.createDataFrame(
        [tuple(r[c] for c in columns) for r in rows], schema
    )
    annotated = apply_rules(df, rules, key_cols=KEYS)
    got = annotated.collect()
    want = evaluate_rules_python(rows, columns, rules, key_cols=KEYS)
    n_colored = 0
    for grow, wcolors in zip(got, want):
        for c in columns:
            if c in KEYS:
                continue
            have = grow[f"{c}{COLOR_SUFFIX}"] if f"{c}{COLOR_SUFFIX}" in annotated.columns else None
            expect = wcolors[c]
            assert have == expect, (pathology, c, have, expect)
            n_colored += expect is not None
        assert grow["is_consistent"] == all(
            v is None for v in wcolors.values()
        )
    # the random fixture must actually exercise the rules
    assert n_colored > 0


def test_chu_header_surgery_with_shipped_renames(spark):
    """The CHU special-column surgery + the shipped SHEET_RENAMES block:
    messy real-world headers (accents, padding, near-miss labels) resolve
    to the canonical names (extract_chu_data.py:182-208)."""
    from hiv_data_integration_spark.io.headers import standardize_chu_columns

    pec_label = (
        "Nombre de Patients VIH positif sous ARV (file active)"  # exact
    )
    df = spark.createDataFrame(
        [("R1", "D1", "CHU X", "Médecine", "202401", "5")],
        f"`Région ` string, `districts` string, `Etablissements` string, "
        f"`Service` string, `Mois` string, `{pec_label}` string",
    )
    out, district_here = standardize_chu_columns(df, sheet_name="PEC")
    assert district_here is True
    assert out.columns == [
        "districts_sanitaires",
        "formations_sanitaires",
        "periode",
        "indicateur_11",
    ]


def test_fuzzy_header_match_thresholds(spark):
    from hiv_data_integration_spark.io.headers import find_best_match_index

    cols = ["Formations sanitaires", "Mois", "Nombre de clients dépistés positif"]
    assert find_best_match_index("Mois", cols) == 1  # exact
    # accent/case drift still resolves
    assert find_best_match_index("formations  sanitaires", cols) == 0
    # unrelated label resolves to nothing
    assert find_best_match_index("Total général", cols) is None


def test_reference_pathology_spec_factory(spark):
    from hiv_data_integration_spark.pipeline.pnls import reference_pathology_spec

    analytics = spark.createDataFrame(
        [],
        "data_element_id string, category_option_combo_id string, "
        "organisation_unit_id string, period string, value string",
    )
    de_map = spark.createDataFrame([], "id string, column string, type string")
    spec = reference_pathology_spec("IST", analytics, de_map)
    assert len(spec.contract_value_cols) == 154
    assert len(spec.rules) == 86
    assert spec.prefix_to_indicator == {"indicateur_11_": 1, "indicateur_12_": 2}
    assert spec.compound_coc_keys is False
    ptme = reference_pathology_spec("PTME", analytics, de_map)
    assert ptme.compound_coc_keys is True and len(ptme.rules) == 18


def test_resolve_sheet_name_and_cell_cleanup(spark):
    from hiv_data_integration_spark.io.headers import (
        clean_chu_cells,
        resolve_sheet_name,
    )

    # fuzzy sheet discovery: near-miss resolves, unknown raises with names
    assert resolve_sheet_name("PEC", ["CD", "PEC ", "PTME"]) == "PEC "
    with pytest.raises(ValueError, match="available"):
        resolve_sheet_name("Inconnu", ["CD", "PEC"])

    df = spark.createDataFrame(
        [("  CHU de Cocody ", "202401", "0-4 ans positif", 5)],
        "formations_sanitaires string, periode string, "
        "label string, n long",
    )
    out = clean_chu_cells(df).collect()[0]
    assert out.formations_sanitaires == "CHU de Cocody"  # trimmed only
    assert out.periode == "202401"  # skipped
    assert out.label == "age_0_4_ans positif"  # age label canonicalized
    assert out.n == 5  # non-string untouched
