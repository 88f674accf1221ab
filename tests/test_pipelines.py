"""Golden-pipeline tests: reference-shaped fixtures (FIXTURES.md §A) run
through entry points A/B/C; assertions on the final long-format golden
schema (SURVEY.md §1.4), rule routing, null-preserving sums, fuzzy org
resolution with registry upsert, and semester history aggregation."""

from __future__ import annotations

import datetime
import json
import threading
from collections import Counter

import pytest
from pyspark.sql import functions as F

from hiv_data_integration_spark.pipeline import (
    run_pipeline_a,
    run_pipeline_b,
    run_pipeline_c,
)
from hiv_data_integration_spark.operators.fuzzy import uuid5_py
from hiv_data_integration_spark.pipeline.pnls import PathologySpec, naomi_to_wide

ROOT = "ZD44Asc0bAk"
REPORT_VALUE_COLS = ["F_0-4 ans", "M_0-4 ans", "nosex_<15 ans"]


@pytest.fixture()
def org_units(spark):
    rows = [
        (ROOT, "Cote d'Ivoire", 1, f"/{ROOT}", None),
        ("r1", "Region Lagunes", 2, f"/{ROOT}/r1", None),
        ("d1", "DS Cocody", 3, f"/{ROOT}/r1/d1", None),
        ("f1", "CHU de Cocody", 4, f"/{ROOT}/r1/d1/f1", None),
        ("f2", "CSU Abobo Nord", 4, f"/{ROOT}/r1/d1/f2", None),
        ("f3", "Hôpital Général de Bassam", 4, f"/{ROOT}/r1/d1/f3", None),
    ]
    return spark.createDataFrame(
        rows, "id string, name string, level long, path string, geometry string"
    )


@pytest.fixture()
def coc(spark):
    return spark.createDataFrame(
        [
            ("c_f", "0-4 ans, Féminin"),
            ("c_m", "0-4 ans, Masculin"),
            ("c_u", "< 15 ans"),
            ("HllvX50cXC0", "default"),
        ],
        "id string, name string",
    )


@pytest.fixture()
def ist_spec(spark):
    analytics = spark.createDataFrame(
        [
            # f1 202401: F=5, M=3, <15=8  -> rule E>F (5>3) fires -> flagged
            ("de1", "c_f", "f1", "202401", "5"),
            ("de1", "c_m", "f1", "202401", "3"),
            ("de2", "c_u", "f1", "202401", "8"),
            # f2 202401: F=2, M=4, <15=6 -> consistent (2>4 no; 6 == 2+4)
            ("de1", "c_f", "f2", "202401", "2"),
            ("de1", "c_m", "f2", "202401", "4"),
            ("de2", "c_u", "f2", "202401", "6"),
            # f1 202402: only F=0 -> M, <15 stay NULL (null-preserving sum)
            ("de1", "c_f", "f1", "202402", "0"),
            # unmapped data element: dropped by the map join filter
            ("deX", "c_f", "f2", "202401", "999"),
        ],
        "data_element_id string, category_option_combo_id string, "
        "organisation_unit_id string, period string, value string",
    )
    de_map = spark.createDataFrame(
        [
            ("de1", "indicateur_1", "data_element"),
            ("de2", "indicateur_2", "data_element"),
            ("dei", "indicateur_9", "indicator"),  # filtered out
        ],
        "id string, column string, type string",
    )
    contract = [
        "indicateur_1_age_0_4_ans_F",
        "indicateur_1_age_0_4_ans_M",
        "indicateur_2_inf_15_ans",
    ]
    # letters: ou=C, period=D, then E, F, G (offset 3 like the review sheet)
    rules = {
        "R1": ("E>F", "FF0000", 2),
        "R2": ("G!=E+F", "FFA500", 1),
    }
    return PathologySpec(
        name="IST",
        analytics=analytics,
        de_map=de_map,
        contract_value_cols=contract,
        prefix_to_indicator={"indicateur_1_": 1, "indicateur_2_": 2},
        rules=rules,
    )


def test_pipeline_a_golden(spark, org_units, coc, ist_spec):
    report, flagged = run_pipeline_a(
        spark, [ist_spec], coc, org_units, REPORT_VALUE_COLS
    )
    # golden schema: keys + declared values + the four always-padded cols
    assert report.columns == [
        "idsite",
        "periode",
        "Indicateur",
        *REPORT_VALUE_COLS,
        "M_<15 ans",
        "M_>15 ans",
        "F_<15 ans",
        "F_>15 ans",
    ]
    rows = {(r.idsite, str(r.periode), r.Indicateur): r for r in report.collect()}
    # 2 consistent wide rows x 2 indicators
    assert len(rows) == 4
    # f1/202401 was flagged out; f2/202401 survived with exact sums
    r_f2_i1 = rows[("r1_d1_f2", "2024-01-01", 1)]
    assert (r_f2_i1["F_0-4 ans"], r_f2_i1["M_0-4 ans"]) == (2, 4)
    r_f2_i2 = rows[("r1_d1_f2", "2024-01-01", 2)]
    assert r_f2_i2["nosex_<15 ans"] == 6
    # null-preserving: f1/202402 indicator 2 has no data -> NULL, not 0
    r_f1_i2 = rows[("r1_d1_f1", "2024-02-01", 2)]
    assert r_f1_i2["nosex_<15 ans"] is None
    # flagged frame: exactly the f1/202401 row, with the firing color
    fl = flagged["IST"].collect()
    assert len(fl) == 1
    assert fl[0].organisation_unit_id == "f1" and fl[0].period == "202401"
    assert fl[0]["indicateur_1_age_0_4_ans_F__color"] == "FF0000"


def test_pipeline_a_with_naomi_leg(spark, org_units, coc, ist_spec):
    naomi = spark.createDataFrame(
        [
            ("CIV_1", "cocody", 100.0, "plhiv", "Y000_004, female"),
            ("CIV_1", "cocody", 50.0, "plhiv", "Y000_004, male"),
            ("CIV_X", "unknown", 7.0, "plhiv", "Y000_004, male"),  # unmapped
        ],
        "code string, name string, mean double, indicator string, coc_name string",
    )
    mapping = spark.createDataFrame(
        [("CIV_1", "f1")], "code string, organisation_unit_id string"
    )
    wide = naomi_to_wide(
        naomi,
        mapping,
        coc_to_suffix={
            "Y000_004, female": "age_0_4_ans_F",
            "Y000_004, male": "age_0_4_ans_M",
        },
        indicator_to_column={"plhiv": "indicateur_3"},
        year=2024,
        quarter_suffixes=["03", "06"],
    )
    ist_no_rules = PathologySpec(
        name="IST",
        analytics=ist_spec.analytics,
        de_map=ist_spec.de_map,
        contract_value_cols=ist_spec.contract_value_cols,
        prefix_to_indicator=ist_spec.prefix_to_indicator,
    )
    report, _ = run_pipeline_a(
        spark,
        [ist_no_rules],
        coc,
        org_units,
        REPORT_VALUE_COLS,
        naomi_wide=(wide, {"indicateur_3_": 3}),
    )
    naomi_rows = {
        (str(r.periode)): r
        for r in report.filter(F.col("Indicateur") == 3).collect()
    }
    # yearly row replicated to both quarter-end periods, unmapped code dropped
    assert set(naomi_rows) == {"2024-03-01", "2024-06-01"}
    assert naomi_rows["2024-03-01"]["F_0-4 ans"] == 100
    assert naomi_rows["2024-03-01"]["M_0-4 ans"] == 50
    assert naomi_rows["2024-03-01"].idsite == "r1_d1_f1"


def _naomi_fetch(calls: Counter, lock: threading.Lock, down=()):
    """Fake NAOMI endpoint: district CIV_1 under every request; the
    ``(indicator, sex, age_code)`` cells in ``down`` always fail."""

    def fetch(param: dict) -> list[dict]:
        key = (param["indicator"], param["sex"], param["age_code"])
        with lock:  # fetchers run on several threads at once
            calls[key] += 1
        if key in down:
            raise ConnectionError(f"NAOMI {key} down")
        payload = [{"subareas": [{"subareas": [
            {"code": "CIV_1", "name": "cocody", "mean": 10.0},
        ]}]}]
        return [{
            "indicator": param["indicator"],
            "coc_name": f"{param['age_code']}, {param['sex']}",
            "payload_json": json.dumps(payload),
        }]

    return fetch


_NAOMI_COLUMNS = {"aware_plhiv_num": "indicateur_9", "plhiv": "indicateur_10"}
_NAOMI_SUFFIXES = {
    f"{age}, {sex}": f"{age}_{sex[0].upper()}"
    for age in ("Y000_004", "Y005_009", "Y010_014", "Y015_019",
                "Y020_024", "Y025_049", "Y050_999")
    for sex in ("male", "female")
}


def test_naomi_dropped_request_leaves_column_null(spark, caplog):
    """The NAOMI wide columns are declared: a request dropped after its
    retries leaves its column all-null instead of absent, and is logged."""
    from hiv_data_integration_spark.io import rest

    mapping = spark.createDataFrame(
        [("CIV_1", "f1")], "code string, organisation_unit_id string"
    )
    naomi = rest.naomi_source(
        spark,
        _naomi_fetch(Counter(), threading.Lock(), down={("plhiv", "male", "Y000_004")}),
        retry_sleep=0.0,
    )
    assert "dropped 1 of 28 requests" in caplog.text
    wide = naomi_to_wide(naomi, mapping, _NAOMI_SUFFIXES, _NAOMI_COLUMNS, 2024, ["12"])
    value_cols = wide.columns[2:]
    assert value_cols == sorted(
        f"{c}_{s}" for c in _NAOMI_COLUMNS.values() for s in _NAOMI_SUFFIXES.values()
    )
    (row,) = wide.collect()
    assert row["indicateur_10_Y000_004_M"] is None
    assert all(row[c] is not None for c in value_cols if c != "indicateur_10_Y000_004_M")


def _pnls_month(spark, org_units, naomi_fetch):
    """Build one month of pipeline A on the shipped IST/PEC/PTME specs:
    three REST analytics sources, the NAOMI source and leg, the report."""
    from hiv_data_integration_spark import ref_constants as rc
    from hiv_data_integration_spark.io import rest
    from hiv_data_integration_spark.pipeline.pnls import reference_pathology_spec

    coc = spark.createDataFrame([("HllvX50cXC0", "default")], "id string, name string")
    mapping = spark.createDataFrame(
        [("CIV_1", "d1")], "code string, organisation_unit_id string"
    )

    def analytics_fetch(param: dict) -> list[dict]:
        return [
            {
                "data_element_id": param["data_element"],
                "category_option_combo_id": "HllvX50cXC0",
                "organisation_unit_id": ou,
                "period": param["period"],
                "value": str(i),
            }
            for i, ou in enumerate(("f1", "f2", "f3"), 1)
        ]

    specs = []
    for p in ("IST", "PEC", "PTME"):
        contract = rc.expected_value_columns(p)
        de_ids = [f"{p}_de{j}" for j in range(len(contract))]
        de_map = spark.createDataFrame(
            [(de, c, "data_element") for de, c in zip(de_ids, contract)],
            "id string, column string, type string",
        )
        analytics = rest.dhis2_analytics_source(
            spark, analytics_fetch, de_ids, ["202403"], retry_sleep=0.0
        )
        specs.append(reference_pathology_spec(p, analytics, de_map))
    naomi = rest.naomi_source(spark, naomi_fetch, retry_sleep=0.0)
    naomi_wide = naomi_to_wide(naomi, mapping, _NAOMI_SUFFIXES, _NAOMI_COLUMNS, 2024, ["03"])
    return run_pipeline_a(
        spark,
        specs,
        coc,
        org_units,
        REPORT_VALUE_COLS,
        naomi_wide=(naomi_wide, {"indicateur_9_": 9, "indicateur_10_": 10}),
    )


def test_pipeline_a_month_builds_without_jobs_or_python_workers(
    spark, org_units, python_eval_nodes
):
    """Building a month launches no Spark job (REST sources fetch on the
    driver, the NAOMI pivot is declared), and the report's and the
    flagged frames' executed plans hold no Python evaluation node."""
    sc = spark.sparkContext
    group = "pnls-month-build"
    sc.setJobGroup(group, "build one pipeline A month")
    try:
        report, flagged = _pnls_month(spark, org_units, _naomi_fetch(Counter(), threading.Lock()))
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert set(flagged) == {"IST", "PEC", "PTME"}
    for df in (report, *flagged.values()):
        assert python_eval_nodes(df) == []


def test_pipeline_c_build_job_count(spark, org_units, tmp_path, monkeypatch):
    """Resolving pipeline C's names with all three tiers live launches
    exactly five Spark jobs, all while the plan is built: three for the
    bounded candidate collect and two for the row-limited probe of the
    query names (``limit(n).collect()`` scans partitions in growing
    rounds, one job each)."""
    from hiv_data_integration_spark.pipeline import pnls

    sc = spark.sparkContext
    group = "pipeline-c-resolve"
    resolve = pnls.resolve_entities

    def resolve_in_group(*args, **kwargs):
        sc.setJobGroup(group, "resolve pipeline C names")
        try:
            return resolve(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(pnls, "resolve_entities", resolve_in_group)
    _run_chu(
        spark,
        org_units,
        tmp_path,
        [
            ("Registered Clinic", "DS Cocody", "202401", "1", "2"),
            ("CSU Abobo Nord", "DS Cocody", "202401", "3", "4"),
            ("Clinique Inconnue", "Cocody", "202401", "5", "6"),
        ],
        registry_rows=[(f"/{ROOT}/r1/d1/reg", "Registered Clinic", "DS Cocody")],
    )
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 5


def test_pipeline_a_month_fetches_naomi_once(spark, org_units, tmp_path):
    """Building a month and writing its CSV and Excel review call the
    NAOMI fetcher once per request: 28 calls, not one set per evaluation."""
    from hiv_data_integration_spark.io import sinks
    from hiv_data_integration_spark.io.excel import write_xlsx_workbook

    calls: Counter = Counter()
    report, flagged = _pnls_month(spark, org_units, _naomi_fetch(calls, threading.Lock()))
    template = str(tmp_path / "template.xlsx")
    write_xlsx_workbook(template, {p: [[f"Revue {p}"]] for p in flagged})
    written = sinks.export_csv_per_period(report, "periode", str(tmp_path / "csv"))
    for p, df in flagged.items():
        sinks.write_excel_review(df, template, p, str(tmp_path / f"review_{p}.xlsx"))
    assert written and sum(calls.values()) == 28 and set(calls.values()) == {1}


def test_pipeline_b_spectrum(spark, org_units):
    spectrum = spark.createDataFrame(
        [
            ("CIV_1", "f1", "202412", 10.0, 20.0),
            ("CIV_2", "f2", "202412", 1.0, 2.0),
        ],
        "code string, organisation_unit_id string, period string, "
        "`indicateur_9_age_0_4_ans_M` double, `indicateur_9_age_0_4_ans_F` double",
    )
    report, flagged = run_pipeline_b(
        spark,
        spectrum,
        org_units,
        prefix_to_indicator={"indicateur_9_": 9},
        report_value_columns=REPORT_VALUE_COLS,
    )
    assert flagged == {}
    rows = {r.idsite: r for r in report.collect()}
    assert rows["r1_d1_f1"]["M_0-4 ans"] == 10
    assert rows["r1_d1_f1"]["F_0-4 ans"] == 20
    assert rows["r1_d1_f1"].Indicateur == 9
    assert rows["r1_d1_f1"].periode == datetime.date(2024, 12, 1)


def test_pipeline_b_pathologies_without_coc_raise(spark, org_units):
    """Pathology extracts need the coc dim: a missing one is a ValueError
    (a bare assert would vanish under ``python -O``)."""
    spectrum = spark.createDataFrame(
        [("f1", "202412", 1.0)],
        "organisation_unit_id string, period string, indicateur_9_x double",
    )
    spec = PathologySpec(
        name="ist", analytics=spectrum, de_map=spectrum,
        contract_value_cols=[], prefix_to_indicator={"indicateur_9_": 9},
    )
    with pytest.raises(ValueError, match="coc dim"):
        run_pipeline_b(
            spark, spectrum, org_units, {"indicateur_9_": 9},
            REPORT_VALUE_COLS, pathologies=[spec],
        )


def test_pipeline_c_chu_golden(spark, org_units, tmp_path):
    """Independent golden: every expected value below is re-derived by hand
    from the resolve-chain contract (pipeline/pnls.py run_pipeline_c
    docstring; reference extract_chu_data.py:255-410) and the lenient-parse
    / semester rules — re-checked after the r9 registry-guard changes
    (registry pass district-blocked, MAX_UNBLOCKED_CANDIDATES) so it stays
    a from-first-principles check, not a regression snapshot.

    Resolution derivation (fresh registry_path ⇒ pass 1 is a no-op):
    - "CHU de Cocody": EXACT level-4 name ⇒ pass 2 exact lookup wins
      before any scoring ⇒ ou_id = /ROOT/r1/d1/f1.
    - "Hopital General de Bassam!": pass 2 fuzzy vs level-4 names —
      NFD accent fold + punctuation strip make it token-identical to
      "Hôpital Général de Bassam" (score 100 ≥ threshold 90, verified
      against the live scorer below) ⇒ f1? no — matched path f3.
    - "Clinique Inconnue": no level-4 name scores ≥ 90 (verified below)
      ⇒ pass 3: district "Cocody" cleaned (upper, drop PUBLIC/CHU/" DE ")
      fuzzy-matches level-3 "DS Cocody" (token-subset ⇒ score 100) ⇒
      synthesized id = <district_path>/<uuid5("Clinique Inconnue")>.
    - "Clinique Perdue": district "Zanzan" shares no token with any
      level-3 name (max score < 90, verified below) ⇒ DROPPED (never
      upserted, never reported — reference filters to non-null ids).
    """
    from hiv_data_integration_spark.operators.fuzzy import token_set_ratio

    registry_path = str(tmp_path / "org_unit_chu.parquet")
    history_path = str(tmp_path / "historique_pec.parquet")
    sheet = spark.createDataFrame(
        [
            # exact org-unit name, quoted numeric (lenient parse)
            ("CHU de Cocody", "DS Cocody", "202401", '"5"', "3"),
            # fuzzy: accents dropped + punctuation
            ("Hopital General de Bassam!", "DS Cocody", "202401", "7", ""),
            # unknown facility, district fuzzy-matches level-3 -> synthesized
            # <district_path>/<uuid5> id (extract_chu_data.py:342-376)
            ("Clinique Inconnue", "Cocody", "202401", "1", "2"),
            # unknown facility AND unknown district -> dropped entirely
            ("Clinique Perdue", "Zanzan", "202401", "9", "9"),
            # second month for the semester window
            ("CHU de Cocody", "DS Cocody", "202406", "10", "20"),
        ],
        "Etablissements string, Districts string, Mois string, "
        "`indicateur_11_age_0_4_ans_F` string, `indicateur_11_age_0_4_ans_M` string",
    )

    # tier routing re-derived against the LIVE scorer (same normalize:
    # the udf NFD-folds + strips punctuation before token_set_ratio)
    import unicodedata

    def fold(t):
        t = unicodedata.normalize("NFD", t)
        t = "".join(c for c in t if not unicodedata.combining(c))
        return "".join(c if c.isalnum() or c.isspace() else " " for c in t.lower())

    l4_names = ["CHU de Cocody", "CSU Abobo Nord", "Hôpital Général de Bassam"]
    assert token_set_ratio(
        fold("Hopital General de Bassam!"), fold("Hôpital Général de Bassam")
    ) == 100.0
    assert max(
        token_set_ratio(fold("Clinique Inconnue"), fold(n)) for n in l4_names
    ) < 90.0
    assert token_set_ratio(fold("COCODY"), fold("DS Cocody")) >= 90.0
    assert max(
        token_set_ratio(fold("ZANZAN"), fold(n))
        for n in ["Cote d'Ivoire", "Region Lagunes", "DS Cocody"]
    ) < 90.0

    report, registry = run_pipeline_c(
        spark,
        sheets={"PEC": (sheet, {"indicateur_11_": 11})},
        facility_col="Etablissements",
        period_col="Mois",
        registry_path=registry_path,
        org_units=org_units,
        report_value_columns=REPORT_VALUE_COLS,
        history_path=history_path,
        history_sheet="PEC",
        history_prefix_map={"indicateur_11_": 13},
        quarter_end="06",
        year=2024,
        district_col="Districts",
    )
    # registry holds only RESOLVED facilities; the never-matched one is
    # dropped, not synthesized (reference filters to non-null ids,
    # extract_chu_data.py:378-381)
    reg = {r.formations_sanitaires: r.organisation_unit_id for r in registry.collect()}
    assert set(reg) == {
        "CHU de Cocody",
        "Hopital General de Bassam!",
        "Clinique Inconnue",
    }
    assert reg["CHU de Cocody"] == f"/{ROOT}/r1/d1/f1"
    assert reg["Hopital General de Bassam!"] == f"/{ROOT}/r1/d1/f3"
    # synthesized id = level-3 district path + RFC-4122 uuid5 of the
    # facility name (derivable outside the engine: uuid5_py is plain
    # stdlib uuid.uuid5(NAMESPACE_DNS-shaped seed, name))
    synth_uuid = uuid5_py("Clinique Inconnue")
    assert reg["Clinique Inconnue"] == f"/{ROOT}/r1/d1/{synth_uuid}"

    rows = report.collect()
    by_key = {(r.idsite, str(r.periode), r.Indicateur): r for r in rows}
    # monthly golden values, derivation per row (lenient parse =
    # trim quotes/spaces then cast; blank -> 0 via contract padding):
    #   f1 202401: F = '"5"' -> 5; M = "3" -> 3
    m = by_key[("r1_d1_f1", "2024-01-01", 11)]
    assert (m["F_0-4 ans"], m["M_0-4 ans"]) == (5, 3)
    #   f3 202401: F = "7" -> 7; M = "" (blank) -> 0
    bassam = by_key[("r1_d1_f3", "2024-01-01", 11)]
    assert (bassam["F_0-4 ans"], bassam["M_0-4 ans"]) == (7, 0)
    #   synthesized facility reports under its district-prefixed idsite
    #   (idsite = path tail r1_d1_<uuid5>): F=1, M=2 verbatim
    synth = by_key[(f"r1_d1_{synth_uuid}", "2024-01-01", 11)]
    assert (synth["F_0-4 ans"], synth["M_0-4 ans"]) == (1, 2)
    # the dropped facility appears nowhere in the report
    assert not any("Perdue" in (k[0] or "") for k in by_key)
    assert len({k[0] for k in by_key}) == 3
    # semester rollup (S1 2024 = Jan..Jun summed at 2024-06-01, history
    # indicator 13): f1 F = 5 (Jan) + 10 (Jun) = 15; M = 3 + 20 = 23
    sem = by_key[("r1_d1_f1", "2024-06-01", 13)]
    assert (sem["F_0-4 ans"], sem["M_0-4 ans"]) == (15, 23)
    # history parquet persisted for the next run: the 4 RESOLVED monthly
    # rows (dropped facility excluded) with their PARSED values — check
    # content, not just cardinality, so the next run's semester math
    # starts from the derived numbers above
    hist = spark.read.parquet(history_path)
    assert hist.count() == 4
    hcols = hist.columns
    fcol = next(c for c in hcols if c.endswith("_F"))
    mcol = next(c for c in hcols if c.endswith("_M"))
    idc = "organisation_unit_id"
    hrows = {
        (r[idc], r["period"] if "period" in hcols else r["Mois"]): (r[fcol], r[mcol])
        for r in hist.collect()
    }
    assert hrows[(f"/{ROOT}/r1/d1/f1", "202401")] == (5, 3)
    assert hrows[(f"/{ROOT}/r1/d1/f1", "202406")] == (10, 20)
    assert hrows[(f"/{ROOT}/r1/d1/f3", "202401")] == (7, 0)
    assert hrows[(f"/{ROOT}/r1/d1/{synth_uuid}", "202401")] == (1, 2)


def test_pipeline_c_second_run_reuses_registry(spark, org_units, tmp_path):
    """Second ingest: the registry resolves previously-synthesized
    facilities without re-matching (stateful read-modify-write)."""
    registry_path = str(tmp_path / "org_unit_chu.parquet")
    sheet1 = spark.createDataFrame(
        [("Clinique Inconnue", "Cocody", "202401", "1", "2")],
        "Etablissements string, Districts string, Mois string, "
        "`indicateur_11_age_0_4_ans_F` string, `indicateur_11_age_0_4_ans_M` string",
    )
    _, reg1 = run_pipeline_c(
        spark,
        sheets={"PEC": (sheet1, {"indicateur_11_": 11})},
        facility_col="Etablissements",
        period_col="Mois",
        registry_path=registry_path,
        org_units=org_units,
        report_value_columns=REPORT_VALUE_COLS,
        district_col="Districts",
    )
    synth_id = reg1.collect()[0].organisation_unit_id
    assert synth_id.startswith(f"/{ROOT}/r1/d1/")  # district-gated synth
    sheet2 = spark.createDataFrame(
        [("Clinique Inconnue", "Cocody", "202402", "9", "9")],
        sheet1.schema,
    )
    report2, reg2 = run_pipeline_c(
        spark,
        sheets={"PEC": (sheet2, {"indicateur_11_": 11})},
        facility_col="Etablissements",
        period_col="Mois",
        registry_path=registry_path,
        org_units=org_units,
        report_value_columns=REPORT_VALUE_COLS,
        district_col="Districts",
    )
    assert reg2.count() == 1  # deduped, not duplicated
    assert reg2.collect()[0].organisation_unit_id == synth_id


def test_pipeline_a_with_real_ist_spec(spark, org_units):
    """End-to-end pipeline A on the SHIPPED reference configuration: the
    real 154-column IST contract, the real 86-rule set, and the real
    report prefix map — rule_1 ('AS<BC' = indicateur_7 < indicateur_8 for
    10-14 M) routes the bad facility to the review frame and out of the
    report."""
    from hiv_data_integration_spark import ref_constants as rc
    from hiv_data_integration_spark.pipeline.pnls import reference_pathology_spec

    coc = spark.createDataFrame(
        [("c_m1014", "10-14 ans, Masculin")], "id string, name string"
    )
    analytics = spark.createDataFrame(
        [
            # f1: indicateur_7 (1) < indicateur_8 (5) for 10-14 M -> rule_1
            ("de7", "c_m1014", "f1", "202401", "1"),
            ("de8", "c_m1014", "f1", "202401", "5"),
            ("de11", "c_m1014", "f1", "202401", "3"),
            # f2: 7 >= 5 and indicateur_10 >= indicateur_11 (rule_35
            # 'CA<CO') -> fully consistent, verified against the per-row
            # oracle over all 86 rules
            ("de7", "c_m1014", "f2", "202401", "7"),
            ("de8", "c_m1014", "f2", "202401", "5"),
            ("de10", "c_m1014", "f2", "202401", "9"),
            ("de11", "c_m1014", "f2", "202401", "9"),
        ],
        "data_element_id string, category_option_combo_id string, "
        "organisation_unit_id string, period string, value string",
    )
    de_map = spark.createDataFrame(
        [
            ("de7", "indicateur_7", "data_element"),
            ("de8", "indicateur_8", "data_element"),
            ("de10", "indicateur_10", "data_element"),
            ("de11", "indicateur_11", "data_element"),
        ],
        "id string, column string, type string",
    )
    spec = reference_pathology_spec("IST", analytics, de_map)
    report, flagged = run_pipeline_a(
        spark, [spec], coc, org_units, report_value_columns=["M_10-14 ans"]
    )

    # the report prefix map keeps only indicateur_11/12 (as indicators 1/2);
    # the flagged facility is gone, and the empty indicateur_12 leg emits
    # its row with NULL values (stack semantics, same as the reference's
    # diagonal concat)
    rows = {(r.idsite, r.Indicateur): r for r in report.collect()}
    assert set(rows) == {("r1_d1_f2", 1), ("r1_d1_f2", 2)}
    assert rows[("r1_d1_f2", 1)]["M_10-14 ans"] == 9
    assert rows[("r1_d1_f2", 2)]["M_10-14 ans"] is None

    fl = flagged["IST"].collect()
    assert len(fl) == 1 and fl[0].organisation_unit_id == "f1"
    rule_1 = rc.rules_for("IST")["rule_1"]
    assert fl[0]["indicateur_7_age_10_14_ans_M__color"] == rule_1.color
    assert fl[0]["indicateur_8_age_10_14_ans_M__color"] == rule_1.color


def test_pipeline_c_same_name_two_districts(spark, tmp_path):
    """Same facility name in two districts stays TWO registry identities
    (district-blocked registry lookup + district in the dedupe key); each
    district's data reports under its own synthesized org unit."""
    registry_path = str(tmp_path / "org_unit_chu.parquet")
    org_units = spark.createDataFrame(
        [
            ("d1", "DS Cocody", 3, f"/{ROOT}/r1/d1", None),
            ("d2", "DS Abobo", 3, f"/{ROOT}/r1/d2", None),
        ],
        "id string, name string, level long, path string, geometry string",
    )
    sheet = spark.createDataFrame(
        [
            ("Hopital General", "Cocody", "202401", "1", "2"),
            ("Hopital General", "Abobo", "202401", "3", "4"),
        ],
        "Etablissements string, Districts string, Mois string, "
        "`indicateur_11_age_0_4_ans_F` string, `indicateur_11_age_0_4_ans_M` string",
    )

    def run():
        return run_pipeline_c(
            spark,
            sheets={"PEC": (sheet, {"indicateur_11_": 11})},
            facility_col="Etablissements",
            period_col="Mois",
            registry_path=registry_path,
            org_units=org_units,
            report_value_columns=REPORT_VALUE_COLS,
            district_col="Districts",
        )

    report1, reg1 = run()
    ids = {
        (r.districts_sanitaires, r.organisation_unit_id) for r in reg1.collect()
    }
    assert len(ids) == 2  # one synth id per district, not one shared row
    by_district = dict(ids)
    assert by_district["Cocody"].startswith(f"/{ROOT}/r1/d1/")
    assert by_district["Abobo"].startswith(f"/{ROOT}/r1/d2/")
    rows1 = {r.idsite: (r["F_0-4 ans"], r["M_0-4 ans"]) for r in report1.collect()}
    assert len(rows1) == 2

    # second run: the blocked registry pass must return the SAME per-district
    # ids (no cross-district bleed), and the registry must not grow
    report2, reg2 = run()
    assert {
        (r.districts_sanitaires, r.organisation_unit_id) for r in reg2.collect()
    } == ids
    rows2 = {r.idsite: (r["F_0-4 ans"], r["M_0-4 ans"]) for r in report2.collect()}
    assert rows2 == rows1


def test_pipeline_b_with_shipped_naomi_map(spark, org_units):
    """Pipeline B (Spectrum variant) driven by the SHIPPED NAOMI report
    map ({indicateur_9: 9, indicateur_10: 10}, the reference's transform
    call at pipeline.py:236-239)."""
    from hiv_data_integration_spark import ref_constants as rc

    prefix_map = dict(rc.REPORT_INDICATOR_MAPS["NAOMI"])
    spectrum = spark.createDataFrame(
        [("f1", "202412", 10.0, 20.0)],
        "organisation_unit_id string, period string, "
        "`indicateur_9_age_0_4_ans_M` double, `indicateur_10_age_0_4_ans_F` double",
    )
    report, flagged = run_pipeline_b(
        spark,
        spectrum,
        org_units,
        prefix_to_indicator=prefix_map,
        report_value_columns=REPORT_VALUE_COLS,
    )
    assert flagged == {}
    rows = {(r.idsite, r.Indicateur): r for r in report.collect()}
    assert rows[("r1_d1_f1", 9)]["M_0-4 ans"] == 10
    assert rows[("r1_d1_f1", 10)]["F_0-4 ans"] == 20


def test_pipeline_c_from_raw_sheet(spark, org_units, tmp_path):
    """Raw CHU workbook shape → report, end to end: messy French headers
    (fuzzy surgery), the shipped PEC SHEET_RENAMES label, dirty cells
    (quotes/whitespace), then the full resolution + report chain."""
    from hiv_data_integration_spark.io.headers import (
        clean_chu_cells,
        standardize_chu_columns,
    )

    pec_label = "Nombre de Patients VIH positif sous ARV (file active)"
    raw = spark.createDataFrame(
        [("R1", "Cocody", "CHU de Cocody ", "Médecine", "202401", '"12"')],
        f"`Région` string, `Districts` string, `Etablissements ` string, "
        f"`Service` string, `Mois` string, `{pec_label}` string",
    )
    sheet, district_here = standardize_chu_columns(raw, sheet_name="PEC")
    assert district_here
    sheet = clean_chu_cells(sheet)
    # the renamed indicator column feeds the prefix map directly
    report, registry = run_pipeline_c(
        spark,
        sheets={"PEC": (sheet, {"indicateur_11": 11})},
        facility_col="formations_sanitaires",
        period_col="periode",
        registry_path=str(tmp_path / "reg.parquet"),
        org_units=org_units,
        report_value_columns=["nosex_noage"],
        district_col="districts_sanitaires",
    )
    rows = {(r.idsite, r.Indicateur): r for r in report.collect()}
    # facility trimmed then exact-matched to f1; quoted value parsed
    assert rows[("r1_d1_f1", 11)]["nosex_noage"] == 12


def _run_chu(spark, org_units, tmp_path, rows, registry_rows=None):
    """Run pipeline C over one PEC sheet of (facility, district, month, F, M)
    rows; ``registry_rows`` of (id, facility, district) pre-seed the
    registry. Returns ``{(facility, district): organisation_unit_id}``."""
    registry_path = str(tmp_path / "org_unit_chu.parquet")
    if registry_rows is not None:
        spark.createDataFrame(
            registry_rows,
            "organisation_unit_id string, formations_sanitaires string, "
            "districts_sanitaires string",
        ).write.parquet(registry_path)
    sheet = spark.createDataFrame(
        rows,
        "Etablissements string, Districts string, Mois string, "
        "`indicateur_11_age_0_4_ans_F` string, `indicateur_11_age_0_4_ans_M` string",
    )
    _, registry = run_pipeline_c(
        spark,
        sheets={"PEC": (sheet, {"indicateur_11_": 11})},
        facility_col="Etablissements",
        period_col="Mois",
        registry_path=registry_path,
        org_units=org_units,
        report_value_columns=REPORT_VALUE_COLS,
        district_col="Districts",
    )
    return {
        (r.formations_sanitaires, r.districts_sanitaires): r.organisation_unit_id
        for r in registry.collect()
    }


def test_pipeline_c_registry_tier_wins_over_level4(spark, org_units, tmp_path):
    """A name that is an exact hit in BOTH the registry and the level-4
    units resolves to the registry id: tier 1 takes precedence."""
    reg_id = f"/{ROOT}/r1/d1/registered"
    ids = _run_chu(
        spark,
        org_units,
        tmp_path,
        [("CHU de Cocody", "DS Cocody", "202401", "1", "2")],
        registry_rows=[(reg_id, "CHU de Cocody", "DS Cocody")],
    )
    assert ids[("CHU de Cocody", "DS Cocody")] == reg_id


def test_pipeline_c_thresholds_are_per_tier(spark, org_units, tmp_path):
    """A name scoring in [90, 95) against the registry misses tier 1 (95)
    even though that score clears tier 2's 90, and falls through to its
    exact level-4 match."""
    from hiv_data_integration_spark.operators.fuzzy import token_set_ratio

    # the normalized pair the scorer sees (lowercased, same tokens)
    assert 90.0 <= token_set_ratio("csu abobo nord", "csu abobo nort") < 95.0
    ids = _run_chu(
        spark,
        org_units,
        tmp_path,
        [("CSU Abobo Nord", "DS Cocody", "202401", "1", "2")],
        registry_rows=[(f"/{ROOT}/r1/d1/near", "CSU Abobo Nort", "DS Cocody")],
    )
    assert ids[("CSU Abobo Nord", "DS Cocody")] == f"/{ROOT}/r1/d1/f2"


def test_pipeline_c_resolves_all_tiers_in_one_pass(
    spark, org_units, tmp_path, monkeypatch
):
    """All three tiers (registry present) are scored by ONE candidate
    collection and ONE scoring udf, not one per tier."""
    from hiv_data_integration_spark.operators import fuzzy

    calls = {"collect_candidates": 0, "best_match_udf": 0}

    def counted(name):
        original = getattr(fuzzy, name)

        def wrapper(*args, **kwargs):
            calls[name] += 1
            return original(*args, **kwargs)

        monkeypatch.setattr(fuzzy, name, wrapper)

    counted("collect_candidates")
    counted("best_match_udf")
    ids = _run_chu(
        spark,
        org_units,
        tmp_path,
        [
            ("Registered Clinic", "DS Cocody", "202401", "1", "2"),
            ("CSU Abobo Nord", "DS Cocody", "202401", "3", "4"),
            ("Clinique Inconnue", "Cocody", "202401", "5", "6"),
        ],
        registry_rows=[(f"/{ROOT}/r1/d1/reg", "Registered Clinic", "DS Cocody")],
    )
    assert calls == {"collect_candidates": 1, "best_match_udf": 1}
    # one hit per tier: registry, level-4, district synthesis
    assert ids[("Registered Clinic", "DS Cocody")] == f"/{ROOT}/r1/d1/reg"
    assert ids[("CSU Abobo Nord", "DS Cocody")] == f"/{ROOT}/r1/d1/f2"
    assert ids[("Clinique Inconnue", "Cocody")] == (
        f"/{ROOT}/r1/d1/{uuid5_py('Clinique Inconnue')}"
    )


def test_pipeline_c_unreadable_registry_raises(spark, org_units, tmp_path):
    """Only a MISSING registry means "no registry yet": a registry dir
    holding a non-parquet file fails the registry read itself instead of
    silently skipping the registry tier."""
    from hiv_data_integration_spark.pipeline.pnls import _try_read

    assert _try_read(spark, str(tmp_path / "missing.parquet")) is None
    registry_dir = tmp_path / "org_unit_chu.parquet"
    registry_dir.mkdir()
    (registry_dir / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        _try_read(spark, str(registry_dir))
    with pytest.raises(Exception, match="(?i)parquet"):
        _run_chu(
            spark,
            org_units,
            tmp_path,
            [("CHU de Cocody", "DS Cocody", "202401", "1", "2")],
        )


def test_pipeline_c_plans_run_no_python_udf(
    spark, org_units, tmp_path, python_eval_nodes
):
    """With all three tiers live, the report's and the registry's
    executed plans hold no Python evaluation node: names are scored on
    the driver and uuid5 ids are native."""
    from hiv_data_integration_spark.operators.fuzzy import nfd_fold

    # the probe sees a pandas_udf where there is one
    assert python_eval_nodes(spark.range(1).select(nfd_fold(F.lit("é")))) == [
        "ArrowEvalPython"
    ]
    registry_path = str(tmp_path / "org_unit_chu.parquet")
    spark.createDataFrame(
        [(f"/{ROOT}/r1/d1/reg", "Registered Clinic", "DS Cocody")],
        "organisation_unit_id string, formations_sanitaires string, "
        "districts_sanitaires string",
    ).write.parquet(registry_path)
    sheet = spark.createDataFrame(
        [
            ("Registered Clinic", "DS Cocody", "202401", "1", "2"),
            ("CSU Abobo Nord", "DS Cocody", "202401", "3", "4"),
            ("Clinique Inconnue", "Cocody", "202401", "5", "6"),
        ],
        "Etablissements string, Districts string, Mois string, "
        "`indicateur_11_age_0_4_ans_F` string, `indicateur_11_age_0_4_ans_M` string",
    )
    report, registry = run_pipeline_c(
        spark,
        sheets={"PEC": (sheet, {"indicateur_11_": 11})},
        facility_col="Etablissements",
        period_col="Mois",
        registry_path=registry_path,
        org_units=org_units,
        report_value_columns=REPORT_VALUE_COLS,
        district_col="Districts",
    )
    assert report.count() > 0 and registry.count() == 3
    assert python_eval_nodes(report) == []
    assert python_eval_nodes(registry) == []
