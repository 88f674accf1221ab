"""Scale benchmarks that are not battery queries.

The battery verifies correctness against DuckDB oracles; the functions
here measure shapes the oracles cannot reach economically — today, the
full report pipeline (A) at width: the SHIPPED 154-column IST contract
with all 86 consistency rules compiled to SQL predicates, driven by a
synthetic-but-distributed fact large enough (≥100k rows) that the rule
compiler's codegen behavior is measured, not assumed. The reference's hot
spot is exactly this evaluation loop (update_pnls_report/utils.py:300-315,
per-row Python over every rule × every row); here the rule booleans and
the CASE WHEN color chains must stay inside whole-stage codegen (asserted by tests/test_plan_quality.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hiv_data_integration_spark.constants import DEFAULT_ROOT_ORG_UNIT
from hiv_data_integration_spark.functions import standardize_column_name

__all__ = ["ist_scaled_fixture", "pipeline_a_ist_scaled"]


def ist_scaled_fixture(
    spark: SparkSession,
    n_facilities: int = 700,
    n_periods: int = 1,
    pathology: str = "IST",
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Synthetic pipeline-A inputs at width: every one of the real
    contract's value columns (IST 154 / PEC 236 / PTME 33) is fed by its
    own data element through the default COC (wide name == indicator
    column, no suffix synthesis), so the pivot, the padding and every
    rule input column carry real values. The fact is generated
    DISTRIBUTED (``spark.range``, no driver list) —
    n_facilities × n_periods × n_contract_cols rows.

    Returns ``(analytics, coc, de_map, org_units)``.
    """
    from hiv_data_integration_spark import ref_constants as rc

    cols = rc.expected_value_columns(pathology)
    k = len(cols)
    de_map = spark.createDataFrame(
        [(f"de{i}", c, "data_element") for i, c in enumerate(cols)],
        "id string, column string, type string",
    )
    coc = spark.createDataFrame(
        [("dflt", "default")], "id string, name string"
    )
    n = n_facilities * n_periods * k
    analytics = spark.range(n).select(
        F.concat(F.lit("de"), (F.col("id") % k).cast("string")).alias(
            "data_element_id"
        ),
        F.lit("dflt").alias("category_option_combo_id"),
        F.concat(
            F.lit("f"),
            F.floor(F.col("id") / (k * n_periods)).cast("string"),
        ).alias("organisation_unit_id"),
        (F.lit(202401) + F.floor(F.col("id") / k) % n_periods)
        .cast("long")
        .cast("string")
        .alias("period"),
        # deterministic routing mix, no RNG: the IST rules are all
        # 'X<X' / 'X+X<X' shapes, so a facility whose 154 values are one
        # constant is provably consistent — most facilities get that;
        # every 7th gets pseudo-random values in [0, 96], which fire
        # rules and route the facility to the review frame
        F.when(
            F.floor(F.col("id") / (k * n_periods)) % 7 == 0,
            (F.col("id") * 7919) % 97,
        )
        .otherwise(F.lit(50))
        .cast("string")
        .alias("value"),
    )
    org_units = spark.range(n_facilities).select(
        F.concat(F.lit("f"), F.col("id").cast("string")).alias("id"),
        F.concat(F.lit("Facility "), F.col("id").cast("string")).alias(
            "name"
        ),
        F.lit(4).alias("level"),
        F.concat(
            F.lit(f"/{DEFAULT_ROOT_ORG_UNIT}/r1/d1/f"),
            F.col("id").cast("string"),
        ).alias("path"),
        F.lit(None).cast("string").alias("geometry"),
    )
    return analytics, coc, de_map, org_units


def pipeline_a_ist_scaled(
    spark: SparkSession,
    sf_dir: str = "",
    n_facilities: int = 700,
    n_periods: int = 1,
) -> DataFrame:
    """End-to-end pipeline A on the real IST configuration at scale:
    154-col contract, 86 compiled rules, rule routing, stack, golden
    report — 700 × 154 = 107,800 fact rows by default. ``sf_dir`` is
    accepted (and ignored) so bench.py can drive this like any battery
    query; the fixture is synthetic because the TPC-H-ish testdata has no
    DHIS2-shaped fact at width."""
    from hiv_data_integration_spark import ref_constants as rc
    from hiv_data_integration_spark.pipeline.pnls import (
        reference_pathology_spec,
        run_pipeline_a,
    )

    analytics, coc, de_map, org_units = ist_scaled_fixture(
        spark, n_facilities=n_facilities, n_periods=n_periods
    )
    spec = reference_pathology_spec("IST", analytics, de_map)
    report_value_columns = sorted(
        {
            standardize_column_name(c[len(p):])
            for c in rc.expected_value_columns("IST")
            for p in rc.REPORT_INDICATOR_MAPS["IST"]
            if c.startswith(p)
        }
    )
    report, _flagged = run_pipeline_a(
        spark,
        [spec],
        coc,
        org_units,
        report_value_columns=report_value_columns,
    )
    return report
