"""Entry-point DAGs A (DHIS2+NAOMI), B (Spectrum), C (CHU workbooks).

Orchestration re-expressed from ``update_pnls_report/pipeline.py:126-377``
(A), ``update_pnls_report_with_spectrum_path/pipeline.py:112-357`` (B) and
``update_pnls_report/extract_chu_data.py:22-159`` (C). The reference runs
pathologies sequentially on one machine; here each pathology is one lazy
plan and Spark schedules the union of all of them.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from collections.abc import Mapping
from functools import reduce

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hiv_data_integration_spark.functions import lenient_double
from hiv_data_integration_spark.operators.aggregate import (
    grouped_sum,
    pivot_agg,
    semester_bounds,
)
from hiv_data_integration_spark.operators.fuzzy import (
    resolve_entities,
    upsert_parquet_state,
    uuid5_id,
)
from hiv_data_integration_spark.operators.relational import (
    numeric_columns,
    select_prefixed,
)
from hiv_data_integration_spark.operators.rules import Rule, split_by_consistency
from hiv_data_integration_spark.pipeline.extract import pathology_extract
from hiv_data_integration_spark.pipeline.report import (
    finalize_report,
    stack_pathologies,
)

__all__ = [
    "PathologySpec",
    "reference_pathology_spec",
    "naomi_to_wide",
    "run_pipeline_a",
    "run_pipeline_b",
    "run_pipeline_c",
]


@dataclass
class PathologySpec:
    """One pathology's inputs + contracts (IST / PEC / PTME / consultant)."""

    name: str
    analytics: DataFrame
    de_map: DataFrame
    contract_value_cols: list[str]
    prefix_to_indicator: Mapping[str, int]
    rules: Mapping[str, Rule | tuple[str, str, int]] | None = None
    compound_coc_keys: bool = False
    pivot_agg_fn: str = "min"
    extra: dict = field(default_factory=dict)


def reference_pathology_spec(
    name: str,
    analytics: DataFrame,
    de_map: DataFrame,
    with_rules: bool = True,
    **overrides,
) -> PathologySpec:
    """A :class:`PathologySpec` pre-loaded with the reference's SHIPPED
    configuration (:mod:`hiv_data_integration_spark.ref_constants`): the
    declared wide contract (``DICO_EXPECTED_COLUMNS`` — IST 154 / PEC 236 /
    PTME 33 columns), the pathology's full consistency-rule set (86 IST /
    175 PEC / 18 PTME formulas), the report prefix→indicator map from the
    reference's transform call sites, and the PTME compound-COC-key join
    variant (extract_ptme_data.py:68-90). Running the real PNLS workload
    needs no re-keying — pass the analytics fact and data-element map and
    go; any field can still be overridden."""
    from hiv_data_integration_spark import ref_constants as rc

    base: dict = {
        "name": name,
        "analytics": analytics,
        "de_map": de_map,
        "contract_value_cols": rc.expected_value_columns(name),
        "prefix_to_indicator": dict(rc.REPORT_INDICATOR_MAPS.get(name, {})),
        "rules": dict(rc.rules_for(name))
        if with_rules and name in rc.DICO_RULES
        else None,
        "compound_coc_keys": name == "PTME",
    }
    base.update(overrides)
    return PathologySpec(**base)


def _extract_and_route(
    pathologies: list[PathologySpec],
    coc: DataFrame,
    keys: list[str],
    exclude_inconsistent: bool,
) -> tuple[list[tuple[DataFrame, Mapping[str, int]]], dict[str, DataFrame]]:
    """The pathology loop of pipelines A and B: extract each pathology's
    wide frame and, when it has rules, route it through the consistency
    split. Returns ``([(wide, prefix_to_indicator)], {pathology:
    flagged_rows})``. Calls go through this module's names so tracing
    wrappers installed on them see every call."""
    wides: list[tuple[DataFrame, Mapping[str, int]]] = []
    flagged_by_pathology: dict[str, DataFrame] = {}
    for spec in pathologies:
        wide = pathology_extract(
            spec.analytics,
            coc,
            spec.de_map,
            spec.contract_value_cols,
            compound_coc_keys=spec.compound_coc_keys,
            pivot_agg_fn=spec.pivot_agg_fn,
        )
        if spec.rules:
            consistent, flagged = split_by_consistency(
                wide,
                spec.rules,
                key_cols=keys,
                exclude_inconsistent=exclude_inconsistent,
            )
            flagged_by_pathology[spec.name] = flagged
            wide = consistent
        wides.append((wide, spec.prefix_to_indicator))
    return wides, flagged_by_pathology


def run_pipeline_a(
    spark: SparkSession,
    pathologies: list[PathologySpec],
    coc: DataFrame,
    org_units: DataFrame,
    report_value_columns: list[str],
    naomi_wide: tuple[DataFrame, Mapping[str, int]] | None = None,
    exclude_inconsistent: bool = True,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Entry point A: per-pathology extract → rule routing → stack →
    golden long report. Returns ``(report, {pathology: flagged_rows})``.
    """
    keys = ["organisation_unit_id", "period"]
    wides, flagged_by_pathology = _extract_and_route(
        pathologies, coc, keys, exclude_inconsistent
    )
    if naomi_wide is not None:
        wides.append(naomi_wide)

    long_df = stack_pathologies(wides, keys)
    report = finalize_report(long_df, org_units, report_value_columns)
    return report, flagged_by_pathology


def naomi_to_wide(
    naomi: DataFrame,
    district_mapping: DataFrame,
    coc_to_suffix: Mapping[str, str],
    indicator_to_column: Mapping[str, str],
    year: int,
    quarter_suffixes: list[str],
) -> DataFrame:
    """NAOMI leg: code→org-unit broadcast join, yearly→quarterly period
    replication (pipeline.py:240-256), wide pivot.

    ``district_mapping``: ``(code, organisation_unit_id)``;
    ``coc_to_suffix``: NAOMI ``coc_name`` → canonical value suffix;
    ``indicator_to_column``: NAOMI indicator → wide column prefix.

    The wide columns are declared, ``<column>_<suffix>`` for every pair of
    the two maps, so building the pivot runs no Spark job. A column whose
    NAOMI request was dropped is therefore all-null, not absent.
    """
    mapped = naomi.join(F.broadcast(district_mapping), "code", "left").filter(
        F.col("organisation_unit_id").isNotNull()
    )

    coc_expr = F.create_map(
        *[F.lit(x) for kv in coc_to_suffix.items() for x in kv]
    )[F.col("coc_name")]
    ind_expr = F.create_map(
        *[F.lit(x) for kv in indicator_to_column.items() for x in kv]
    )[F.col("indicator")]

    # rows with an unmapped indicator or coc are DROPPED: concat_ws skips
    # NULLs, so an unmapped indicator would silently collapse into a bare
    # coc-suffix column and merge with other unmapped indicators
    quarterly = (
        mapped.withColumn("_ind", ind_expr)
        .withColumn("_coc", coc_expr)
        .filter(F.col("_ind").isNotNull() & F.col("_coc").isNotNull())
        .select(
            "organisation_unit_id",
            F.explode(
                F.array(*[F.lit(f"{year}{s}") for s in quarter_suffixes])
            ).alias("period"),
            F.concat_ws("_", F.col("_ind"), F.col("_coc")).alias("column_name"),
            F.col("mean").cast("double").alias("value"),
        )
    )

    return pivot_agg(
        quarterly,
        keys=["organisation_unit_id", "period"],
        pivot_col="column_name",
        value_col="value",
        values=sorted(
            {
                f"{col}_{suf}"
                for col in indicator_to_column.values()
                for suf in coc_to_suffix.values()
            }
        ),
        agg="sum",
    )


def run_pipeline_b(
    spark: SparkSession,
    spectrum_wide: DataFrame,
    org_units: DataFrame,
    prefix_to_indicator: Mapping[str, int],
    report_value_columns: list[str],
    pathologies: list[PathologySpec] | None = None,
    coc: DataFrame | None = None,
    include_inconsistent_data: bool = False,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Entry point B: Spectrum wide file replaces the NAOMI leg; the flag
    is the R2 inversion (``include_inconsistent_data``,
    R2/utils.py:821-830)."""
    keys = ["organisation_unit_id", "period"]
    spectrum_keyed = select_prefixed(
        spectrum_wide, keys, tuple(prefix_to_indicator)
    )
    wides: list[tuple[DataFrame, Mapping[str, int]]] = [
        (spectrum_keyed, prefix_to_indicator)
    ]
    flagged_by_pathology: dict[str, DataFrame] = {}
    if pathologies:
        if coc is None:
            raise ValueError("pathology extracts need the coc dim")
        routed, flagged_by_pathology = _extract_and_route(
            pathologies, coc, keys, not include_inconsistent_data
        )
        wides += routed

    long_df = stack_pathologies(wides, keys)
    report = finalize_report(long_df, org_units, report_value_columns)
    return report, flagged_by_pathology


def run_pipeline_c(
    spark: SparkSession,
    sheets: dict[str, tuple[DataFrame, Mapping[str, int]]],
    facility_col: str,
    period_col: str,
    registry_path: str,
    org_units: DataFrame,
    report_value_columns: list[str],
    history_path: str | None = None,
    history_sheet: str | None = None,
    history_prefix_map: Mapping[str, int] | None = None,
    quarter_end: str | None = None,
    year: int | None = None,
    match_threshold: float = 90.0,
    registry_threshold: float = 95.0,
    district_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Entry point C: CHU workbook frames → fuzzy org resolution with
    registry upsert → lenient numeric parse + group sums → optional PEC
    history upsert + semester re-aggregate → stack → golden report.

    ``sheets`` maps sheet name → (flattened wide frame, prefix→indicator).
    Returns ``(report, registry_after)``.

    Resolution mirrors extract_chu_data.py:255-410: a name takes the first
    tier that matches it — (1) the registry at ``registry_threshold`` (95),
    district-blocked when both sides carry a district; (2) DHIS2 level-4
    facilities at ``match_threshold``; (3) the district name
    (``district_col``, else the facility name), uppercased with
    "PUBLIC"/"CHU"/" DE " removed, against level-**3** units at
    ``match_threshold`` — a hit synthesizes the id
    ``<district_path>/<uuid5(facility)>``.
    Facilities matching nothing are **dropped** (reference filters the
    registry to non-null ids and inner-joins, extract_chu_data.py:378-410) —
    never upserted, never reported.

    All tiers score in ONE ``resolve_entities`` pass: one query row per
    (name, tier), the tier a block key so each row meets only its own
    tier's candidates, at the lower of the two thresholds; each tier's hits
    are then kept at its own threshold and the lowest tier per name wins.
    This is exact: the scorer returns the lowest-index argmax among
    candidates at or above its threshold, so a best score that clears the
    tier's threshold picks the same winner as scoring at that threshold,
    and one that does not is dropped either way.
    """
    # -- 1. resolve facility names (extract_chu_data.py:255-410)
    name_cols = ["facility"] + (["district"] if district_col else [])
    names = None
    for df, _ in sheets.values():
        sel = df.select(
            F.col(facility_col).alias("facility"),
            *([F.col(district_col).alias("district")] if district_col else []),
        )
        names = sel if names is None else names.unionByName(sel)
    names = names.filter(F.col("facility").isNotNull()).distinct()

    # tier 3 queries the cleaned district name (extract_chu_data.py:342-376)
    cleaned = F.upper(F.col("district") if district_col else F.col("facility"))
    for noise in ("PUBLIC", "CHU", " DE "):
        cleaned = F.replace(cleaned, F.lit(noise), F.lit(""))
    # tier -> (query text, candidate frame, candidate name, payload)
    tiers = {
        2: (F.col("facility"), org_units.filter(F.col("level") == 4), "name", "path"),
        3: (F.trim(cleaned), org_units.filter(F.col("level") == 3), "name", "path"),
    }
    # the reference joins the registry on district + facility
    # (extract_chu_data.py:401-406): same-named facilities in different
    # districts never share a registry row
    query_district = cand_district = F.lit(None)
    registry = _try_read(spark, registry_path)
    if registry is not None:
        tiers[1] = (F.col("facility"), registry, "formations_sanitaires",
                    "organisation_unit_id")
        if district_col and "districts_sanitaires" in registry.columns:
            query_district = F.col("district")
            cand_district = F.col("districts_sanitaires")

    def block(district: Column, n: int) -> Column:
        # null and empty districts share the "" block
        d = district if n == 1 else F.lit(None)
        return F.coalesce(d.cast("string"), F.lit("")).alias("_block")

    scored = resolve_entities(
        names.select(*name_cols, F.inline(F.array(*[
            F.struct(F.lit(n).alias("_tier"), q.alias("_q"), block(query_district, n))
            for n, (q, _, _, _) in tiers.items()
        ]))),
        "_q",
        reduce(DataFrame.unionByName, [
            df.select(F.lit(n).alias("_tier"), F.col(name).alias("_name"),
                      F.col(payload).alias("_payload"), block(cand_district, n))
            for n, (_, df, name, payload) in tiers.items()
        ]),
        "_name",
        "_payload",
        threshold=min(registry_threshold, match_threshold),
        block_cols=["_tier", "_block"],
    )
    tier_threshold = F.when(F.col("_tier") == 1, registry_threshold).otherwise(
        match_threshold
    )
    resolved = (
        scored.filter(
            F.col("matched").isNotNull() & (F.col("match_score") >= tier_threshold)
        )
        .groupBy(*name_cols)
        .agg(F.min("_tier").alias("_tier"), F.min_by("matched", "_tier").alias("ou"))
        .select(*name_cols, F.when(
            F.col("_tier") == 3, F.concat_ws("/", "ou", uuid5_id(F.col("facility")))
        ).otherwise(F.col("ou")).alias("organisation_unit_id"))
        .cache()
    )  # facility-count-sized; uncached, the upsert and every sheet join
    # would re-run the resolution plan (above fuzzy.MAX_DRIVER_WORK, its
    # O(names x candidates) Python pass) N+1 times

    registry_after = upsert_parquet_state(
        spark,
        registry_path,
        resolved.select(
            F.col("organisation_unit_id"),
            F.col("facility").alias("formations_sanitaires"),
            *(
                [F.col("district").alias("districts_sanitaires")]
                if district_col
                else []
            ),
        ),
        # district participates in the registry identity when present —
        # same facility name in two districts is two registry rows
        dedupe_keys=["formations_sanitaires"]
        + (["districts_sanitaires"] if district_col else []),
    )

    # -- 2. per sheet: attach resolved id, lenient-parse, group-sum
    wides: list[tuple[DataFrame, Mapping[str, int]]] = []
    merged_by_sheet: dict[str, DataFrame] = {}
    for sheet_name, (df, prefix_map) in sheets.items():
        value_cols = [
            c for c in df.columns if c.startswith(tuple(prefix_map))
        ]
        join_cond = df[facility_col] == resolved["facility"]
        if district_col:
            join_cond = join_cond & (
                df[district_col].eqNullSafe(resolved["district"])
            )
        merged = (
            df.join(F.broadcast(resolved), join_cond, "inner")
            .select(
                "organisation_unit_id",
                F.col(period_col).alias("period"),
                *[lenient_double(F.col(c)).alias(c) for c in value_cols],
            )
        )
        summed = grouped_sum(merged, ["organisation_unit_id", "period"], value_cols)
        merged_by_sheet[sheet_name] = summed
        wides.append((summed, prefix_map))

    # -- 3. optional PEC history upsert + semester re-aggregation
    #    (extract_chu_data.py:470-540)
    if history_path and history_sheet and quarter_end and year:
        hist_new = merged_by_sheet[history_sheet]
        history = upsert_parquet_state(
            spark, history_path, hist_new, ["organisation_unit_id", "period"]
        )
        start, end = semester_bounds(quarter_end, year)
        val_cols = numeric_columns(history, exclude=["organisation_unit_id"])
        sem = history.filter(F.col("period").between(start, end)).withColumn(
            "period", F.lit(end)
        )
        sem = grouped_sum(sem, ["organisation_unit_id", "period"], val_cols)
        # semester aggregates report under their OWN indicator numbers
        # (extract_chu_data.py:504-540 routes them to 13/14); reusing the
        # quarterly sheet's map would emit two contradictory rows per
        # (idsite, periode, indicateur) at quarter-end months
        if history_prefix_map is None:
            raise ValueError(
                "history_prefix_map is required when the history leg is on: "
                "semester aggregates need their own indicator numbers"
            )
        wides.append((sem, history_prefix_map))

    long_df = stack_pathologies(wides, ["organisation_unit_id", "period"])

    # CHU org ids are already path-like (registry) or synthesized; reuse
    # finalize by treating the resolved id as its own path.
    ou_as_path = org_units.select("id", "level", "path").unionByName(
        resolved.select(
            F.col("organisation_unit_id").alias("id"),
            F.lit(4).alias("level"),
            F.col("organisation_unit_id").alias("path"),
        ),
        allowMissingColumns=True,
    ).dropDuplicates(["id"])
    report = finalize_report(long_df, ou_as_path, report_value_columns)
    return report, registry_after


def _try_read(spark: SparkSession, path: str) -> DataFrame | None:
    """Read-or-None without a driver-local filesystem check —
    ``os.path.exists`` is always False for s3://, hdfs://, etc. Only a
    missing path means "no state yet"; any other read error (a corrupt or
    non-parquet file) is raised, never mistaken for an empty registry."""
    try:
        df = spark.read.parquet(path)
        df.schema  # force resolution now
        return df
    except AnalysisException as e:
        # getCondition is pyspark 4.0+; getErrorClass is its 3.x name
        if getattr(e, "getCondition", e.getErrorClass)() == "PATH_NOT_FOUND":
            return None
        raise
