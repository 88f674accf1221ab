"""Reshaping operators: wide↔long stacking and schema contracts.

Maps SURVEY.md §2.9 (R1op, R3op). These are the reference's workhorse ops:
``transform_for_pnls_reporting`` (update_pnls_report/utils.py:214-249) and
schema padding to declared contracts (extract_ist_data.py:156-169). Both
are pure plan rewrites — Catalyst collapses the per-prefix select/union
loop into one plan, so "loop over indicators" costs nothing extra at
100 TB.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from hiv_data_integration_spark.functions import (
    sql_ident,
    sql_str,
    standardize_column_name,
)
from hiv_data_integration_spark.operators.relational import _common_supertype

__all__ = [
    "stack_by_prefix",
    "pad_to_contract",
]


def stack_by_prefix(
    df: DataFrame,
    key_cols: list[str],
    prefix_to_indicator: Mapping[str, str | int],
    name_standardizer: Callable[[str], str] = standardize_column_name,
    indicator_col: str = "indicateur",
) -> DataFrame:
    """Wide→long stack by indicator prefix (R1op).

    Re-expression of ``transform_for_pnls_reporting``
    (update_pnls_report/utils.py:214-249): for each (column-prefix →
    indicator id), select the key columns plus all columns starting with the
    prefix, tag a literal indicator id, canonicalize the value-column names
    (age/sex), and union the per-indicator frames by name with relaxation.

    When two source columns standardize to the same canonical name within
    one prefix group they are summed (the reference relies on polars rename
    uniqueness; we make the merge explicit and deterministic).

    Planned as ONE pass: per input row, an ``explode`` over an array of
    per-indicator structs. The per-prefix select + union formulation reads
    identically but plans the entire upstream (scan → joins → pivot → agg)
    once per prefix — Spark does not reuse the duplicated subtrees, which
    tripled the flagship pipeline's execution. Missing columns pad with
    typed NULLs and shared columns are cast to their least common supertype,
    exactly like ``union_relaxed``; output column order is first-seen order
    across prefix groups (= unionByName order).
    """
    # SQL-text construction throughout (same rationale as pad_to_contract
    # and the rule compiler): at contract width the Column-object spelling
    # costs ~600 Py4J round trips per call; the SQL spelling of the exact
    # same expressions ships in three selectExpr calls.
    # per-prefix expression dicts: output name -> unaliased SQL text
    groups: list[dict[str, str]] = []
    for prefix, indicator in prefix_to_indicator.items():
        value_cols = [c for c in df.columns if c.startswith(prefix)]
        if not value_cols:
            continue
        canonical: dict[str, list[str]] = {}
        for c in value_cols:
            canonical.setdefault(name_standardizer(c), []).append(c)
        # only str|int are renderable faithfully as SQL literals here —
        # str(int(x)) on a float/bool would silently truncate/relabel
        if isinstance(indicator, str):
            ind_sql = sql_str(indicator)
        elif isinstance(indicator, int) and not isinstance(indicator, bool):
            ind_sql = str(indicator)
        else:
            raise TypeError(
                f"indicator for prefix {prefix!r} must be str or int, got "
                f"{type(indicator).__name__} ({indicator!r})"
            )
        cols: dict[str, str] = {indicator_col: ind_sql}
        for new_name, sources in canonical.items():
            if len(sources) == 1:
                cols[new_name] = sql_ident(sources[0])
            else:
                # null-preserving merge: nulls count as 0 only if at least
                # one source is non-null; an all-NULL set stays NULL (same
                # invariant as grouped_sum / SQL SUM)
                summed = f"coalesce({sql_ident(sources[0])}, 0)"
                any_set = f"{sql_ident(sources[0])} IS NOT NULL"
                for s in sources[1:]:
                    summed = f"({summed} + coalesce({sql_ident(s)}, 0))"
                    any_set = f"({any_set} OR {sql_ident(s)} IS NOT NULL)"
                cols[new_name] = f"CASE WHEN {any_set} THEN {summed} END"
        groups.append(cols)
    if not groups:
        raise ValueError("no prefix matched any column")

    # unified field set: first-seen order, least-common-supertype per name
    # (ONE schema analysis over every group's fields — no execution)
    probe_exprs = [
        f"{sql} AS {sql_ident(f'_g{gi}_{j}')}"
        for gi, g in enumerate(groups)
        for j, sql in enumerate(g.values())
    ]
    probe_fields = iter(df.selectExpr(*probe_exprs).schema.fields)
    field_order: list[str] = []
    field_type: dict[str, T.DataType] = {}
    for g in groups:
        for n in g:
            ftype = next(probe_fields).dataType
            if n not in field_type:
                field_order.append(n)
                field_type[n] = ftype
            else:
                field_type[n] = _common_supertype(field_type[n], ftype)

    structs = [
        "named_struct("
        + ", ".join(
            f"{sql_str(n)}, CAST({g.get(n, 'NULL')} "
            f"AS {field_type[n].simpleString()})"
            for n in field_order
        )
        + ")"
        for g in groups
    ]
    exploded = df.selectExpr(
        *[sql_ident(k) for k in key_cols],
        f"explode(array({', '.join(structs)})) AS _stk",
    )
    return exploded.selectExpr(
        *[sql_ident(k) for k in key_cols],
        *[f"_stk.{sql_ident(n)} AS {sql_ident(n)}" for n in field_order],
    )


def pad_to_contract(
    df: DataFrame,
    contract: list[tuple[str, T.DataType]] | T.StructType,
    keep_extra: bool = False,
) -> DataFrame:
    """Force a DataFrame onto a declared column contract (R3op).

    Missing columns become typed NULL literals; output column order is the
    contract order (reference: DICO_EXPECTED_COLUMNS padding at
    update_pnls_report/extract_ist_data.py:156-169 and the always-padded
    report columns at pipeline.py:359-365).
    """
    if isinstance(contract, T.StructType):
        contract = [(f.name, f.dataType) for f in contract.fields]
    existing = set(df.columns)

    # one selectExpr call, not per-column Column objects: at contract
    # width (154-236 columns) the col/cast/alias triple costs ~3 Py4J
    # round trips per column (~1.7 s per call for the IST contract);
    # the SQL spelling is the identical CAST and ships in ONE call
    exprs = [
        f"CAST({sql_ident(name) if name in existing else 'NULL'} "
        f"AS {dtype.simpleString()}) AS {sql_ident(name)}"
        for name, dtype in contract
    ]
    if keep_extra:
        declared = {name for name, _ in contract}
        exprs += [sql_ident(c) for c in df.columns if c not in declared]
    return df.selectExpr(*exprs)
