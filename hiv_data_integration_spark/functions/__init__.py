"""Scalar expression library.

Every row-wise ``map_elements`` UDF in the reference is re-expressed here as
a native Column expression (JVM-side, whole-stage-codegen friendly). The
only true Python UDFs in the engine are the vectorized pandas_udfs in
``hiv_data_integration_spark.operators.fuzzy`` (NFD folding, and token-set
scoring of frames too large to score on the driver) where Python libraries
are genuinely required.

Reference sites are cited per function (SURVEY.md §2.10-2.11).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F

from hiv_data_integration_spark.constants import COC_AGE_LABELS, REPORT_AGE_GROUPS

__all__ = [
    "multi_replace",
    "canonicalize_coc_name",
    "standardize_column_name",
    "dict_lookup",
    "period_to_date",
    "path_segment",
    "idsite_from_path",
    "lenient_double",
    "round_to_long",
    "compound_key",
    "sql_ident",
    "sql_str",
]


def sql_ident(name: str) -> str:
    """``name`` as a backquoted Spark-SQL identifier (backquotes doubled)."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(s: str) -> str:
    """``s`` as a single-quoted Spark-SQL string literal. Spark's parser
    un-escapes backslashes inside literals (``'C:\\new'`` would read as
    ``C:`` + newline + ``ew``), so backslashes are doubled, then quotes."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def multi_replace(col: Column, replacements: Mapping[str, str]) -> Column:
    """Ordered multi-substring literal replacement, then trim.

    Native equivalent of the reference's row-wise ``multi_replace``
    (update_pnls_report/utils.py:252-266): each (old → new) pair is applied
    in dict order as a *literal* (non-regex) replacement.
    """
    out = col
    for old, new in replacements.items():
        out = F.replace(out, F.lit(old), F.lit(new))
    return F.trim(out)


def _strip_chars(col: Column, chars: str) -> Column:
    """Strip any of ``chars`` from both ends (Python ``str.strip(chars)``)."""
    cls = "".join("\\" + c if c in r"\^]-" else c for c in chars)
    return F.regexp_replace(col, f"^[{cls}]+|[{cls}]+$", "")


def canonicalize_coc_name(
    col: Column, age_labels: Mapping[str, str] | None = None
) -> Column:
    """Canonicalize a French COC label into an ``age-token[_F|_M]`` suffix.

    Native re-expression of the lambda at
    update_pnls_report/extract_ist_data.py:80-93:
    ``multi_replace(x).replace('Féminin','').strip().strip(',') + '_F'`` when
    the label mentions Féminin, the ``_M`` twin for Masculin, else just
    ``multi_replace(x)``.
    """
    age_labels = age_labels or COC_AGE_LABELS
    base = multi_replace(col, age_labels)

    def _sexed(marker: str, suffix: str) -> Column:
        cleaned = F.trim(F.replace(base, F.lit(marker), F.lit("")))
        cleaned = F.trim(_strip_chars(cleaned, ","))
        return F.concat(cleaned, F.lit(suffix))

    return (
        F.when(col.contains("Féminin"), _sexed("Féminin", "_F"))
        .when(col.contains("Masculin"), _sexed("Masculin", "_M"))
        .otherwise(base)
    )


def standardize_column_name(
    column: str, age_groups: Mapping[str, str] | None = None
) -> str:
    """Wide column NAME → canonical report value-column name.

    Pure plan-time Python (the reference's ``standardize_column``,
    update_pnls_report/utils.py:318-336, is also applied to column *names*,
    not data): first age token found in the name wins; an ``F``/``M``
    character anywhere in the name picks the sex prefix; no age token →
    ``nosex_noage``.
    """
    age_groups = age_groups or REPORT_AGE_GROUPS
    for label, token in age_groups.items():
        if token in column:
            if "F" in column:
                return f"F_{label}"
            if "M" in column:
                return f"M_{label}"
            return f"nosex_{label}"
    return "nosex_noage"


def dict_lookup(
    col: Column,
    mapping: Mapping[str, str],
    default: Column | None = None,
) -> Column:
    """Constant-dictionary lookup as a literal map expression.

    Replaces the reference's row-wise dict-lookup UDFs
    (update_pnls_report/extract_ist_data.py:71-75,
    extract_ptme_data.py:129-139) with ``F.create_map`` over literals —
    constant-folded by Catalyst, no Python in the loop.
    """
    pairs: list[Column] = []
    for k, v in mapping.items():
        pairs.extend([F.lit(k), F.lit(v)])
    looked = F.create_map(*pairs)[col]
    if default is not None:
        looked = F.coalesce(looked, default)
    return looked


def period_to_date(col: Column) -> Column:
    """``"YYYYMM"`` period string → first-of-month date.

    Reference: ``str.strptime(pl.Datetime("ns"), "%Y%m").cast(pl.Date)``
    (update_pnls_report/pipeline.py:350-354).
    """
    return F.to_date(col.cast("string"), "yyyyMM")


def path_segment(col: Column, segment: int) -> Column:
    """0-based segment of a ``"/uid1/uid2/..."`` org path.

    Reference: ``str.split("/")`` + ``list.get(n)``
    (update_pnls_report/utils.py:355-360). Paths start with the separator so
    data segment ``n`` is split element ``n+1`` (``element_at`` is 1-based →
    ``n+2``).
    """
    return F.element_at(F.split(col, "/"), segment + 2)


def idsite_from_path(col: Column, root_uid: str) -> Column:
    """Org path → ``idsite``: ``"/"``→``"_"`` then strip the root uid.

    Reference: update_pnls_report/pipeline.py:346-354 — ``replace_all("/","_")``
    then ``replace_all("_<root>_", "", literal=True)``: the ``_<root>_`` prefix
    is removed ENTIRELY (empty replacement), so idsite has no leading
    underscore (``"r1_d1_f1"``, not ``"_r1_d1_f1"``).
    """
    return F.replace(
        F.replace(col, F.lit("/"), F.lit("_")), F.lit(f"_{root_uid}_"), F.lit("")
    )


def lenient_double(col: Column, default: float = 0.0) -> Column:
    """Lenient numeric parse: strip quotes/blanks, cast, default on failure.

    Native re-expression of ``convert_value``
    (update_pnls_report/extract_chu_data.py:440-446): empty/blank or
    unparseable values become ``default`` instead of raising.
    """
    cleaned = F.trim(F.regexp_replace(col.cast("string"), "[\"']", ""))
    return F.coalesce(
        F.nullif(cleaned, F.lit("")).try_cast("double"), F.lit(default)
    )


def round_to_long(col: Column) -> Column:
    """HALF_UP round to 0 decimals then cast to long.

    Reference: ``pl.col(pl.NUMERIC_DTYPES).round(0).cast(pl.Int64)``
    (update_pnls_report/extract_ist_data.py:169).
    """
    return F.round(col, 0).cast("long")


def compound_key(*cols: Column, sep: str = ".") -> Column:
    """``"<a>.<b>"`` compound key used for data-element × COC mapping ids
    (update_pnls_report/extract_ptme_data.py:68-90)."""
    return F.concat_ws(sep, *cols)


def business_days_between(start: Column, end: Column) -> Column:
    """Weekday (Mon–Fri) count in the half-open date interval
    ``[start, end)`` — closed-form integer arithmetic, no calendar UDF
    and no per-day explode: with ``m = epoch_day + 3`` (epoch day 0 is a
    Thursday, so ``m % 7 == 0`` is a Monday),
    ``f(d) = (m div 7) * 5 + least(m % 7, 5)`` counts the weekdays
    before ``d``, and the answer is ``f(end) − f(start)``. All integer
    div/mod/least — exact and identical on any engine; negative spans
    return negative counts (callers filter). Holidays are out of scope
    by contract (a holiday table would be a broadcast anti-join on top).
    """

    def f(d: Column) -> Column:
        m = F.unix_date(d.cast("date")).cast("long") + F.lit(3)
        # (m - m%7)/7 is the exact integer week count: the numerator is
        # divisible by 7 and epoch-day magnitudes (~1e4) are far inside
        # double's exact-integer range, so the division cannot round
        weeks = ((m - F.pmod(m, F.lit(7))) / F.lit(7)).cast("long")
        return weeks * F.lit(5) + F.least(F.pmod(m, F.lit(7)), F.lit(5))

    return (f(end) - f(start)).cast("long")
