"""REST-API source adapters: a driver-side fetch with retry, into Arrow.

Reference semantics re-expressed Spark-first:

- S4 DHIS2 analytics scan (``update_pnls_report/extract_ist_data.py:58-64``;
  raw variant ``update_pnls_report/extract_pec_data.py:209-213``): fetch the
  long fact shape ``(data_element_id, category_option_combo_id,
  organisation_unit_id, period, value)`` for a (data-elements × periods)
  request grid.
- S5 NAOMI scan (``update_pnls_report/extract_naomi_data.py:64-96``): a
  28-request grid (indicator × sex × age), each returning nested JSON
  ``[{"subareas": [{"subareas": [{code, name, mean}]}]}]``.
- S6 parallel fetch harness (``update_pnls_report/utils.py:54-96``): 5
  worker threads, retry once after a sleep, log-and-drop on the second
  failure.

Spark design: the fetch is I/O-bound and source-sized, so it runs where the
reference runs it — on the driver, on a pool of 5 threads, with the same
retry-then-drop policy. It is **eager**: a source fetches when it is
called, and every row lands in one ``pyarrow.Table`` that Spark takes as a
local relation. However often the plan is evaluated afterwards (a pivot
probe, a cache miss, several sinks), each request runs once, and no Spark
job or Python worker is involved. A dropped request is logged as a
warning. The fetch callable is injected — tests use fakes; a production
deployment passes a closure over ``requests``. Fetchers are called from
several threads at once and must be thread-safe.

Nested-JSON flattening happens JVM-side: the fetcher returns raw JSON
strings and ``flatten_naomi_json`` applies ``from_json`` + double
``F.explode`` — the UDTF-shaped logic of the reference's list
comprehension, as Catalyst operators.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "fetch_to_frame",
    "ANALYTICS_SCHEMA",
    "dhis2_analytics_source",
    "NAOMI_FETCH_SCHEMA",
    "naomi_grid",
    "naomi_source",
    "flatten_naomi_json",
]

_log = logging.getLogger(__name__)

# The reference harness's pool size (update_pnls_report/utils.py:54-96).
_FETCH_THREADS = 5

# Long fact contract for DHIS2-style analytics extracts (§1.1.2).
ANALYTICS_SCHEMA = T.StructType(
    [
        T.StructField("data_element_id", T.StringType()),
        T.StructField("category_option_combo_id", T.StringType()),
        T.StructField("organisation_unit_id", T.StringType()),
        T.StructField("period", T.StringType()),
        T.StructField("value", T.StringType()),
    ]
)

# Raw JSON payload shape returned by the NAOMI fetcher (one row per request).
NAOMI_FETCH_SCHEMA = T.StructType(
    [
        T.StructField("indicator", T.StringType()),
        T.StructField("coc_name", T.StringType()),
        T.StructField("payload_json", T.StringType()),
    ]
)

_NAOMI_JSON_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField(
                "subareas",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField(
                                "subareas",
                                T.ArrayType(
                                    T.StructType(
                                        [
                                            T.StructField("code", T.StringType()),
                                            T.StructField("name", T.StringType()),
                                            T.StructField("mean", T.DoubleType()),
                                        ]
                                    )
                                ),
                            )
                        ]
                    )
                ),
            )
        ]
    )
)


def fetch_to_frame(
    spark: SparkSession,
    params: list[dict],
    fetch_fn: Callable[[dict], list[dict]],
    out_schema: T.StructType,
    max_retries: int = 1,
    retry_sleep: float = 5.0,
) -> DataFrame:
    """Fetch now, on the driver: one ``fetch_fn(param) -> [row_dict]`` call
    per grid entry on a pool of 5 threads, every row in one Arrow table,
    handed to Spark as one local relation. Rows keep grid order whatever
    order the threads finish in.

    Retry policy mirrors the reference harness: on exception sleep
    ``retry_sleep`` and retry up to ``max_retries`` times, then **drop the
    request** — partial results beat a failed job for monitoring-style
    pipelines. Drops are logged: one warning per call with the dropped
    count, each dropped param and its last error, and the traceback of the
    last one.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    def fetch_one(param: dict) -> list[dict] | Exception:
        for attempt in range(max_retries + 1):
            if attempt:
                time.sleep(retry_sleep)
            try:
                return fetch_fn(param)
            except Exception as e:  # a drop, logged below
                err = e
        return err

    with ThreadPoolExecutor(_FETCH_THREADS) as pool:
        results = list(pool.map(fetch_one, params))
    dropped = [(p, r) for p, r in zip(params, results) if isinstance(r, Exception)]
    if dropped:
        _log.warning(
            "REST fetch dropped %d of %d requests after %d retries: %s",
            len(dropped),
            len(params),
            max_retries,
            [(p, f"{type(e).__name__}: {e}") for p, e in dropped],
            exc_info=dropped[-1][1],
        )
    rows = [row for r in results if not isinstance(r, Exception) for row in r]
    # a pyarrow Table goes through Arrow even when the session's Arrow
    # conf is off; a list or pandas frame would fork Python workers
    return spark.createDataFrame(
        pa.Table.from_pylist(rows, schema=to_arrow_schema(out_schema))
    )


def dhis2_analytics_source(
    spark: SparkSession,
    fetch_fn: Callable[[dict], list[dict]],
    data_elements: list[str],
    periods: list[str],
    org_unit_level: int = 4,
    **fetch_kw,
) -> DataFrame:
    """DHIS2 analytics extract: fetch the (data_element × period) grid now,
    on the driver (see :func:`fetch_to_frame`); each fetch returns
    long-format rows (ANALYTICS_SCHEMA). ``fetch_fn`` receives
    ``{data_element, period, org_unit_level}`` and must be safe to call
    from several threads at once.

    The org-unit level is pushed down into each request — predicate
    pushdown for a REST source is parameterization, exactly as the
    reference pushes ``org_unit_levels=[4]`` into the API call.
    """
    grid = [
        {"data_element": de, "period": pe, "org_unit_level": org_unit_level}
        for de in data_elements
        for pe in periods
    ]
    return fetch_to_frame(spark, grid, fetch_fn, ANALYTICS_SCHEMA, **fetch_kw)


# NAOMI request grid: 2 indicators × 2 sexes × 7 age codes = 28 requests
# (update_pnls_report/extract_naomi_data.py:42-75).
_NAOMI_INDICATORS = ["aware_plhiv_num", "plhiv"]
_NAOMI_SEXES = ["male", "female"]
_NAOMI_AGES = [
    "Y000_004", "Y005_009", "Y010_014", "Y015_019",
    "Y020_024", "Y025_049", "Y050_999",
]


def naomi_grid() -> list[dict]:
    """The 28-cell (indicator × sex × age_code) request grid."""
    return [
        {"indicator": ind, "sex": sex, "age_code": age}
        for ind in _NAOMI_INDICATORS
        for sex in _NAOMI_SEXES
        for age in _NAOMI_AGES
    ]


def flatten_naomi_json(raw: DataFrame) -> DataFrame:
    """Flatten NAOMI nested-subareas JSON JVM-side.

    ``from_json`` + two ``explode``s replace the reference's Python list
    comprehension (``update_pnls_report/extract_naomi_data.py:78-84``) —
    the one UDTF-shaped operation in the reference, expressed as Catalyst
    generators so it codegens and scales with the data, not the driver.
    """
    parsed = raw.withColumn(
        "doc", F.from_json(F.col("payload_json"), _NAOMI_JSON_SCHEMA)
    )
    return (
        parsed.select(
            "indicator", "coc_name", F.explode("doc").alias("top")
        )
        .select("indicator", "coc_name", F.explode("top.subareas").alias("mid"))
        .select("indicator", "coc_name", F.explode("mid.subareas").alias("leaf"))
        .select(
            F.col("leaf.code").alias("code"),
            F.col("leaf.name").alias("name"),
            F.col("leaf.mean").alias("mean"),
            "indicator",
            "coc_name",
        )
    )


def naomi_source(
    spark: SparkSession,
    fetch_fn: Callable[[dict], list[dict]],
    **fetch_kw,
) -> DataFrame:
    """NAOMI estimates source: the 28 requests are fetched now, on the
    driver (see :func:`fetch_to_frame`), then flattened JVM-side.

    ``fetch_fn`` receives ``{indicator, sex, age_code}`` and returns one
    row ``{indicator, coc_name, payload_json}`` (or [] / raise to drop /
    retry); it must be safe to call from several threads at once. Output:
    ``(code, name, mean, indicator, coc_name)``.
    """
    raw = fetch_to_frame(spark, naomi_grid(), fetch_fn, NAOMI_FETCH_SCHEMA, **fetch_kw)
    return flatten_naomi_json(raw)
