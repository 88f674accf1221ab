"""Differential tests: every battery query vs its DuckDB oracle.

Replicates the driver's correctness gate locally (row count + schema column
names + order-insensitive value comparison) at sf0.001 so regressions are
caught before the driver runs sf0.01.
"""

from __future__ import annotations

import datetime
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import REGISTRY  # noqa: E402
from hiv_data_integration_spark.battery import TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm_value(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # floats are engineered to be bit-deterministic; keep full precision
        return v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (int, str)):
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_value(x)) for k, x in v.items()))
    try:  # decimals and friends
        return float(v)
    except (TypeError, ValueError):
        return str(v)


def _normalize(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm_value(row[i]) for i in order) for row in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return [columns[i] for i in order], out


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark, duck):
    query, oracle = REGISTRY[name]
    sdf = query(spark, SF_DIR)
    # driver-hashability gate: the official harness canonicalizes in pandas
    # and ERRORS on ArrayType/MapType outputs (round-4 reds) — this local
    # harness tuple-izes lists, so without this check it is silently laxer
    # than the spec
    from hiv_data_integration_spark.battery import driver_hashable_violations

    viols = driver_hashable_violations(sdf.schema)
    assert not viols, (
        f"{name}: output columns {viols} are unhashable by the driver's "
        f"pandas canonicalizer — scalarize (concat_ws / posexplode / checksum)"
    )
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column names differ: {spark_cols} vs {duck_cols}"
    )
    s_cols, s_rows = _normalize(spark_cols, spark_rows)
    d_cols, d_rows = _normalize(duck_cols, duck_rows)
    if len(s_rows) != len(d_rows):
        from collections import Counter

        extra = Counter(s_rows) - Counter(d_rows)
        missing = Counter(d_rows) - Counter(s_rows)
        raise AssertionError(
            f"{name}: row count {len(s_rows)} vs oracle {len(d_rows)}; "
            f"spark-extra={list(extra)[:3]} spark-missing={list(missing)[:3]}"
        )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"
