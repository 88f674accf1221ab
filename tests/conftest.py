from __future__ import annotations

import pytest

from hiv_data_integration_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="hiv-engine-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield spark


@pytest.fixture()
def python_eval_nodes():
    """Return a probe listing the Python-evaluation nodes (pandas/Python
    UDFs, mapInPandas) in a DataFrame's executed plan."""
    nodes = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas")

    def probe(df) -> list[str]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        return [n for n in nodes if n in plan]

    return probe
