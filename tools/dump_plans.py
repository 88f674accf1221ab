#!/usr/bin/env python
"""Dump .explain("formatted") for named battery queries to plans/<tag>/.

    python tools/dump_plans.py r12 before q1 q2 ...

Writes plans/r12/<query>_before.txt (or _after.txt). Uses sf0.1 — the
bench scale — so plan shapes match what the bench times. Queries whose
result is computed through eager actions (streaming entries, guarded
probes) still produce the final lazy plan that the noop sink executes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hiv_data_integration_spark.benchmarks import (  # noqa: E402
    pipeline_a_ist_scaled,
)
from hiv_data_integration_spark.session import get_spark  # noqa: E402
from __spark_entry__ import REGISTRY  # noqa: E402

ALL = {
    **{name: fn for name, (fn, _) in REGISTRY.items()},
    "pipeline_a_ist_scaled": pipeline_a_ist_scaled,
}


def main() -> None:
    tag, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", tag,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="plan-dump")
    for name in names:
        df = ALL[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print("wrote", path, flush=True)


if __name__ == "__main__":
    main()
