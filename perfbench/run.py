"""Benchmark entry point.

    python3 perfbench/run.py --workload pnls_monthly --seed 1 --seconds 1 --trace 0

Runs one workload against the engine in this checkout
(``hiv_data_integration_spark/``) and prints, as the last stdout line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it stamps the host and the run. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("pnls_monthly", "chu_quarterly", "corpus_dedup")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hiv_data_integration_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    module = importlib.import_module(f"perfbench.{args.workload}")
    result, stamp = harness.run(
        module.Workload, ROOT, args.seed, args.seconds, bool(args.trace)
    )
    print(json.dumps({"perfbench_run": stamp}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
