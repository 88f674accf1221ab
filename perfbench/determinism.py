"""Determinism check for the benchmark's workloads.

    python3 perfbench/determinism.py [--seeds 1 2] [--workloads pnls_monthly ...]

For each workload: two runs with the first seed must give identical input
and output digests; a run with the second seed must change the inputs and
still pass every output check (``failed == 0``). Exits non-zero otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import WORKLOADS  # noqa: E402


def run_once(workload: str, seed: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    stamp_line, result_line = proc.stdout.strip().splitlines()[-2:]
    return json.loads(stamp_line)["perfbench_run"], json.loads(result_line)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, nargs=2, default=(1, 2))
    ap.add_argument("--workloads", nargs="+", default=list(WORKLOADS), choices=WORKLOADS)
    args = ap.parse_args()
    seed_a, seed_b = args.seeds
    ok = True
    for w in args.workloads:
        (s1, r1), (s2, r2), (s3, r3) = (run_once(w, s) for s in (seed_a, seed_a, seed_b))
        same = (s1["input_digest"], s1["output_digests"]) == (s2["input_digest"], s2["output_digests"])
        changed = s3["input_digest"] != s1["input_digest"]
        clean = r1["failed"] == r2["failed"] == r3["failed"] == 0
        ok &= same and changed and clean
        print(
            f"{w}: seed {seed_a} x2 identical={same} "
            f"(in {s1['input_digest']}, out {s1['output_digests']}); "
            f"seed {seed_b} inputs changed={changed} "
            f"(in {s3['input_digest']}, out {s3['output_digests']}); failed=0: {clean}"
        )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
