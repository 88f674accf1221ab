#!/usr/bin/env python
"""Benchmark harness: runs the battery's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes end-to-end via a noop sink (full computation, no driver
collect). Timings exclude session startup; a warmup query primes the JVM.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hiv_data_integration_spark.benchmarks import (  # noqa: E402
    pipeline_a_ist_scaled,
)
from hiv_data_integration_spark.session import get_spark  # noqa: E402
from __spark_entry__ import REGISTRY  # noqa: E402

ALL_QUERIES = {
    **{name: fn for name, (fn, _) in REGISTRY.items()},
    # bench-only (no DuckDB oracle; pipeline goldens cover correctness in
    # tests/test_pipelines.py): the full report pipeline at real width —
    # 154-col IST contract × 86 compiled rules over a 107,800-row fact —
    # measures the rule compiler's codegen behavior, the reference's hot
    # spot (update_pnls_report/utils.py:300-315)
    "pipeline_a_ist_scaled": pipeline_a_ist_scaled,
}


def load_floors(baseline_path: str | None = None) -> dict[str, float]:
    """Parse the per-query floor tables out of BASELINE.md
    (``| query | floor (s) | notes |`` sections). Floors are min-of-N
    quiet-box sf0.1 readings — the drift detector's reference points."""
    if baseline_path is None:
        baseline_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BASELINE.md"
        )
    floors: dict[str, float] = {}
    try:
        lines = open(baseline_path, encoding="utf-8").read().splitlines()
    except OSError:
        return floors
    in_tbl = False
    for line in lines:
        if line.startswith("| query | floor (s) |"):
            in_tbl = True
            continue
        if in_tbl:
            if not line.startswith("|"):
                in_tbl = False
                continue
            parts = [p.strip() for p in line.strip().strip("|").split("|")]
            if not parts or parts[0].startswith("---"):
                continue
            try:
                floors[parts[0]] = float(parts[1])
            except (IndexError, ValueError):
                continue
    return floors


def full_sf_is_baseline(sf: str) -> bool:
    """BASELINE.md floors are sf0.1 readings; floor ratios at any other
    scale factor would be meaningless."""
    return sf == "0.1"


#: how many floored queries must simultaneously exceed 1.5x their quiet
#: floors before the artifact flags itself as a hot-box reading. A real
#: regression is localized (the code that changed); box heat inflates the
#: whole battery uniformly (BASELINE.md documents p10 1.04x / p90 2.75x
#: swings on unchanged code) — 10 simultaneous exceedances on a 300-query
#: battery is far past any plausible single-change blast radius.
DRIFT_SUSPECT_MIN_EXCEEDANCES = 10


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="hiv-engine-bench")

    # warmup: JVM + parquet footer caches
    ALL_QUERIES["pricing_summary"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    # warmup: Python worker pool — the first wide pandas_udf stage otherwise
    # pays one pandas import per spawned worker (~10 s across 32 cores),
    # which is daemon startup cost, not query cost
    import pandas as _pd

    def _noop(it):
        for pdf in it:
            yield pdf

    (
        spark.range(0, 64, 1, 64)
        .mapInPandas(_noop, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    # three passes per query, report the min: pass 1 pays one-off costs
    # (codegen compilation, parquet footers, Python worker ramp) that are
    # amortized away in any long-running deployment; the per-query MIN is
    # the steady-state cost and the only reading stable under box load
    # (BASELINE.md documents 1.3-4x total swings on unchanged code; the
    # round-7 close artifact read 1.23x floors purely from heat). Raised
    # from 2 to 3 in round 8 so the official close artifact is
    # min-of-3-grade by default.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    # optional focus list for local profiling: comma-separated query names
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    queries = ALL_QUERIES
    if only:
        wanted = [q.strip() for q in only.split(",") if q.strip()]
        queries = {q: ALL_QUERIES[q] for q in wanted}
    # NB: no forced GC between queries — measured WORSE (a System.gc()
    # wakes ContextCleaner, whose async broadcast/accumulator cleanup then
    # overlaps the next timed query; full-battery A/B at sf0.1 showed the
    # md5-heavy dedup queries 1.5-2x slower with pre-query GC).
    load_before = [round(x, 2) for x in os.getloadavg()]
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name, fn in queries.items():
        samples: list[float] = []
        for _ in range(runs):
            start = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - start)
        samples.sort()
        timings[name] = round(samples[0], 3)
        # within-artifact noise label: median-run / min-run. ~1.0 means
        # the runs agreed (a trustworthy floor); >>1 means the box was
        # jittering WHILE this artifact was produced. True median (mean
        # of the two middle samples for even N) so even run counts don't
        # overstate spread by picking the upper-middle sample.
        if samples[0] > 0:
            mid = len(samples) // 2
            med = (
                samples[mid]
                if len(samples) % 2
                else (samples[mid - 1] + samples[mid]) / 2
            )
            spreads[name] = round(med / samples[0], 2)

    load_after = [round(x, 2) for x in os.getloadavg()]
    total = round(sum(timings.values()), 3)

    # Self-labeling against box drift: compare each query to its quiet
    # min-of-N floor (BASELINE.md). Uniform inflation across many
    # UNRELATED queries is a hot box, not a regression — flag it in the
    # artifact itself so a reader never has to reverse-engineer the
    # distinction from raw numbers (the round-8 driver artifact read
    # 1.31x median on unchanged code with nothing in the JSON saying so).
    floors = load_floors() if full_sf_is_baseline(sf) else {}
    drift: dict[str, object] = {}
    if floors:
        ratios = sorted(
            timings[q] / floors[q]
            for q in timings
            if q in floors and floors[q] > 0
        )
        if ratios:
            over = sum(1 for r in ratios if r > 1.5)
            n = len(ratios)
            true_median = (
                ratios[n // 2]
                if n % 2
                else (ratios[n // 2 - 1] + ratios[n // 2]) / 2
            )
            drift = {
                "floor_ratio_median": round(true_median, 2),
                "floor_ratio_p90": round(
                    ratios[min(n - 1, int(n * 0.9))], 2
                ),
                "n_over_floor_1_5x": over,
                "n_floored": len(ratios),
                "drift_suspect": over >= DRIFT_SUSPECT_MIN_EXCEEDANCES,
            }

    full_payload = {
        "queries": timings,
        "run_spread": spreads,
        "n_queries": len(timings),
        "runs_per_query": runs,
        "loadavg_before": load_before,
        "loadavg_after": load_after,
        **drift,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "metric": "battery_total_wall",
        "value": total,
        "unit": "sec",
    }
    # the complete artifact, always parseable regardless of tail budget.
    # SPARK_GRAFT_BENCH_ONLY runs write a separate, git-ignored focused
    # file, so BENCH_full_latest.json always holds the full battery it
    # promises and a profiling run leaves the tree clean.
    artifact = ".bench_focused_latest.json" if only else "BENCH_full_latest.json"
    if only:
        full_payload["only_filter"] = sorted(timings)
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), artifact
    )
    with open(full_path, "w") as f:
        json.dump(full_payload, f, indent=1)
        f.write("\n")
    # The driver archives only the LAST 2000 CHARS of stdout and tries to
    # parse them as JSON: a single 272-query line (~9 KB) can never parse
    # (BENCH_r01–r05 all recorded "parsed": null).  So stdout carries ONE
    # SHORT line: the battery totals plus a fixed headline-query subset,
    # hard-capped well under the tail budget; the full per-query map
    # lives in BENCH_full_latest.json (committed every round).
    headline = [
        "flagship_pnls_chain", "pipeline_a_ist_scaled", "pricing_summary",
        "rules_engine_lineitem", "dedup_exact_docs",
        "dedup_minhash_lsh_pairs", "dedup_connected_components",
        "cdc_chunk_dedup", "embed_cosine_topk", "embed_ivf_kmeans_topk",
        "text_tfidf_topk", "text_lang_id", "fuzzy_resolve_suppliers",
        "salted_skew_join", "bucketed_colocated_join",
        "zorder_clustered_scan", "streaming_tumbling_counts",
        "rollup_lineitem", "count_distinct_parts", "pvm_brand_yoy",
        "sessionize_events", "scd2_customer_history", "asof_join_two_table",
        "window_rank_customers",
    ]
    summary = {
        "metric": "battery_total_wall",
        "value": total,
        "unit": "sec",
        "sf": full_payload["sf"],
        "n_queries": len(timings),
        "runs_per_query": runs,
        "loadavg": [load_before[0], load_after[0]],
        **drift,
        "queries": {
            q: round(timings[q], 2) for q in headline if q in timings
        },
        "queries_full": artifact,
    }
    line = json.dumps(summary, separators=(",", ":"))
    while len(line) > 1800 and summary["queries"]:
        summary["queries"].popitem()
        line = json.dumps(summary, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
