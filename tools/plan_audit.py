#!/usr/bin/env python
"""Physical-plan audit: prints a markdown table of scale-relevant plan
properties for the headline battery queries.

For each query: number of file scans, whether filters reached the parquet
scan (PushedFilters), projected column counts (ReadSchema pruning), number
of Exchanges (shuffles), join strategies, and whole-stage-codegen coverage.
Regenerates PLANS.md:

    python tools/plan_audit.py > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hiv_data_integration_spark.benchmarks import (  # noqa: E402
    pipeline_a_ist_scaled,
)
from hiv_data_integration_spark.session import get_spark  # noqa: E402
from __spark_entry__ import REGISTRY  # noqa: E402

ALL = {
    **{name: fn for name, (fn, _) in REGISTRY.items()},
    # bench-only full-width report pipeline (see bench.py): audited here
    # because it is a recurring top-5 battery cost
    "pipeline_a_ist_scaled": pipeline_a_ist_scaled,
}

# Headline set: the spine query plus one representative per operator family.
HEADLINE = [
    "flagship_pnls_chain",
    "pricing_summary",
    "join_fact_dim",
    "multi_hop_join",
    "semi_join_orders",
    "pivot_sum_returnflag",
    "null_preserving_sum",
    "rules_engine_lineitem",
    "stack_wide_to_long",
    "semester_rollup",
    "window_rank_customers",
    "tumbling_window_events",
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard_pairs",
    "dedup_ngram_dfcap_pairs",
    "dedup_ngram_prefix_filter",
    "python_datasource_scan",
    "multimodal_scene_cuts",
    "warc_record_parse",
    "html_text_extract",
    "robots_prefix_filter",
    "embed_cosine_topk",
    "embed_ivf_topk_label",
    "embed_ann_recall",
    "fuzzy_resolve_blocked",
    "text_quality_scores",
    "text_chunking",
    "text_winnow_fingerprints",
    "text_winnow_overlap_pairs",
    "text_vocab_topk",
    "text_pii_redaction",
    "salted_skew_join",
    "rollup_lineitem",
    "range_join_events",
    "skyline_suppliers",
    "llm_corpus_prep",
    "text_repetition_filter",
    "text_contamination_check",
    "text_tfidf_topk",
    "data_split_sample",
    "embed_quantize_int8",
    "corpus_dataset_card",
    "corpus_token_packing",
    "corpus_unigram_logprob",
    "quality_decile_stats",
    "source_quota_cap",
    "funnel_events",
    "cohort_retention_events",
    "dedup_incremental_batch",
    "corpus_shuffle_shards",
    "zorder_clustered_scan",
    "dedup_semantic_clusters",
    "dedup_semantic_sampled_trainer",
    "rules_inconsistent_routing",
    "text_line_dedup",
    "text_url_canonicalize",
    "user_event_sequences",
    "embed_mean_pool",
    "trailing_window_features",
    "asof_join_two_table",
    "recursive_org_rollup",
    "embed_pq_adc_topk",
    "gap_fill_locf_hourly",
    "window_distribution_funcs",
    "shipping_priority_top10",
    "region_local_supplier_revenue",
    "corpus_dsir_resample",
    "windowed_funnel_events",
    "group_split_no_leakage",
    "graph_pagerank_fixed_point",
    "variant_json_extract",
    "min_cost_supplier_part",
    "order_priority_check",
    "product_type_profit",
    "important_part_value",
    "market_share_by_year",
    "order_count_distribution",
    "small_quantity_revenue",
    "disjunctive_part_filter",
    "weighted_median_price",
    "incremental_agg_maintenance",
    "pit_join_scd2_orders",
    "expectations_suite_lineitem",
    "stable_global_row_ids",
    "rolling_wau_exact",
    "largest_remainder_proration",
    "embed_rrf_fusion",
    # top-of-the-bench additions (r7): the queries where battery time
    # actually goes — the dedup family, the IVF trainer, and the two
    # costliest TPC-H shapes (streaming entries are excluded here: their
    # returned frame is a post-materialization agg over a memory sink,
    # so its plan says nothing about the streaming work itself)
    "dedup_ngram_prefix_filter",
    "cdc_chunk_dedup",
    "dedup_connected_components",
    "dedup_canonical_corpus",
    "embed_ivf_kmeans_topk",
    "bucketed_colocated_join",
    "waiting_supplier_ranking",
    "pipeline_a_ist_scaled",
    # round-7 additions (VERDICT r7 item 5): the committed audit covers
    # every non-streaming r7 entry (streaming_hll_distinct's plan is a
    # memory-sink local scan — its shape is asserted in tests instead)
    "bpe_learn_merges",
    "bpe_encoded_symbols",
    "graph_label_propagation",
    "sketch_hll_distinct",
    "sketch_histogram_quantiles",
    "temperature_mixture_alloc",
    "padding_waste_audit",
    "multimodal_resize_thumb",
    "pii_risk_triage",
    "vocab_coverage_curve",
    "split_leakage_audit",
    "dedup_minhash_eval",
    "corpus_budget_select",
    # round-8 additions
    "sketch_kmv_setops",
    "graph_kcore_peel",
    "fuzzy_blocking_quality",
    "text_tokenizer_fertility",
    "sketch_kmv_jaccard",
    "data_stratified_exact_split",
    "seasonal_index_dow",
    "text_heaps_law_curve",
    "key_candidate_audit",
    "business_day_latency",
    "sql_group_by_all",
    "sql_named_window_clause",
    "sketch_hll_grouped",
    "layout_range_boundaries",
    "coverage_set_orders",
    "nearest_event_probe",
    "freshness_audit_events",
    "multimodal_audio_framing_stub",
    "multimodal_frame_decode",
    "multimodal_frame_sample",
    "multimodal_audio_haar_bands",
    "multimodal_audio_decode",
    "multimodal_audio_energy",
    "multimodal_image_phash",
    "multimodal_phash_near_pairs",
    "multimodal_phash_class_pairs",
    "multimodal_phash_clusters",
    "multimodal_crossmodal_neardup",
    "multimodal_media_router",
    "corpus_gate_funnel",
    "text_stopword_matrix",
    "pivot_multi_agg",
    "sql_range_value_frame",
    "seasonality_heatmap_events",
]


def audit(plan: str) -> dict[str, object]:
    """Parse a formatted explain of an executed adaptive plan.

    The tree section lists both the Final and Initial plans and the detail
    blocks cover every node, so we first collect the node ids reachable
    from the FINAL tree only, then count detail blocks restricted to those
    ids — otherwise every operator is double-counted.
    """
    tree = plan.split("== Initial Plan ==")[0]
    final_ids = set(re.findall(r"\((\d+)\)", tree))

    # detail blocks: "(N) OperatorName [codegen id : K]?" followed by fields
    counts = {
        "scan": 0, "exch": 0, "reused": 0, "bhj": 0, "smj": 0, "nlj": 0,
        "py": 0,
    }
    pushed = 0
    read_cols: list[int] = []
    codegen_ids: set[str] = set()
    block_re = re.compile(
        r"\((\d+)\) ([A-Za-z]+(?: parquet)?)( \[codegen id : (\d+)\])?"
    )
    for m in block_re.finditer(plan):
        nid, op, _, cg = m.groups()
        if nid not in final_ids:
            continue
        if cg is not None:
            codegen_ids.add(cg)
        if op == "Scan parquet":
            counts["scan"] += 1
            # bound the field search to THIS node's detail block — a fixed
            # window could read the next block's PushedFilters
            nxt = re.search(r"\n\(\d+\) ", plan[m.end():])
            tail = plan[m.end(): m.end() + nxt.start() if nxt else len(plan)]
            if re.search(r"PushedFilters: \[(?!\])", tail):
                pushed += 1
            rs = re.search(r"ReadSchema: struct<([^>]*)>", tail)
            if rs:
                read_cols.append(len(rs.group(1).split(",")))
        elif op == "Exchange":
            counts["exch"] += 1
        elif op == "ReusedExchange":
            counts["reused"] += 1
        elif op == "BroadcastHashJoin":
            counts["bhj"] += 1
        elif op == "SortMergeJoin":
            counts["smj"] += 1
        elif op in ("BroadcastNestedLoopJoin", "CartesianProduct"):
            # non-equi joins (skyline dominance, cross joins) plan as
            # nested-loop — count them so a fallback to CartesianProduct
            # (no broadcast) is visible in the audit
            counts["nlj"] += 1
        elif op in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
            counts["py"] += 1
    return {
        "scans": counts["scan"],
        "pushed_filters": pushed,
        "read_cols": "/".join(str(c) for c in read_cols) or "-",
        "exchanges": counts["exch"],
        "reused": counts["reused"],
        "bhj": counts["bhj"],
        "smj": counts["smj"],
        "nlj": counts["nlj"],
        "codegen": len(codegen_ids),
        "python": counts["py"],
    }


def final_plan_string(spark, df) -> str:
    """Execute the query, then return the formatted explain with the FINAL
    adaptive plan (isFinalPlan=true): reused exchanges and codegen ids are
    only visible after AQE has re-planned at runtime."""
    df.collect()
    jvm = spark._sc._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="plan-audit")
    print("# PLANS — physical-plan audit of headline queries")
    print()
    print(f"Generated by `tools/plan_audit.py` at `{sf_dir}`. Columns:")
    print("file scans / scans with pushed parquet filters / projected column")
    print("counts per scan (pruning) / shuffle Exchanges / broadcast vs")
    print("sort-merge joins / whole-stage-codegen spans / Python stages.")
    print()
    print("| query | scans | pushed | read cols | exch | reused | BHJ | SMJ | NLJ | codegen | py |")
    print("|---|---|---|---|---|---|---|---|---|---|---|")
    for name in HEADLINE:
        df = ALL[name](spark, sf_dir)
        plan = final_plan_string(spark, df)
        a = audit(plan)
        print(
            f"| {name} | {a['scans']} | {a['pushed_filters']} | {a['read_cols']} "
            f"| {a['exchanges']} | {a['reused']} | {a['bhj']} | {a['smj']} "
            f"| {a['nlj']} | {a['codegen']} | {a['python']} |"
        )
    print()
    print("Reading the table (final AQE plans, `isFinalPlan=true`):")
    print()
    print("- **pushed > 0** wherever a filter exists on a parquet column —")
    print("  predicates reach the scan, they are not post-filters.")
    print("- **read cols** is the projected subset, not the full table width")
    print("  — column pruning reaches the parquet footer.")
    print("- **reused** counts ReusedExchange nodes: self-joins (dedup")
    print("  posting joins) pay their shuffle once, the other side reads the")
    print("  same exchange output.")
    print("- **BHJ vs SMJ**: dimension joins broadcast; sort-merge appears")
    print("  only where both sides are genuinely large, OR for FULL OUTER")
    print("  joins (the IVM merge, SCD2, RRF fusion) where Spark cannot")
    print("  broadcast either side by definition — those SMJs are the")
    print("  correct physical shape, not a tuning miss. NLJ counts")
    print("  broadcast nested-loop joins (non-equi predicates: skyline")
    print("  dominance, cross joins, pure range joins like the WAU day")
    print("  spine) — a CartesianProduct here would mean the broadcast")
    print("  fell through.")
    print("- **codegen** = distinct whole-stage-codegen spans; 0 would mean")
    print("  the hot path fell back to interpreted evaluation.")
    print("- **py == 0** for every JVM-only query: Python appears only in")
    print("  the fuzzy/uuid5/multimodal operators where a library is the")
    print("  point (Arrow-batched, never row-at-a-time).")
    print("- **0-scan rows are audit artifacts, not missing pushdown**:")
    print("  `dedup_connected_components` returns a localCheckpointed frame")
    print("  (the iterative star loops truncate lineage by design), ")
    print("  `bucketed_colocated_join` reads managed BUCKETED tables (not a")
    print("  raw `Scan parquet` node; its zero-Exchange colocated plan is")
    print("  CI-pinned in tests/test_bucketing.py), and")
    print("  `pipeline_a_ist_scaled` builds its 107,800-row fact in-memory")
    print("  (bench fixture; its single NLJ is the deliberate replicate")
    print("  crossJoin that scales the fixture, not an operator fallback).")
    print("  `bpe_learn_merges`/`bpe_encoded_symbols`/`graph_kcore_peel`")
    print("  likewise audit their FINAL round's plan over a")
    print("  localCheckpointed iteration frame (vocabulary-/edge-sized; the")
    print("  corpus scan happened once, before the first checkpoint), so no")
    print("  parquet scan node survives into the audited tree.")
    print("- **multimodal 0-scan rows (r10)**: the phash and GIF entries read")
    print("  their session-cached localCheckpointed synthesis/decode frames")
    print("  (_PHASH_CACHE/_GIF_CACHE — the persist-once production shape), so no")
    print("  parquet scan node survives into the audited plan; their `py` column")
    print("  shows exactly the one irreducible Arrow decode stage (0 for the")
    print("  phash entries, whose decode is fenced BEHIND the checkpoint).")
    print("- **NLJ on 1-row sides is the scalar-stitch pattern**: the")
    print("  sketch/eval summary queries (`sketch_kmv_setops`,")
    print("  `sketch_hll_distinct`, `dedup_minhash_eval`,")
    print("  `fuzzy_blocking_quality`, `vocab_coverage_curve`, ...) crossJoin")
    print("  broadcast single-row aggregates into one output row — a")
    print("  constant-size exchange, not a data-scaled nested loop.")


if __name__ == "__main__":
    main()
