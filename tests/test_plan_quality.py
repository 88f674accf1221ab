"""Physical-plan quality gates: pin the scale-critical plan properties of
headline queries so a regression (broadcast falling back to sort-merge, a
filter no longer reaching the parquet scan, Python leaking into a JVM
pipeline) fails CI instead of silently costing 10x at scale."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import REGISTRY
from tools.plan_audit import audit, final_plan_string

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _query(spark, name):
    return REGISTRY[name][0](spark, SF_DIR)


def _audit(spark, name):
    return audit(final_plan_string(spark, _query(spark, name)))


def test_flagship_all_joins_broadcast_no_python(spark):
    a = _audit(spark, "flagship_pnls_chain")
    assert a["smj"] == 0, "flagship dim joins must broadcast, not sort-merge"
    assert a["bhj"] >= 3
    assert a["python"] == 0
    assert a["pushed_filters"] >= 1, "date predicate must reach the scan"


def test_pricing_summary_pushdown_and_pruning(spark):
    a = _audit(spark, "pricing_summary")
    assert a["pushed_filters"] == a["scans"] == 1
    # projection pruning: Q1 touches 6 of lineitem's 16 columns
    assert a["read_cols"] == "6"
    assert a["python"] == 0


def test_join_fact_dim_broadcasts(spark):
    a = _audit(spark, "join_fact_dim")
    assert a["bhj"] == 1 and a["smj"] == 0


def test_funnel_pushes_stage_filters(spark):
    a = _audit(spark, "funnel_events")
    # one scan per stage reference, each with its event_type filter pushed
    assert a["pushed_filters"] == a["scans"]
    assert a["smj"] == 0
    assert a["python"] == 0


def test_minhash_pairs_stays_jvm_side(spark):
    a = _audit(spark, "dedup_minhash_lsh_pairs")
    assert a["python"] == 0, "dedup hot path must not leave the JVM"
    assert a["smj"] == 0


def test_runtime_bloom_filter_join_pruning_available(spark):
    """The 100 TB scan-reduction path: with a selective filter on the
    creation side of a shuffle join, Catalyst injects a bloom-filter
    runtime filter onto the application side's scan. Default thresholds
    gate it behind a 10 GiB application-side scan (so it stays out of the
    sf0.1 bench plans on purpose); this test lowers them in an ISOLATED
    newSession (independent SQLConf, shared context — the shared session
    is never mutated) and pins that the rewrite actually fires in our
    stack, so a Spark upgrade or conf regression that silently loses
    runtime filtering fails CI."""
    from pyspark.sql import functions as F

    s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
    )
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    orders = s2.read.parquet(f"{SF_DIR}/orders.parquet")
    li = s2.read.parquet(f"{SF_DIR}/lineitem.parquet")
    sel = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    j = (
        li.join(sel, li.l_orderkey == sel.o_orderkey)
        .groupBy("l_returnflag")
        .count()
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "bloom_filter_agg" in plan, "runtime bloom filter did not inject"
    # and the result is still correct vs a plain join on the shared session
    expect = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .join(
            spark.read.parquet(f"{SF_DIR}/orders.parquet")
            .filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_returnflag")
        .count()
    )
    assert sorted(map(tuple, j.collect())) == sorted(map(tuple, expect.collect()))


def test_aqe_skew_join_split_available(spark):
    """The other automatic 100 TB skew path (beside the explicit salted
    join operator): AQE detects a skewed shuffle partition at runtime and
    splits it across tasks. Thresholds are lowered in an ISOLATED
    newSession so the tiny test shuffle qualifies; the pin is that the
    executed plan carries the skew markers — a Spark upgrade or conf
    regression that silently loses runtime skew handling fails CI."""
    from pyspark.sql import functions as F

    s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
    s2.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB"
    )
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    fact = s2.range(0, 200000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7))
        .otherwise(F.col("id") % 1000)
        .alias("k"),
        F.col("id").alias("v"),
    )
    dim = s2.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    j = fact.join(dim, "k").groupBy().agg(
        F.count("*").alias("n"), F.sum("w").alias("s")
    )
    rows = j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan, "AQE skew-join split did not trigger"
    # correctness unaffected by the split: every fact row matches exactly
    # one dim row; hot key 7 contributes w=14 for 90% of rows, the rest
    # contribute w = 2*(id % 1000) for ids divisible by 10
    assert rows[0].n == 200000
    expect_s = sum(
        14 if i % 10 != 0 else 2 * (i % 1000) for i in range(200000)
    )
    assert rows[0].s == expect_s



def _annotated_at_width(spark, pathology):
    """``apply_rules`` with the pathology's full shipped rule set over its
    real contract (5 facilities of the scaled IST-style fixture)."""
    from hiv_data_integration_spark import ref_constants as rc
    from hiv_data_integration_spark.benchmarks import ist_scaled_fixture
    from hiv_data_integration_spark.operators.rules import apply_rules
    from hiv_data_integration_spark.pipeline.extract import pathology_extract

    analytics, coc, de_map, _ = ist_scaled_fixture(
        spark, n_facilities=5, pathology=pathology
    )
    wide = pathology_extract(
        analytics, coc, de_map, rc.expected_value_columns(pathology)
    )
    return apply_rules(
        wide,
        dict(rc.rules_for(pathology)),
        key_cols=["organisation_unit_id", "period"],
    )


@pytest.mark.parametrize("pathology,n_rules", [("IST", 86), ("PEC", 175)])
def test_rules_at_width_stay_in_whole_stage_codegen(spark, pathology, n_rules):
    """The report pipeline's rule evaluation at REAL width — 86 IST rules
    over the 154-column contract and 175 PEC rules over the 236-column
    contract (the widest shipped payload) — must stay inside whole-stage
    codegen (the reference's hot spot is exactly this loop, per-row Python
    over every rule × row, update_pnls_report/utils.py:300-315). Spark's
    default spark.sql.codegen.maxFields=100 silently dropped the ENTIRE
    wide path to interpreted evaluation (0 codegen spans measured);
    session.py pins 600. This test pins both halves: codegen spans exist,
    and both rule Projects — the one evaluating each rule into a boolean
    and the one turning those into CASE WHEN color chains — sit inside
    one."""
    import re

    from hiv_data_integration_spark import ref_constants as rc
    from hiv_data_integration_spark.operators.rules import RULE_PREFIX

    assert len(rc.rules_for(pathology)) == n_rules
    plan = final_plan_string(spark, _annotated_at_width(spark, pathology))
    a = audit(plan)
    assert a["codegen"] >= 1, "wide rules path fell out of codegen entirely"
    assert a["python"] == 0
    blocks = [
        b for b in re.split(r"\n(?=\(\d+\) )", plan)
        if "Project" in b.split("\n", 1)[0]
    ]
    rule_stage = [b for b in blocks if f"AS {RULE_PREFIX}" in b]
    color_stage = [
        b for b in blocks if "CASE WHEN" in b and "__color" in b
    ]
    assert rule_stage, "no Project evaluating the rule booleans found"
    assert color_stage, "no Project with CASE WHEN color chains found"
    # the formatted plan also lists AQE's initial plan, which has no
    # codegen ids: each stage needs one block inside a codegen span
    for stage in (rule_stage, color_stage):
        assert any("[codegen id :" in b.split("\n", 1)[0] for b in stage), (
            "a rule Project is not inside a whole-stage-codegen span"
        )


def test_rules_evaluate_each_predicate_once(spark):
    """Each of PEC's 175 rules is evaluated once into a boolean column; the
    per-cell colors only read those booleans. Counts the comparison nodes
    in the optimized plan's rule Projects by walking the Catalyst trees
    (the plan string is truncated at maxToStringFields). Copying each
    predicate into every column it touches gives 376, one per (rule,
    touched column) pair; a Catalyst rule that re-inlined the booleans
    into the colors would raise the count too."""
    from hiv_data_integration_spark.operators.rules import (
        COLOR_SUFFIX,
        RULE_PREFIX,
    )

    comparisons = {
        "EqualTo", "EqualNullSafe", "LessThan", "LessThanOrEqual",
        "GreaterThan", "GreaterThanOrEqual",
    }

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def n_comparisons(expr):
        n, stack = 0, [expr]
        while stack:
            e = stack.pop()
            n += e.getClass().getSimpleName() in comparisons
            stack.extend(seq(e.children()))
        return n

    ann = _annotated_at_width(spark, "PEC")
    total = 0
    stack = [ann._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        stack.extend(seq(node.children()))
        if node.getClass().getSimpleName() != "Project":
            continue
        exprs = seq(node.projectList())
        if any(
            e.name().endswith(COLOR_SUFFIX) or e.name().startswith(RULE_PREFIX)
            for e in exprs
        ):
            total += sum(n_comparisons(e) for e in exprs)
    assert total == 175


def test_q5_snowflake_one_spine_shuffle(spark):
    """TPC-H Q5 shape: every dimension hop must broadcast (5 BHJ), all six
    scans carry pushed filters or pruned schemas, and only the
    orders-lineitem spine plus the final aggregate may shuffle."""
    a = _audit(spark, "region_local_supplier_revenue")
    assert a["bhj"] == 5 and a["smj"] == 0
    assert a["scans"] == 6
    assert a["python"] == 0
    assert a["exchanges"] <= 3  # spine join + partial/final agg


def test_q3_broadcasts_and_pushes(spark):
    a = _audit(spark, "shipping_priority_top10")
    assert a["bhj"] == 2 and a["smj"] == 0
    assert a["pushed_filters"] == a["scans"] == 3
    assert a["python"] == 0


def test_recursive_closure_broadcasts_frontier_join(spark):
    a = _audit(spark, "recursive_org_rollup")
    assert a["smj"] == 0 and a["python"] == 0
    assert a["bhj"] >= 1


def test_pq_adc_stays_jvm_broadcast_nlj(spark):
    """PQ ADC scan: the corpus side must not shuffle for scoring — the
    query LUTs broadcast through a nested-loop join (the != predicate);
    a CartesianProduct would mean the broadcast fell through (audit
    counts them together, so also pin the plan string)."""
    a = _audit(spark, "embed_pq_adc_topk")
    assert a["python"] == 0 and a["smj"] == 0
    assert a["nlj"] == 1
    plan = final_plan_string(spark, _query(spark, "embed_pq_adc_topk"))
    assert "CartesianProduct" not in plan


def test_gap_fill_no_sort_merge_no_python(spark):
    a = _audit(spark, "gap_fill_locf_hourly")
    assert a["smj"] == 0 and a["python"] == 0
    assert a["bhj"] >= 1  # grid joins observed broadcast-side


def test_budget_select_never_globally_sorts_the_corpus(spark):
    """token_budget_select's scale claim is "no global sort of the corpus":
    the only Sort nodes allowed are inside the two WINDOW stages (the
    bucket-cardinality-bounded boundary placement and the boundary-bucket
    prefix sum), never a range-partitioned global Sort of the data; the
    bucket metadata must come back via broadcast joins."""
    df = _query(spark, "corpus_budget_select")
    df.collect()
    plan = final_plan_string(spark, df)
    assert "rangepartitioning" not in plan.lower(), (
        "a range-partitioned exchange means the corpus was globally sorted"
    )
    a = audit(plan)
    assert a["python"] == 0
    assert a["bhj"] >= 2, "budget + bucket metadata must broadcast back"
    assert a["smj"] == 0


def test_minhash_eval_truth_is_posting_join_not_cartesian(spark):
    """The exact ground-truth side of dedup_minhash_eval must be the
    posting-list equi-join (O(postings)) — a CartesianProduct here would
    be the all-pairs trap that dies at corpus scale. The only nested
    loops allowed are the two broadcast 1-row×1-row joins that stitch the
    three count aggregates into the summary row."""
    df = _query(spark, "dedup_minhash_eval")
    df.collect()
    plan = final_plan_string(spark, df)
    assert "CartesianProduct" not in plan, (
        "all-pairs fallback in the exact-truth branch"
    )
    a = audit(plan)
    assert a["nlj"] <= 2, "pair branches must join on equi keys"
    assert a["smj"] == 0 or a["bhj"] >= a["smj"]
    assert a["python"] == 0


def test_phash_near_pairs_band_join_no_smj_no_python(spark):
    """The image near-dup candidate join must stay a band-key hash join
    (BHJ under AQE at this SF — never a sort-merge fallback, never a
    cartesian), and everything after the checkpointed decode frame must
    be JVM-side: the pure-Python PNG decode is fenced behind the
    session-cached localCheckpoint, so the pair plan itself reads
    checkpoint blocks with zero Python stages."""
    a = _audit(spark, "multimodal_phash_near_pairs")
    assert a["smj"] == 0, "band join fell back to sort-merge"
    assert a["nlj"] == 0, "near-pairs must never go all-pairs"
    assert a["bhj"] >= 1
    assert a["python"] == 0, "decode must stay fenced behind the checkpoint"


def test_phash_clusters_final_census_jvm_only(spark):
    """The kernelized cluster census (contract → local union-find →
    expand) must keep its final plan free of sort-merge joins; the only
    Python stage is the single-partition union-find kernel solve (the
    decode is checkpoint-fenced like the pairs entry)."""
    a = _audit(spark, "multimodal_phash_clusters")
    assert a["smj"] == 0
    assert a["nlj"] == 0
    assert a["python"] <= 1, "only the union-find kernel may be Python"


def test_media_router_routes_without_decoding(spark):
    """Magic-byte triage must sniff payloads with NATIVE binary
    expressions: exactly one Python stage (the corpus synthesis — input
    scaffolding, not the router) and no joins at all; the routing
    projection + census is a single hash-aggregate pipeline."""
    a = _audit(spark, "multimodal_media_router")
    assert a["python"] == 1, "router must not decode payloads in Python"
    assert a["smj"] == a["bhj"] == a["nlj"] == 0
    assert a["codegen"] >= 1


def test_gif_frame_decode_single_python_fence(spark):
    """The GIF entries are decode-dominated by design, but the plan must
    show exactly the irreducible shape: the session-cached synthesis is
    checkpoint-fenced (scans existing RDD blocks, no Python), one
    mapInPandas decode stage, no joins, no shuffle beyond none at all —
    a pure per-split projection that parallelizes by input split."""
    a = _audit(spark, "multimodal_frame_decode")
    assert a["python"] == 1, "exactly the decode stage may be Python"
    assert a["smj"] == a["bhj"] == a["nlj"] == 0
    assert a["exchanges"] == 0, "frame decode must not shuffle"


def test_scene_cuts_one_fence_one_exchange(spark):
    """The scene-cut pipeline must show its designed shape: exactly one
    Python stage (the decode+dHash fence), one shuffle (the media_id
    lag window; the per-clip census reuses the window's partitioning),
    and no joins — the temporal analysis is pure window/bit arithmetic
    after the fence."""
    a = _audit(spark, "multimodal_scene_cuts")
    assert a["python"] == 1, "decode+dHash must be the only Python stage"
    assert a["smj"] == a["bhj"] == a["nlj"] == 0
    assert a["exchanges"] <= 1, "lag window and census must share one shuffle"


def test_shot_segments_one_fence_one_exchange(spark):
    """Shot segmentation must keep the scene-cut plan shape: one Python
    stage (decode+dHash), one media_id shuffle shared by the lag
    window, the cumulative-sum window, and the per-shot aggregate, and
    no joins."""
    a = _audit(spark, "multimodal_shot_segments")
    assert a["python"] == 1
    assert a["smj"] == a["bhj"] == a["nlj"] == 0
    assert a["exchanges"] <= 1


def test_audio_activity_checkpoint_fenced_no_nlj(spark):
    """Audio activity segmentation: the PCM decode + run-id windows are
    materialized into a localCheckpoint BEFORE the census branches, so
    the audited final plan reads checkpoint blocks with ZERO Python
    stages (the phash convention — without the barrier each aggregation
    branch re-ran the decode fence, measured as 4 Python stages), and
    never a nested-loop join."""
    a = _audit(spark, "multimodal_audio_activity")
    assert a["python"] == 0, "decode must stay fenced behind the checkpoint"
    assert a["nlj"] == 0
