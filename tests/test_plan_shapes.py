"""Plan-shape regression tests: lock in the scale rules VERDICT r1/r2
established — pushdown reaches the scan, dimensions broadcast, fact-fact
joins are left to AQE (no forced broadcast of growing tables).
"""

from __future__ import annotations

import re

import pytest

from geo_db_spark.plans.report import plan_stats
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def qs():
    from geo_db_spark import workload

    return workload.queries()


def test_q1_filter_pushed_and_pruned(spark, qs):
    plan = _plan(qs["q1_pricing_summary"](spark, SF_SMOKE))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan's column list must not include unused
    # columns (ReadSchema prints truncated, so parse the bracket list)
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m and "l_orderkey" not in m.group(1) and "l_partkey" not in m.group(1)


def test_q6_aggregate_is_partial(spark, qs):
    plan = _plan(qs["q6_revenue_forecast"](spark, SF_SMOKE))
    # map-side partial aggregation before the single-row exchange
    assert plan.count("HashAggregate") >= 2
    assert "PushedFilters" in plan


def test_q3_no_forced_fact_broadcast(spark):
    """The r1 fix: q3's orders/customer sides must not carry an explicit
    broadcast hint — the LOGICAL plan must be hint-free on fact tables
    (AQE may still choose broadcast at runtime from actual sizes)."""
    from geo_db_spark import workload

    df = workload.queries()["q3_shipping_priority"](spark, SF_SMOKE)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    # no ResolvedHint survives on the fact side (dimension hints are
    # stripped by now into join strategies; a forced fact broadcast
    # would appear as a hint node in the analyzed plan)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    for line in analyzed.splitlines():
        if "UnresolvedHint" in line or "ResolvedHint" in line:
            assert "orders" not in line.lower() and "customer" not in line.lower(), line


def _hint_subtrees(analyzed: str) -> list[str]:
    """Extract the subtree under each ResolvedHint/UnresolvedHint node of a
    Spark logical-plan tree string (children are printed deeper-indented)."""
    lines = analyzed.splitlines()

    def depth(s: str) -> int:
        return len(s) - len(s.lstrip(" :+-"))

    out = []
    for i, line in enumerate(lines):
        if "ResolvedHint" not in line and "UnresolvedHint" not in line:
            continue
        d = depth(line)
        sub = [line]
        for nxt in lines[i + 1:]:
            if depth(nxt) <= d:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


# every query the r3 verdict flagged for a forced broadcast of an
# SF-scaling table (part 200->2k->20k, supplier 10->100->1k, customer
# fact-scale across sf0.001/0.01/0.1)
SCALING_HINT_OFFENDERS = [
    "g1_rollup_revenue",
    "q2_min_cost_supplier",
    "q5_local_supplier_volume",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_parts",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_part_supplier_counts",
    "q17_small_quantity_revenue",
    "q19_disjunctive_revenue",
    "q20_promotion_suppliers",
    "q21_suppliers_kept_waiting",
    # r4 additions: corpus/fact tables scale too — a hint subtree must
    # never reach documents/events either (embeddings is exempt from the
    # blanket rule: ANN queries legitimately broadcast the vec_id<10
    # query-side projection, which still scans embeddings.parquet)
    "pack_sequences_report",
    "dedup_incremental_bloom",
    "cdc_snapshot_diff",
    "merge_upsert_customers",
    "g18_salted_join_events",
    "ann_lsh_multitable_topk",
]


@pytest.mark.parametrize("name", SCALING_HINT_OFFENDERS)
def test_no_static_broadcast_of_scaling_tables(spark, qs, name):
    """Static broadcast hints are allowed ONLY on region/nation (fixed 5/25
    rows) and single-row scalar aggregates. part/supplier/customer grow with
    SF — at 100 TB a forced broadcast is an OOM. The analyzed plan's hint
    subtrees must not reach any of their parquet scans."""
    df = qs[name](spark, SF_SMOKE)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    for sub in _hint_subtrees(analyzed):
        for t in (
            "part.parquet",
            "supplier.parquet",
            "customer.parquet",
            "orders.parquet",
            "lineitem.parquet",
            "documents.parquet",
            "events.parquet",
        ):
            assert t not in sub, f"{name}: broadcast hint covers scaling table {t}:\n{sub[:2000]}"


def test_dim_broadcast_in_q5(spark, qs):
    plan = _plan(qs["q5_local_supplier_volume"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan  # region/nation/supplier dims


def test_minhash_no_python_udf(spark, qs):
    """The whole minhash path stays JVM-side: no BatchEvalPython /
    ArrowEvalPython nodes anywhere in the plan."""
    plan = _plan(qs["dedup_minhash_lsh_pairs"](spark, SF_SMOKE))
    assert "EvalPython" not in plan


def test_g9_rangejoin_is_hash_join_not_cartesian(spark, qs):
    plan = _plan(qs["g9_range_join_clicks"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_curation_ops_stay_jvm_side(spark, qs):
    """The curation operators must not fall back to row-at-a-time Python
    (BatchEvalPython) or interpreted-lambda hot paths; dup_spans must hash
    token columns (multi-column xxhash64), never build window strings."""
    for name in ("text_gopher_repetition", "text_c4_filters", "text_dup_spans"):
        plan = _plan(qs[name](spark, SF_SMOKE))
        assert "BatchEvalPython" not in plan, name
    dup = _plan(qs["text_dup_spans"](spark, SF_SMOKE))
    assert "xxhash64" in dup and "concat_ws" not in dup


def test_triangle_count_no_product_joins(spark, qs):
    """Triangle counting must stay on equi-joins + array_intersect — a
    CartesianProduct or nested-loop join means the wedge enumeration
    regressed to something that cannot scale."""
    plan = _plan(qs["g15_triangle_count"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "array_intersect" in plan


def test_semdedup_subsplit_single_exchange(spark):
    """The r6 sub-split must NOT add a shuffle: hashpartitioning(cell)
    satisfies the Gram stage's (cell, chunk) clustering, so the
    row_number window and the applyInPandas share one exchange."""
    from geo_db_spark.workload.similarity import (
        _ivf_cells_assigned_arrow,
        semdedup_cell_pairs,
    )
    from tests.conftest import SF_SMOKE

    assigned = _ivf_cells_assigned_arrow(spark, SF_SMOKE).select(
        "cell", "vec_id", "embedding"
    )
    plan = semdedup_cell_pairs(assigned)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_scd2_single_exchange(spark, qs):
    """scd2_history's two windows + the collapse filter must ride ONE
    hashpartitioning exchange (same partitionBy/orderBy -> Spark reuses
    the sort); a second exchange would double the operator's only wide
    stage at 100 TB."""
    plan = _plan(qs["cdc_scd2_event_type_history"](spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_simjoin_prefix_join_is_smj_with_index_side_filter(spark):
    """The prefix self-join must stay a sort-merge join (both sides are
    O(corpus) — any broadcast/shuffle-hash build is a scale hazard), and
    since r7 the index side must carry the short-prefix filter (pos <=
    indexing length) — the structural PPJoin cut."""
    from geo_db_spark.io import load
    from geo_db_spark.operators.simjoin import set_similarity_join

    docs = load(spark, SF_SMOKE, "documents")
    cand = set_similarity_join(docs, 1, 2, _return_candidates=True)
    plan = _plan(cand)
    assert "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # the index-side prefix filter: pos <= n - ceil(2tn/(1+t)) + 1 shows
    # up as a pos-vs-n comparison pushed below the join on ONE side
    # (catalyst folds pos as (pos0 + 1) into the filter)
    assert re.search(r"pos0#\d+ \+ 1\) as bigint\) <= \(\(n#\d+L? -", plan), (
        "index-side prefix filter missing"
    )


def test_bigram_lm_scoring_join_broadcasts(spark, qs):
    """The r7 bigram-LM scorer: the capped 4096-row model must probe as
    a broadcast hash join (never a vocab-sized shuffle join), and the
    whole path stays JVM-side (no Python evals)."""
    plan = _plan(qs["text_bigram_lm_score"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan


def test_editjoin_no_cartesian_and_skinny_join(spark, qs):
    """The FastSS candidate join must be a hash/SMJ equi-join on the
    variant hash — never a cartesian/BNL product — and the variant
    STRING must not survive into the join (only the 64-bit hash)."""
    plan = _plan(qs["dedup_editdist_customer_names"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # join keys are the xxhash64 columns, not raw variant strings
    assert "xxhash64" in plan


def test_chunk_windows_is_pure_map(spark, qs):
    """Chunking is a per-row generate — zero exchanges in the plan."""
    plan = _plan(qs["text_chunk_windows"](spark, SF_SMOKE))
    assert "Exchange" not in plan
    assert "Generate" in plan  # the posexplode


def test_bm25_no_python_and_take_ordered(spark, qs):
    """BM25 stays JVM-side (no Python workers in the plan) and the
    top-100 compiles to TakeOrderedAndProject, not a global sort."""
    plan = _plan(qs["text_bm25_rank"](spark, SF_SMOKE))
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_rrf_no_single_partition_rank_windows(spark, qs):
    """The three global ranks come from assign_stable_ids — the only
    window allowed is the final one over the 100 survivors (which sits
    above a TakeOrderedAndProject). No Window node may read an
    Exchange SinglePartition over the full doc set: assert the plan has
    exactly one Window and a TakeOrderedAndProject below it."""
    plan = _plan(qs["text_rrf_fusion"](spark, SF_SMOKE))
    assert plan.count("Window") == 1
    assert "TakeOrderedAndProject" in plan
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")


def test_nfc_normalize_is_arrow_batched_pure_map(spark, qs):
    """The NFC stage is the honest Pandas path: exactly one Arrow-batched
    python node (MapInPandas), zero exchanges around it."""
    plan = _plan(qs["text_nfc_normalize"](spark, SF_SMOKE))
    assert "MapInPandas" in plan
    assert "Exchange" not in plan


# Every ANN query whose candidate stream is not O(k*|Q|) by
# construction — bucket/cell-bounded still means a linear corpus
# FRACTION per query — must carry the batch-local pre-cut.
# name -> expected python nodes (multiprobe also has the Arrow cell
# assigner; both its MapInPandas nodes sit below the q_id windows)
ANN_PRECUT = {
    "ann_sq8_topk": 1,
    "ann_pq_topk": 1,
    "ann_ivf_pq_topk": 1,
    "ann_ivf_pq_residual_topk": 1,
    # r8 verdict #1: the remaining eight, propagated in r9
    "ann_cosine_topk": 1,
    "ann_lsh_topk": 1,
    "ann_ivf_topk": 1,
    "ann_ivf_multiprobe_topk": 2,
    "ann_lsh_multitable_topk": 1,
    "ann_mrl_prefix_topk": 1,
    "emb_hard_negative_mining": 1,
    "ann_ivf_kmeans_topk": 1,
    # r9: OPQ permutation rides cosine_topk_pq's cut unchanged
    "ann_opq_topk": 1,
}


@pytest.mark.parametrize("name", sorted(ANN_PRECUT))
def test_scan_ann_window_never_consumes_unreduced_scan(spark, qs, name):
    """r7 verdict #1 (extended to the whole family by r8 verdict #1):
    every ANN query must batch-local pre-cut candidates
    (batch_local_topm, a MapInPandas inside the scan stage) BEFORE any
    per-q_id window — a bare Window.partitionBy(q_id) over the
    candidate stream funnels each query's O(|corpus|)-or-linear-fraction
    scores through one un-splittable task. Pin: the declared Python
    node count, and every MapInPandas sits BELOW every q_id Window in
    the tree (physical plans print parents before children, so its line
    index must be greater)."""
    df = qs[name](spark, SF_SMOKE)
    assert plan_stats(df)["python_nodes"] == ANN_PRECUT[name], name
    lines = _plan(df).splitlines()
    # only the per-QUERY windows are the hazard: PQ's k-means encoding
    # has per-VECTOR argmin windows (partitioned by the corpus-wide id
    # keyspace) legitimately below the cut
    win_lines = [
        i for i, ln in enumerate(lines) if "Window" in ln and "q_id#" in ln
    ]
    map_lines = [i for i, ln in enumerate(lines) if "MapInPandas" in ln]
    assert win_lines and map_lines, name
    assert min(map_lines) > max(win_lines), (
        name,
        "batch-local cut must sit below the candidate window",
    )
