"""Exchange-budget regression tests (plans/report.plan_stats): pin the
shuffle/broadcast/Python-node counts of representative hot queries. A
new join, window, or stray Python node that silently adds a shuffle is
exactly the regression that only HURTS at 100 TB but is VISIBLE at
sf0.001 — in the plan, not the wall clock."""

from __future__ import annotations

import pytest

from geo_db_spark.plans.report import plan_stats
from tests.conftest import SF_SMOKE

# name -> (max exchanges, max single_partition, max python_nodes)
BUDGETS = {
    # single scan -> one partial+final agg exchange, nothing else
    "q1_pricing_summary": (1, 0, 0),
    # single-row global agg: its one exchange IS SinglePartition (fine —
    # input is already aggregated per partition)
    "q6_revenue_forecast": (1, 1, 0),
    # dims broadcast, ONE fact-side shuffle for the agg
    "q3_shipping_priority": (1, 0, 0),
    # pure maps: ZERO exchanges, and NFC is exactly one Python node
    "text_quality_metrics": (0, 0, 0),
    "text_chunk_windows": (0, 0, 0),
    "text_nfc_normalize": (0, 0, 1),
    "mm_image_decode": (0, 0, 1),
    # the other decodes that read the documents scan without a
    # repartition: one Python node, zero exchanges
    "mm_image_decode_png": (0, 0, 1),
    "mm_image_downsample": (0, 0, 1),
    "mm_audio_decode_wav": (0, 0, 1),
    "mm_audio_downsample": (0, 0, 1),
    "mm_image_decode_gif": (0, 0, 1),
    # hash-agg families: one shuffle on their key
    "dedup_exact_documents": (1, 0, 0),
    "w3_sessionize": (1, 0, 0),
    # sketch build+merge: two levels of aggregation
    "sk_hll_distinct_parts": (2, 1, 0),
    # r7b additions: the decode is ONE python node and nothing else;
    # the capstone pipeline was rebuilt around one shared scan — pin the
    # collapse (naive composition measured 12 exchanges / 8 scans)
    "mm_image_decode_bmp_rle": (0, 0, 1),
    "cdc_scd2_point_in_time": (2, 0, 0),
    "g26_kcore_parts": (2, 0, 0),
    # r11: +3 exchanges for the substring-dedup stage (the SA build
    # itself materializes behind eager checkpoints; the visible tail is
    # the gram attach + adjacency join + loser anti-join)
    "corpus_build_pipeline": (11, 0, 0),
    # r13 (r12 verdict Next #2): the excise capstone's visible tail —
    # the SA build and the excision join materialize behind
    # checkpoints; what remains is the rewrite join + near-dup/gate
    # exchanges. Measured 6 / 0 / 0 at smoke SF.
    "corpus_build_pipeline_excise": (6, 0, 0),
    # r8 codecs: one decode-parallelism exchange, ONE Python node each
    "mm_image_decode_jpeg": (1, 0, 1),
    "mm_image_decode_jpeg_prog": (1, 0, 1),
    "mm_audio_decode_flac": (1, 0, 1),
    # r9 codecs: one decode-parallelism exchange, ONE Python node each
    "mm_image_decode_webp": (1, 0, 1),
    "mm_image_decode_tiff": (1, 0, 1),
    "mm_audio_decode_g711": (1, 0, 1),
    # r10: CCITT G4 fax TIFF, same decode shape
    "mm_image_decode_g4": (1, 0, 1),
    "mm_image_decode_g3": (1, 0, 1),
    "mm_image_decode_jpeg12": (1, 0, 1),
    # r10 pipeline additions: zero Python nodes everywhere; the
    # single-partition exchange in the two model trainers is the 1-row
    # corpus-totals aggregate (the q6 convention). The suffix-adjacency
    # plan is post-checkpoint (doubling rounds materialize eagerly):
    # the visible tail is the rank-keyed adjacency join + gram attach.
    "dedup_suffix_adjacent_dups": (2, 0, 0),
    "dedup_longest_repeat": (7, 0, 0),
    # r11: excision's visible tail = LCP joins + island window + rebuild
    "dedup_substring_excision": (4, 0, 0),
    "text_kneser_ney_score": (6, 1, 0),
    "text_odds_classifier": (5, 1, 0),
    # r8 multimodal capstone: decode runs ONCE inside the checkpoint
    # (plan shows no scan/python nodes past it); downstream = dedup agg
    # + final rollup exchanges only
    "mm_corpus_pipeline": (2, 0, 0),
    # the one registry query on the D6 ancestor-label resolver: its own
    # closure + resolve measured 2 exchanges (3 broadcasts, 6 scans)
    "x9_ancestor_label_resolution": (2, 0, 0),
}


@pytest.fixture(scope="module")
def qs():
    from geo_db_spark import workload

    return workload.queries()


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_exchange_budget(spark, qs, name):
    max_ex, max_single, max_py = BUDGETS[name]
    got = plan_stats(qs[name](spark, SF_SMOKE))
    assert got["exchanges"] <= max_ex, (name, got)
    assert got["single_partition"] <= max_single, (name, got)
    assert got["python_nodes"] <= max_py, (name, got)


def test_python_nodes_only_where_declared(spark, qs):
    """No JVM-only query may grow a Python node: spot-check the
    relational core (whole TPC-H-style q* family stays codegen'd)."""
    for name in ["q5_local_supplier_volume", "q10_returned_items", "g1_rollup_revenue"]:
        got = plan_stats(qs[name](spark, SF_SMOKE))
        assert got["python_nodes"] == 0, (name, got)


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
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
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
