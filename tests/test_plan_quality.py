"""Physical-plan quality gates: the scale contract, asserted.

Correctness says the answer is right at sf0.001; these tests pin the
*plan shapes* that make the same code right at 100 TB:

- filters/projections reach the parquet scan (PushedFilters /
  ReadSchema pruning), so a 1000-executor scan reads only what the
  query needs;
- dimension joins broadcast (no shuffle of the fact table);
- the only cartesian products are deliberate 1-row scalar broadcasts
  (query vectors, corpus stats);
- whole-stage codegen covers the hot expressions.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import DataFrame

from memories_spark.plans.registry import QUERIES


def plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_prefix_filter_pushes_to_scan(spark, sf_dir):
    p = plan(QUERIES["source_prefix_filter"].fn(spark, sf_dir))
    assert re.search(r"PushedFilters: \[.*StringStartsWith\(source,src1\)", p), p


def test_q1_prunes_columns(spark, sf_dir):
    """Q1 touches 7 of lineitem's 16 columns; the scan schema must
    not include the rest (column pruning reached parquet)."""
    p = plan(QUERIES["q1_pricing_summary"].fn(spark, sf_dir))
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert "l_comment" not in cols and "l_orderkey" not in cols
    assert {"l_returnflag", "l_linestatus", "l_quantity"} <= cols


def test_q1_filter_pushes_to_scan(spark, sf_dir):
    p = plan(QUERIES["q1_pricing_summary"].fn(spark, sf_dir))
    assert re.search(r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate", p), p


@pytest.mark.parametrize("name", ["q3_shipping_priority", "q5_region_revenue", "top_customers"])
def test_dim_joins_broadcast(spark, sf_dir, name):
    """Star joins must broadcast the dimension side — a shuffle of
    lineitem on a dim key is the classic 100TB bottleneck."""
    p = plan(QUERIES[name].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p


def test_q1_partial_aggregation(spark, sf_dir):
    """The big agg must be partial (map-side combine) + final — one
    full-row shuffle instead would move the whole fact table."""
    p = plan(QUERIES["q1_pricing_summary"].fn(spark, sf_dir))
    assert "partial_" in p.lower() or "HashAggregate" in p, p
    # two HashAggregate levels (partial, final)
    assert p.count("HashAggregate") >= 2, p


def test_no_unintended_cartesian(spark, sf_dir):
    """Cartesian/BroadcastNestedLoop joins are only legitimate for
    1-row scalar broadcasts (query vector, corpus stats). Queries
    over pair-generating operators state their blocking strategy;
    everything else must be hash/sort-merge joins."""
    # queries whose semantics include a deliberate scalar cross join
    scalar_cross_ok = {
        "vector_knn", "hybrid_rrf_search", "hybrid_rrf_5signal",
        "batch_hybrid_search", "search_explain", "novelty_check",
        "threshold_vector_search", "ann_ivf_bucketed", "bm25_topk",
        "graph_merge_reserved", "ppr_graph_expand", "evidence_packet",
        "embedding_near_dups", "minhash_near_dups", "simhash_near_dups",
        "ngram_jaccard_pairs", "smart_import_classify", "multi_backend_merge",
        "compaction_candidates", "corpus_stats", "dedup_victims",
        "label_propagation_clusters",
    }
    for name in ["q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
                 "events_quality_metrics", "folder_rollup", "user_activity_stats",
                 "token_cost_accounting", "extraction_outcome_rollup",
                 "search_period_stats", "stale_entities", "profile_prefix_resolve"]:
        assert name not in scalar_cross_ok
        p = plan(QUERIES[name].fn(spark, sf_dir))
        assert "CartesianProduct" not in p, f"{name} has a cartesian product"


def test_knn_stays_in_codegen(spark, sf_dir):
    """The cosine fold must run inside whole-stage codegen (JVM), not
    a Python UDF — the hot path at 100 TB."""
    df = QUERIES["vector_knn"].fn(spark, sf_dir)
    p = plan(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    # AQE finalizes the physical plan only at execution; run the query
    # and then check the executed plan has fused codegen stages.
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # codegen stages print as "*(n)" in the executed-plan string
    assert re.search(r"\*\(\d+\)", executed), executed[:2000]


def test_bm25_no_python_udf(spark, sf_dir):
    p = plan(QUERIES["bm25_topk"].fn(spark, sf_dir))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_topk_uses_take_ordered(spark, sf_dir):
    """orderBy+limit must compile to TakeOrderedAndProject — a global
    sort of the corpus for a top-10 would be a full-shuffle mistake."""
    p = plan(QUERIES["top_customers"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p


def test_exact_dedup_partial_agg_no_python(spark, sf_dir):
    """Exact hash dedup is one shuffle on the 16-byte md5 key with
    map-side combine; the hash itself must stay in codegen."""
    p = plan(QUERIES["exact_dup_groups"].fn(spark, sf_dir))
    assert p.count("HashAggregate") >= 2, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_auto_link_broadcasts_new_rows(spark, sf_dir):
    """Auto-linking joins the tiny new-row set against the corpus:
    the small side must broadcast (nested-loop on the non-equi sim
    predicate is fine — the corpus side never shuffles) and the
    cosine fold must stay JVM-side."""
    p = plan(QUERIES["auto_link_topk"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_asof_join_is_joinless_single_shuffle(spark, sf_dir):
    """The as-of join must compile to the union->window shape: zero
    join operators (the nested-loop range join it replaces would be
    the 100TB killer), one Window, and type filters pushed to the
    parquet scan."""
    p = plan(QUERIES["asof_last_click"].fn(spark, sf_dir))
    assert "Join" not in p and "CartesianProduct" not in p, p
    assert "Window" in p, p
    assert re.search(r"PushedFilters: \[.*EqualTo\(event_type,error\)", p), p


def test_salted_heavy_hitters_two_stage(spark, sf_dir):
    """The salted top-k must show BOTH aggregation stages (salted
    pre-agg + final), each with partial/final HashAggregates, and
    stay fully JVM-side — that's the skew contract."""
    p = plan(QUERIES["heavy_hitter_terms_salted"].fn(spark, sf_dir))
    # 2 logical stages x (partial + final) = at least 4 HashAggregates
    assert p.count("HashAggregate") >= 4, p
    assert "Generate" in p, p  # explode stays a Generate, not a UDF
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "TakeOrderedAndProject" in p, p


def test_multiprobe_ann_is_equi_join(spark, sf_dir):
    """Multi-probe ANN's probe set explodes query-side precisely so
    the corpus join is a bucket-key equi-join — a Hamming-distance
    predicate would be a nested-loop scan of the corpus."""
    p = plan(QUERIES["ann_multiprobe"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_reinforcement_apply_no_cartesian(spark, sf_dir):
    """The log rollup must pre-aggregate (partial+final) and join
    back broadcast — never cartesian; JSON extraction stays JVM."""
    p = plan(QUERIES["reinforcement_apply"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_intent_rewrite_stays_codegen(spark, sf_dir):
    """The regex/CASE classifier is a pure projection: no joins, no
    Python eval — one scan classifies a billion logged queries."""
    p = plan(QUERIES["query_intent_rewrite"].fn(spark, sf_dir))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "Join" not in p, p


def test_events_rollup_single_expand(spark, sf_dir):
    """ROLLUP must compile to one Expand + partial/final HashAggregate
    — one shuffle for all three grouping levels."""
    p = plan(QUERIES["events_rollup"].fn(spark, sf_dir))
    assert "Expand" in p, p
    assert p.count("HashAggregate") >= 2, p


def test_range_join_stays_equi(spark, sf_dir):
    """The bucketized range join must land on hash/sort-merge equi
    joins — never BroadcastNestedLoopJoin/CartesianProduct, which is
    what a naive ts-between-bounds join degenerates to."""
    p = plan(QUERIES["range_join_incidents"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p or "ShuffledHashJoin" in p, p


def test_semi_join_stays_semi(spark, sf_dir):
    """The EXISTS query must execute as a LeftSemi hash join (each
    order emitted at most once, no post-join distinct) with the
    quarter filter pushed to the orders scan."""
    p = plan(QUERIES["late_order_priority"].fn(spark, sf_dir))
    assert "LeftSemi" in p, p
    assert "CartesianProduct" not in p, p
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(o_orderdate", p), p


def test_order_histogram_aggregates_before_join(spark, sf_dir):
    """Q13 shape: orders must collapse to per-customer counts before
    the customer join — the join keys are aggregate output, so the
    plan has partial+final HashAggregates feeding the join."""
    p = plan(QUERIES["customer_order_distribution"].fn(spark, sf_dir))
    assert p.count("HashAggregate") >= 4, p  # per-cust (2) + histogram (2)
    assert "CartesianProduct" not in p, p


def test_star_join_broadcasts_dims_single_fact_shuffle(spark, sf_dir):
    """Q9 shape: supplier/nation lookups broadcast; at most one
    big-to-big join (lineitem x orders) may shuffle."""
    p = plan(QUERIES["nation_year_profit"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert p.count("SortMergeJoin") <= 1, p
    assert "CartesianProduct" not in p, p


def test_per_group_topk_uses_window_group_limit(spark, sf_dir):
    """Per-group top-k must engage WindowGroupLimit pushdown so
    per-group state is k rows, not the whole group sorted."""
    p = plan(QUERIES["top_parts_per_brand"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in p, p


def test_decontamination_broadcasts_test_set(spark, sf_dir):
    """The contamination join must broadcast the held-out shingle set
    — the training corpus side never shuffles."""
    p = plan(QUERIES["decontaminate_ngram_overlap"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_tfidf_broadcasts_dictionary(spark, sf_dir):
    """TF-IDF's document-frequency dictionary join must broadcast;
    tokenization stays in codegen (Generate), no Python eval."""
    p = plan(QUERIES["tfidf_top_terms"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "Generate" in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_cube_single_expand(spark, sf_dir):
    """CUBE must compile to ONE Expand + partial/final aggregation —
    four grouping sets, one shuffle."""
    p = plan(QUERIES["events_cube"].fn(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Expand", p)) == 1, p
    assert p.count("HashAggregate") >= 2, p


def test_sliding_windows_use_expand(spark, sf_dir):
    """Hopping windows must use the built-in window Expand (each row
    emitted once per overlapping window) + hash aggregation — not a
    self-join per offset."""
    p = plan(QUERIES["sliding_event_counts"].fn(spark, sf_dir))
    assert "Expand" in p, p
    assert "Join" not in p, p


def test_winsorized_broadcasts_bounds(spark, sf_dir):
    """The p05/p95 bounds table (|event_types| rows) must broadcast
    back onto the fact scan — no re-shuffle for the clamp."""
    p = plan(QUERIES["winsorized_event_stats"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_correlation_is_single_pass(spark, sf_dir):
    """Exact-moment correlation: one scan, partial+final aggregation,
    no joins, no Python."""
    p = plan(QUERIES["value_hour_correlation"].fn(spark, sf_dir))
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 2, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_q6_all_predicates_pushed(spark, sf_dir):
    """Q6 is the pure-pushdown benchmark: all scan predicates must
    reach parquet and the ReadSchema must carry only the four used
    columns."""
    p = plan(QUERIES["q6_forecast_revenue"].fn(spark, sf_dir))
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate", p), p
    assert re.search(r"PushedFilters: \[.*LessThan\(l_quantity", p), p
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols <= {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}, cols


def test_q7_single_fact_shuffle(spark, sf_dir):
    """Q7: every dimension chain broadcasts; the only big-big join is
    lineitem x orders on orderkey."""
    p = plan(QUERIES["q7_volume_shipping"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    # formatted explain prints each operator twice (tree + detail):
    # exactly one SortMergeJoin operator allowed
    assert len(re.findall(r"\(\d+\) SortMergeJoin", p)) <= 1, p
    assert "CartesianProduct" not in p, p


def test_q8_share_is_one_aggregate(spark, sf_dir):
    """Q8: numerator and denominator of the market share must come out
    of ONE aggregation (conditional sum), not a self-join of two."""
    p = plan(QUERIES["q8_market_share"].fn(spark, sf_dir))
    assert p.count("SortMergeJoin") <= 1, p
    assert "CartesianProduct" not in p, p


def test_q10_topk_and_late_dimension_join(spark, sf_dir):
    """Q10: top-20 compiles to TakeOrderedAndProject and the wide
    customer name column joins by broadcast after aggregation."""
    p = plan(QUERIES["q10_returned_items"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p
    assert "BroadcastHashJoin" in p, p
    assert re.search(r"PushedFilters: \[.*EqualTo\(l_returnflag,R\)", p), p


def test_q19_disjunction_stays_hash_join(spark, sf_dir):
    """Q19's OR-of-ANDs must evaluate on broadcast-hash matches, never
    degrade to a nested-loop join."""
    p = plan(QUERIES["q19_disjunctive_join"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p


def test_q16_exclusion_is_broadcast_anti(spark, sf_dir):
    """Q16's NOT-IN supplier exclusion must be a broadcast LeftAnti
    join and the distinct-agg must be two-phase."""
    p = plan(QUERIES["q16_supplier_variety"].fn(spark, sf_dir))
    assert "LeftAnti" in p, p
    assert "SortMergeJoin" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_q22_anti_join_single_shuffle(spark, sf_dir):
    """Q22: the no-orders test is a LeftAnti join; the global average
    is a 1-row broadcast (the only nested-loop allowed)."""
    p = plan(QUERIES["q22_idle_balances"].fn(spark, sf_dir))
    assert "LeftAnti" in p, p
    assert "CartesianProduct" not in p, p


def test_q2_argmin_reuses_partition(spark, sf_dir):
    """Q2 shape: the per-part min must be a Window over the pair
    aggregate (same partitioning key), not a re-join of two
    aggregates of the fact table."""
    p = plan(QUERIES["q2_min_cost_supplier"].fn(spark, sf_dir))
    assert "Window" in p, p
    assert "CartesianProduct" not in p, p
    assert "TakeOrderedAndProject" in p, p


def test_countmin_sketch_stays_jvm_broadcast(spark, sf_dir):
    """Count-min: sketch build is a partial+final HashAggregate over
    (seed, bucket) — constant 1024 cells — and the probe join is a
    broadcast; the md5 bucketing stays in codegen."""
    p = plan(QUERIES["countmin_heavy_hitters"].fn(spark, sf_dir))
    assert p.count("HashAggregate") >= 2, p
    assert "BroadcastHashJoin" in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_bloom_probe_is_broadcast_semi(spark, sf_dir):
    """Bloom probe: the filter bits join by broadcast LeftSemi — the
    probe side never shuffles for the membership test."""
    p = plan(QUERIES["bloom_membership_probe"].fn(spark, sf_dir))
    assert "LeftSemi" in p, p
    assert "BroadcastExchange" in p, p
    assert "SortMergeJoin" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_kmv_hash_fold_stays_jvm(spark, sf_dir):
    """KMV: the 13-digit hex fold and the ranked-minima window are
    pure Catalyst — no Python eval anywhere."""
    p = plan(QUERIES["kmv_distinct_estimate"].fn(spark, sf_dir))
    assert "Window" in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_pii_scan_is_single_pass_codegen(spark, sf_dir):
    """PII scanning is scan-bound at 100 TB: the regex extraction and
    redaction must be a pure projection (no joins, no Python) into
    one partial+final aggregate."""
    p = plan(QUERIES["pii_redaction_profile"].fn(spark, sf_dir))
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 2, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_crossdoc_dedup_hash_join_topk(spark, sf_dir):
    """Cross-doc window dedup: window hashing stays a Generate+codegen
    pipeline, the frequency join is hash-based, and the top-50 is
    TakeOrderedAndProject."""
    p = plan(QUERIES["crossdoc_window_dedup"].fn(spark, sf_dir))
    assert "Generate" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "TakeOrderedAndProject" in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_mixing_weights_single_data_shuffle(spark, sf_dir):
    """Source mixing: the per-source token aggregate is the only
    data-sized shuffle; total and normalizer are 1-row broadcasts."""
    p = plan(QUERIES["source_mixing_weights"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p, p
    assert p.count("HashAggregate") >= 2, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_histogram_quantile_no_python_broadcast_bins(spark, sf_dir):
    """Histogram quantile: bin counts aggregate partial+final, bounds
    and targets are broadcast scalars, everything JVM-side."""
    p = plan(QUERIES["histogram_quantile_estimate"].fn(spark, sf_dir))
    assert p.count("HashAggregate") >= 2, p
    assert "BroadcastExchange" in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_funnel_broadcasts_stage_tables(spark, sf_dir):
    """Funnel stages: each stage's per-user table is broadcast back
    onto the filtered events scan — the events table never shuffles
    for the ordering constraint; event_type filters push to parquet."""
    p = plan(QUERIES["funnel_conversion"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert re.search(r"PushedFilters: \[.*EqualTo\(event_type,view\)", p), p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_retention_reduces_before_joins(spark, sf_dir):
    """Retention: the (user, week) distinct must collapse event volume
    before any join (partial+final aggregate ahead of the cohort
    join); cohort sizes broadcast."""
    p = plan(QUERIES["weekly_retention_cohorts"].fn(spark, sf_dir))
    assert p.count("HashAggregate") >= 4, p
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_scd2_single_window_shuffle(spark, sf_dir):
    """SCD2: lead + row_number share one Window (same partitioning and
    ordering) — one shuffle on entity id, no joins, filter pushed."""
    p = plan(QUERIES["scd2_validity_intervals"].fn(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Window", p)) == 1, p
    assert "Join" not in p, p
    assert re.search(r"PushedFilters: \[.*EqualTo\(event_type,signup\)", p), p


def test_column_profile_single_scan(spark, sf_dir):
    """The profiler computes every column's stats in one aggregate
    over one scan (the oracle's UNION-ALL shape would scan 4x);
    unpivot is a Generate, not a union of scans."""
    p = plan(QUERIES["events_column_profile"].fn(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_interval_overlap_stays_equi(spark, sf_dir):
    """The interval-overlap join must land on hash/sort-merge equi
    joins via time bucketing — never a nested-loop on the
    double-inequality overlap predicate."""
    p = plan(QUERIES["interval_overlap_join"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p or "ShuffledHashJoin" in p, p
    assert "TakeOrderedAndProject" in p, p


def test_kmv_intersection_broadcast_membership(spark, sf_dir):
    """KMV set algebra: the sketch membership tests are broadcast
    LeftSemi joins against 64-row sketches — never a shuffle."""
    p = plan(QUERIES["kmv_set_intersection_estimate"].fn(spark, sf_dir))
    assert "LeftSemi" in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_outlier_broadcasts_stats(spark, sf_dir):
    """Outlier scan: per-type moments broadcast back onto the events
    scan — two passes, no shuffle of fact rows, JVM-only math."""
    p = plan(QUERIES["value_outlier_events"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "TakeOrderedAndProject" in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_weighted_sample_broadcasts_rates(spark, sf_dir):
    """Mixture sampling: the rates table broadcasts; the md5 accept
    test is a pure projection on the scan."""
    p = plan(QUERIES["mixture_weighted_sample"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_ivfpq_prunes_then_rerank(spark, sf_dir):
    """IVF-PQ,rerank: the probe scan reads the PERSISTED
    cell-partitioned assignment with partition pruning, every join
    is broadcast-hash (codebook, LUT, shortlist are all tiny),
    nothing nested-loops over the corpus, and all three stages stay
    in codegen."""
    p = plan(QUERIES["ann_ivfpq_rerank"].fn(spark, sf_dir))
    assert re.search(r"PartitionFilters: \[[^\]]*cell[^\]]*IN", p), p
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_pq_adc_stays_jvm_broadcast(spark, sf_dir):
    """PQ/ADC: codebook and LUT are broadcast (128 rows each), the
    encode argmax is a window over one exploded scan, and all vector
    math stays in codegen — no Python eval anywhere."""
    p = plan(QUERIES["ann_pq_adc"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "Window" in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_rolling_wau_explodes_collapsed_table(spark, sf_dir):
    """Rolling WAU: the 7x covered-day explode (Generate) must sit
    above the (user, day) distinct aggregate, not above raw events —
    partial+final aggregates on both sides, no Python."""
    p = plan(QUERIES["rolling_7d_active_users"].fn(spark, sf_dir))
    assert "Generate" in p, p
    assert p.count("HashAggregate") >= 4, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_transition_matrix_no_subtree_duplication(spark, sf_dir):
    """Transition matrix: lead window + window-sum normalization over
    the tiny transition table — exactly two Window operators, NO
    join (a second aggregation + join would re-evaluate the lead
    subtree once per reference)."""
    p = plan(QUERIES["event_transition_matrix"].fn(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Window", p)) == 2, p
    assert "Join" not in p, p
    assert "CartesianProduct" not in p, p


def test_cooccurrence_joins_collapsed_table(spark, sf_dir):
    """Co-occurrence: the self-join runs on the distinct (user, type)
    table — distinct aggregates must feed the join inputs. The only
    nested-loop allowed is the 1-row user-count scalar broadcast."""
    p = plan(QUERIES["event_cooccurrence_lift"].fn(spark, sf_dir))
    assert p.count("HashAggregate") >= 4, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_vocab_growth_broadcasts_cutoffs(spark, sf_dir):
    """Vocab growth: the ten cutoffs join by broadcast nested loop or
    hash (10 rows) — the corpus-sized side never re-shuffles for
    them; tokenization stays a Generate."""
    p = plan(QUERIES["vocab_growth_curve"].fn(spark, sf_dir))
    assert "Generate" in p, p
    assert "BroadcastExchange" in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_triangle_count_equi_joins_only(spark, sf_dir):
    """Triangle counting is two equi-joins on edge endpoints — any
    nested-loop here would be quadratic in edges."""
    p = plan(QUERIES["triangle_count"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_interval_coverage_is_joinless_windows(spark, sf_dir):
    """Interval-union coverage is a pure window sweep: island
    flagging and numbering share the user_id partitioning and there
    is NO join anywhere — the naive interval-overlap formulation
    would self-join quadratically per user."""
    p = plan(QUERIES["interval_coverage_union"].fn(spark, sf_dir))
    assert "Join" not in p, p
    assert len(re.findall(r"\(\d+\) Window", p)) == 2, p


def test_burst_detection_joinless_range_window(spark, sf_dir):
    """Burst detection: one groupBy collapse, then a RANGE-frame
    window on the rollup. No densification join, no Python."""
    p = plan(QUERIES["hourly_burst_detection"].fn(spark, sf_dir))
    assert "Join" not in p, p
    assert re.search(r"RangeFrame, -24, -1", p), p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_setsim_join_stays_equi(spark, sf_dir):
    """Rare-shingle blocking must keep every join an equi-join (hash
    or sort-merge) — a nested-loop anywhere means the blocking
    collapsed into all-pairs."""
    p = plan(QUERIES["rareterm_jaccard_join"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_setsim_sizes_table_not_hint_broadcast(spark, sf_dir):
    """The per-document sizes table is O(corpus): a forced broadcast
    hint on it OOMs at 100x. The logical plan must carry NO broadcast
    hints — strategy choice belongs to AQE/CBO (which may still
    broadcast at tiny SF, legitimately, based on observed sizes)."""
    df = QUERIES["rareterm_jaccard_join"].fn(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed and "UnresolvedHint" not in analyzed, analyzed


def test_item_item_basket_cap_bounds_fanout(spark, sf_dir):
    """The CF self-join must sit above a per-customer basket cap
    (row_number <= 100 compiled to WindowGroupLimit, so per-customer
    window state is 100 rows) — an uncapped hub customer with a 10^4
    basket would otherwise contribute 10^8 pairs."""
    p = plan(QUERIES["item_item_cosine"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in p, p
    assert re.search(r"windowspecdefinition\(c#", p), p


def test_sequence_pattern_single_user_shuffle(spark, sf_dir):
    """The ordered collapse happens inside the aggregation
    (array_sort(collect_list)) — no Window operator, no join, and
    the regex runs post-aggregation."""
    p = plan(QUERIES["user_sequence_pattern"].fn(spark, sf_dir))
    assert "Window" not in p, p
    assert "Join" not in p, p
    assert "ObjectHashAggregate" in p or "SortAggregate" in p, p


def test_bigram_surprisal_no_cartesian_except_scalar(spark, sf_dir):
    """The only nested-loop in the bigram LM rescore is the 1-row
    vocab-size broadcast; LM count joins are hash equi-joins."""
    p = plan(QUERIES["bigram_surprisal_score"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_cusum_broadcasts_type_totals(spark, sf_dir):
    """CUSUM: the 5-row per-type totals broadcast back onto the daily
    rollup; the rollup itself is the only shuffle of fact data."""
    p = plan(QUERIES["cusum_changepoint"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_copart_projection_joins_distinct_incidence(spark, sf_dir):
    """Bipartite projection must self-join the DISTINCT (part,
    supplier) incidence list, not raw lineitem — the distinct
    aggregate has to sit below the join on both sides."""
    p = plan(QUERIES["supplier_copart_projection"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert p.count("HashAggregate") >= 2, p
    assert "TakeOrderedAndProject" in p, p


def test_skew_profile_two_level_agg(spark, sf_dir):
    """Skew diagnostic: per-key counts then one-row rollups — no
    joins, no windows, partial aggregation everywhere."""
    p = plan(QUERIES["join_key_skew_profile"].fn(spark, sf_dir))
    assert "Join" not in p, p
    assert "Window" not in p, p


def test_trigram_mining_top10_take_ordered(spark, sf_dir):
    """Trigram mining collapses per user first (ObjectHashAggregate
    with the sorted collect), then takes the global top-10 without a
    full sort."""
    p = plan(QUERIES["event_trigram_mining"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p
    assert "Window" not in p, p


def test_lcc_equi_joins_only(spark, sf_dir):
    """Local clustering coefficient: triangle enumeration and the
    degree join stay equi-joins on edge endpoints."""
    p = plan(QUERIES["local_clustering_coefficient"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_mta_equi_join_on_user(spark, sf_dir):
    """Multi-touch attribution pairs touches to purchases via an
    equi-join on user_id (time window as residual predicate) — a
    pure time-range nested-loop would be quadratic in events."""
    p = plan(QUERIES["multi_touch_attribution"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert re.search(r"PushedFilters: \[.*event_type", p), p


def test_ri_audit_broadcasts_parents(spark, sf_dir):
    """Referential-integrity checks anti-join with broadcast parents
    — the fact side never shuffles for a dimension check."""
    p = plan(QUERIES["referential_integrity_audit"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert re.search(r"LeftAnti", p), p


def test_trend_single_agg_pass(spark, sf_dir):
    """Per-group OLS is one aggregation over the rebased stream: no
    window, no join beyond the 1-row base broadcast."""
    p = plan(QUERIES["value_trend_by_type"].fn(spark, sf_dir))
    assert "Window" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_fuzzy_match_equi_join_on_variants(spark, sf_dir):
    """SymSpell matching must be an equi-join on the deletion variant
    — a levenshtein nested-loop over the vocabulary is exactly what
    the rewrite exists to avoid."""
    p = plan(QUERIES["fuzzy_term_match"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p, p
    assert "levenshtein" not in p.lower(), p


def test_item_item_distinct_before_selfjoin(spark, sf_dir):
    """CF projection self-joins the DISTINCT incidence list; the
    distinct aggregate must sit below the join."""
    p = plan(QUERIES["item_item_cosine"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_incremental_merge_partial_aggs(spark, sf_dir):
    """Base and delta rollups must both partial-aggregate before the
    full-outer merge (4+ HashAggregates: 2 rollups x partial+final)."""
    p = plan(QUERIES["incremental_rollup_merge"].fn(spark, sf_dir))
    assert p.count("HashAggregate") >= 4, p
    assert re.search(r"FullOuter", p), p


def test_katz_equi_joins_only(spark, sf_dir):
    p = plan(QUERIES["katz_centrality"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_peak_concurrency_two_phase(spark, sf_dir):
    """The full endpoint stream's running sum must be PARTITIONED by
    the hour bucket — the only unpartitioned window allowed is the
    per-bucket offset cumsum (tiny). The swept subtree is referenced
    twice (peak + argmin passes) and deduped by ReuseExchange at
    runtime, so we assert the window specs, not the node count."""
    p = plan(QUERIES["peak_concurrency"].fn(spark, sf_dir))
    assert re.search(r"windowspecdefinition\(bucket", p), p
    # the unpartitioned cumsum runs over per-bucket totals only:
    # its child must be an aggregate, never the raw endpoint union
    assert "CartesianProduct" not in p, p


def test_snapshot_diff_hash_join(spark, sf_dir):
    """The CDC diff joins 16-byte digests with a hash/merge full-outer
    join; no nested loop, no Python."""
    p = plan(QUERIES["snapshot_diff_audit"].fn(spark, sf_dir))
    assert re.search(r"FullOuter", p), p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_leakage_semi_join(spark, sf_dir):
    """Split-leakage counts held-out grams via LEFT SEMI — never
    materializing the pair join."""
    p = plan(QUERIES["split_ngram_leakage"].fn(spark, sf_dir))
    assert re.search(r"LeftSemi", p), p
    assert "CartesianProduct" not in p, p


def test_ks_and_chi2_no_cartesian(spark, sf_dir):
    for name in ("ks_two_sample_values", "chi2_type_dow_independence"):
        p = plan(QUERIES[name].fn(spark, sf_dir))
        assert "CartesianProduct" not in p, f"{name}: {p}"


def test_holt_and_bucket_are_grouped_arrow(spark, sf_dir):
    """The two sequential-state operators must run as grouped Arrow
    stages (FlatMapGroupsInPandas), not row-at-a-time Python."""
    for name in ("holt_user_forecast", "token_bucket_admission"):
        p = plan(QUERIES[name].fn(spark, sf_dir))
        assert "FlatMapGroupsInPandas" in p, f"{name}: {p}"
        assert "BatchEvalPython" not in p, f"{name}: {p}"


def test_dbscan_stays_equi_blocked(spark, sf_dir):
    """DBSCAN candidates come from the LSH-bucket equi-join; no
    all-pairs nested loop may appear anywhere in the pipeline."""
    p = plan(QUERIES["dbscan_core_clusters"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_zonemap_and_compaction_single_scan_shapes(spark, sf_dir):
    """Layout ops: zone-map audit is scan+groupBy (no join beyond the
    1-row predicate broadcast); compaction is rollup + one window."""
    p = plan(QUERIES["zonemap_pruning_audit"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p, p
    p2 = plan(QUERIES["compaction_bin_packing"].fn(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Window", p2)) == 1, p2


def test_watermark_audit_bucketed_running_max(spark, sf_dir):
    """The arrival-order high-water mark must be partitioned by the
    id bucket; only the per-bucket offset window may be global."""
    p = plan(QUERIES["watermark_lateness_audit"].fn(spark, sf_dir))
    assert re.search(r"windowspecdefinition\(bucket", p), p


def test_seasonal_backtest_equi_lag_join(spark, sf_dir):
    p = plan(QUERIES["seasonal_naive_backtest"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_retrieval_eval_broadcasts_query_panel(spark, sf_dir):
    """The 4-query panel joins the corpus by broadcast; ranking is
    one partitioned window; no Python anywhere."""
    p = plan(QUERIES["retrieval_eval_metrics"].fn(spark, sf_dir))
    assert "BroadcastExchange" in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_bom_rollup_equi_joins_only(spark, sf_dir):
    p = plan(QUERIES["bom_cost_rollup"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_psi_and_sampled_quantile_no_cartesian(spark, sf_dir):
    for name in ("psi_drift_audit", "sampled_quantile_error"):
        p = plan(QUERIES[name].fn(spark, sf_dir))
        assert "CartesianProduct" not in p, f"{name}: {p}"


def test_ivf_trained_serves_from_partition_pruned_index(spark, sf_dir):
    """Trained IVF serves from the PERSISTED index: the probe scan
    reads the cell-partitioned assignment with partition pruning
    (only the nprobe cells' files), training never appears in the
    query plan, everything stays JVM-side with broadcast joins."""
    p = plan(QUERIES["ann_ivf_trained"].fn(spark, sf_dir))
    m = re.search(r"PartitionFilters: \[[^\]]*cell[^\]]*IN", p)
    assert m, p
    assert "BroadcastExchange" in p, p
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_ivf_training_pass_broadcasts_centroids(spark, sf_dir):
    """The one-off index BUILD joins the exploded corpus against the
    (k x dim) centroid table by BROADCAST — never a shuffle of the
    corpus against centroids — and stays fully JVM-side. The
    per-vector argmin is a partitioned window (no global
    single-partition sort of corpus-sized data)."""
    from memories_spark.plans.queries_ann import trained_cell_dists
    from memories_spark.sources.tables import load_tables

    d2 = trained_cell_dists(load_tables(spark, sf_dir)["embeddings"])
    p = d2._jdf.queryExecution().explainString(
        d2._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastExchange" in p, p
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "Exchange SinglePartition" not in p, p


def test_longmemeval_broadcasts_query_bigrams(spark, sf_dir):
    """R@5 harness: the Q x 7 query-bigram table broadcasts into the
    corpus-sized chunk-bigram join; the corpus never self-joins."""
    p = plan(QUERIES["longmemeval_recall_at5"].fn(spark, sf_dir))
    assert "BroadcastExchange" in p, p
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_taxonomy_tagging_broadcasts_dictionary(spark, sf_dir):
    """The tagging dictionary must broadcast (never shuffle the token
    stream onto dictionary keys), the per-(doc,category) sum must
    partial-aggregate map-side, and the per-doc argmax must compile
    to a group-limited window, not a full sort."""
    p = plan(QUERIES["taxonomy_tag_documents"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "partial_sum" in p or "partial" in p.lower(), p
    assert "WindowGroupLimit" in p, p


def _parquet_scans(p: str) -> list[tuple[str, str]]:
    """(location, pushed filters) of every parquet scan in a formatted
    plan."""
    out = []
    for sec in p.split("Scan parquet")[1:]:
        sec = sec.split("\n\n")[0]
        loc = re.search(r"Location: [^\[]*\[([^\]]*)\]", sec)
        if loc:  # the tree overview names scans without details
            pushed = re.search(r"PushedFilters: \[(.*)\]", sec)
            out.append((loc.group(1), pushed.group(1) if pushed else ""))
    return out


def _assert_reads_lexical_index(p: str) -> None:
    """The query terms' BM25 stats come from one lexical-index
    generation's postings, with In(term) pushed into that scan, and
    no term-stats table of another layout is read."""
    scans = _parquet_scans(p)
    pushed = [loc for loc, f in scans if "In(term" in f]
    assert pushed, scans
    for loc in pushed:
        assert re.search(r"/g-[0-9a-f]+/postings$", loc), scans
    for loc, _ in scans:
        assert not re.search(r"/(term_idf|doc_stats)(/|$)", loc), scans


def test_bm25_indexed_pushes_term_filter(spark, sf_dir):
    """The indexed BM25 serving path must push the query-term
    predicate into the persisted postings scan (file/row-group
    pruning via the term-sorted layout) — a scan without PushedFilters
    is reading the whole postings table per query."""
    p = plan(QUERIES["bm25_topk_indexed"].fn(spark, sf_dir))
    assert "PushedFilters" in p and "In(term" in p, p
    _assert_reads_lexical_index(p)


def test_hybrid_indexed_never_tokenizes_corpus(spark, sf_dir):
    """hybrid_rrf_search_indexed's lexical branch reads the persisted
    postings with the In(term) predicate pushed down and must contain
    NO corpus tokenization (the inline hybrid's split(lower(trim(text)))
    stage) — the whole point of the persisted index."""
    p = plan(QUERIES["hybrid_rrf_search_indexed"].fn(spark, sf_dir))
    assert "PushedFilters" in p and "In(term" in p, p
    _assert_reads_lexical_index(p)
    assert "split(lower(trim(text" not in p, p
    # the inline flagship DOES tokenize — the gate discriminates
    p_inline = plan(QUERIES["hybrid_rrf_search"].fn(spark, sf_dir))
    assert "split(lower(trim(text" in p_inline, p_inline


def test_telemetry_prunes_events_and_groups_in_pandas(spark, sf_dir):
    """active_search_telemetry: every events scan must prune to the 4
    columns the summary needs (value/props never leave parquet), and
    the consumption matcher runs as ONE Arrow-batched
    FlatMapGroupsInPandas over session groups — sessions fan out, no
    driver loop."""
    p = plan(QUERIES["active_search_telemetry"].fn(spark, sf_dir))
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", p):
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols <= {"event_id", "ts", "user_id", "event_type"}, cols
    assert "FlatMapGroupsInPandas" in p, p


def _tree_lines(tree: str) -> list[tuple[int, str]]:
    """(depth, node_text) per operator line of a Spark plan tree
    string; depth = column of the first operator character (the tree
    prefix is drawn with ' ', ':', '+', '-')."""
    out = []
    for raw in tree.splitlines():
        body = raw
        i = 0
        while i < len(body) and body[i] in " :+-":
            i += 1
        if i >= len(body):
            continue
        out.append((i, body[i:]))
    return out


def _window_partition_groups(node: str) -> int:
    """Number of top-level bracket groups on a Window line. Two
    groups = [exprs], [order] = UNPARTITIONED; three = [exprs],
    [partition keys], [order] = distributed per key."""
    depth, groups = 0, 0
    for ch in node:
        if ch == "[":
            if depth == 0:
                groups += 1
            depth += 1
        elif ch == "]":
            depth -= 1
    return groups


_PASS_THROUGH = (
    "Sort ",
    "Exchange ",
    "ReusedExchange",
    "AQEShuffleRead",
    "ShuffleQueryStage",
    "BroadcastQueryStage",
    "Project ",
    "Filter ",
    "Window ",
    "WindowGroupLimit",
    "WholeStageCodegen",
    "InputAdapter",
    "ColumnarToRow",
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "BroadcastExchange",
    "Coalesce",
    "Union",
    "Generate ",
    "Expand ",
)

_BOUNDED = ("TakeOrderedAndProject", "GlobalLimit", "LocalLimit", "CollectLimit")


def corpus_window_violations(tree: str, bounded_agg_keys: tuple[str, ...]) -> list[str]:
    """Every UNPARTITIONED Window in ``tree`` whose direct input chain
    (first child at each step — the streamed side of broadcast joins)
    reaches a scan or an aggregate on non-allowlisted keys before any
    limit: the single-partition-sort-of-the-corpus shape that dies
    first at 100 TB. Bounded inputs — TakeOrderedAndProject /
    Limit (top-N pre-truncation) or an aggregate whose group keys are
    known-bounded (``_gr_pid`` partition counts, decile/bucket ids) —
    are the allowed shapes."""
    lines = _tree_lines(tree)
    bad = []
    for idx, (depth, node) in enumerate(lines):
        if not node.startswith("Window ") or _window_partition_groups(node) != 2:
            continue
        # descend the first-child chain until a bounding node
        cur_depth, j = depth, idx
        verdict = f"fell off plan: {node[:80]}"
        while True:
            j += 1
            if j >= len(lines):
                break
            d, n = lines[j]
            if d <= cur_depth:
                continue  # detail/sibling line; first child is deeper
            cur_depth = d
            if any(n.startswith(p) for p in _PASS_THROUGH):
                continue
            if any(n.startswith(b) for b in _BOUNDED):
                verdict = ""
            elif "Aggregate" in n.split("(")[0]:
                m = re.search(r"keys=\[([^\]]*)\]", n)
                keys = m.group(1) if m else ""
                if keys and all(
                    any(a in k for a in bounded_agg_keys)
                    for k in keys.split(", ")
                ):
                    verdict = ""
                else:
                    verdict = f"window over unbounded aggregate: {n[:100]}"
            else:
                verdict = f"window over unbounded input: {n[:100]}"
            break
        if verdict:
            bad.append(verdict)
    return bad


# Group keys whose cardinality is bounded by construction, not by the
# corpus: global_rank's per-partition counts (<= shuffle partitions;
# the shifted pid compiles to a _groupingexpression alias) and the
# closed-form ntile outputs (<= k tiles).
_BOUNDED_AGG_KEYS = ("_gr_pid", "_groupingexpression", "decile#", "bucket#")


@pytest.mark.parametrize(
    "name",
    [
        "hybrid_rrf_5signal",
        "ann_ivf_trained",
        "ppr_graph_expand",
        "customer_revenue_deciles",
        "revenue_lorenz_deciles",
        "curriculum_difficulty_buckets",
        "paginate_documents",
    ],
)
def test_no_corpus_sized_unpartitioned_windows(spark, sf_dir, name):
    """Rounds 7-8 scale fix, absence-asserted: these plans must
    contain NO unpartitioned Window over an unbounded input. Signal
    rankings pre-truncate via TakeOrderedAndProject (round 7); the
    ntile/pagination family uses the two-phase range-partitioned rank
    (functions/topk.global_rank) whose only windows run over
    per-partition count metadata (round 8). The gate fails if any
    call site regresses to rank-the-whole-corpus-then-filter."""
    df = QUERIES[name].fn(spark, sf_dir)
    tree = df._jdf.queryExecution().executedPlan().toString()
    bad = corpus_window_violations(tree, _BOUNDED_AGG_KEYS)
    assert not bad, (name, bad)
    if name in ("hybrid_rrf_5signal", "ann_ivf_trained", "ppr_graph_expand"):
        assert "TakeOrderedAndProject" in tree, name


def test_corpus_window_gate_detects_bad_shapes(spark, sf_dir):
    """The gate itself must flag the shapes it exists to ban: an
    unpartitioned ntile over a corpus-keyed aggregate (the pre-round-8
    decile shape — Catalyst cannot rewrite ntile the way it rewrites
    row_number-then-filter into TakeOrderedAndProject), and must pass
    a per-key partitioned window (distributed by construction)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    agg = docs.groupBy("source").agg(F.sum("n_chars").alias("s"))
    bad = agg.withColumn("d", F.ntile(10).over(Window.orderBy(F.desc("s"))))
    tree = bad._jdf.queryExecution().executedPlan().toString()
    assert corpus_window_violations(tree, _BOUNDED_AGG_KEYS), tree

    good = docs.withColumn(
        "rn", F.row_number().over(Window.partitionBy("source").orderBy("doc_id"))
    )
    t2 = good._jdf.queryExecution().executedPlan().toString()
    assert not corpus_window_violations(t2, _BOUNDED_AGG_KEYS), t2
