"""Physical-plan contracts: pushdown, pruning, broadcast selection,
partial aggregation. A regression here means the query would still be
row-correct but would stop scaling — treated as a failure
(SURVEY.md §4.2)."""

from __future__ import annotations

from gcpdatapipelines_spark import plans as P
from gcpdatapipelines_spark.queries import SPARK_QUERIES
from tests.conftest import SF_SMOKE




def _q(spark, name):
    return SPARK_QUERIES[name](spark, SF_SMOKE)


def test_filter_pushdown_reaches_scan(spark):
    df = _q(spark, "p2_projection_filter")
    pushed = P.pushed_filters(df)
    assert any("GreaterThan" in f and "c_acctbal" in f for f in pushed), pushed


def test_column_pruning_projection(spark):
    """2-column projection + 1 filter column: the customer scan must
    read exactly those 3 of its 5 columns."""
    df = _q(spark, "p2_projection_filter")
    (cols,) = P.scan_columns(df)
    assert cols == {"c_custkey", "c_mktsegment", "c_acctbal"}


def test_flagship_prunes_fact_scan(spark):
    """lineitem has 11 columns; the flagship rollup needs 4. Reading
    more at 100 TB is pure wasted IO."""
    df = _q(spark, "flagship_nation_rollup")
    li_scan = P.scan_columns(df)[0]
    assert li_scan == {"l_orderkey", "l_quantity", "l_extendedprice", "l_discount"}


def test_flagship_joins_are_broadcast(spark):
    """orders/customer/nation are dimension-sided: every join must be
    broadcast — the fact side never shuffles for a join."""
    df = _q(spark, "flagship_nation_rollup")
    strategies = set(P.join_strategies(df))
    assert strategies == {"BroadcastHashJoin"}, strategies


def test_flagship_single_agg_shuffle(spark):
    """With all joins broadcast, the only exchange is the final
    group-by — one shuffle total."""
    df = _q(spark, "flagship_nation_rollup")
    assert P.num_exchanges(df) == 1, P.formatted_plan(df)


def test_q1_partial_aggregation(spark):
    df = _q(spark, "q1_pricing_summary")
    assert P.has_partial_aggregation(df)
    assert P.num_exchanges(df) == 1


def test_q1_date_filter_pushed(spark):
    df = _q(spark, "q1_pricing_summary")
    assert any("l_shipdate" in f for f in P.pushed_filters(df))


def test_broadcast_enrich_no_shuffle(spark):
    """A broadcast join plan must contain zero exchanges — that is the
    entire point of J1 (reference pipeline.py:61)."""
    df = _q(spark, "j1_broadcast_enrich")
    assert P.num_exchanges(df) == 0
    assert "SortMergeJoin" not in P.join_strategies(df)


def test_pivot_prunes_scan(spark):
    df = _q(spark, "pivot_returnflag")
    (cols,) = P.scan_columns(df)
    assert cols == {"l_linestatus", "l_returnflag", "l_extendedprice"}


def test_codegen_active_on_scan_agg(spark):
    df = _q(spark, "q1_pricing_summary")
    assert P.whole_stage_codegen_spans(df) >= 1


def test_q4_exists_rewrites_to_semi_join(spark):
    """EXISTS must compile to a left-semi join (no row duplication, no
    pair explosion) with the date range pushed to the orders scan."""
    df = _q(spark, "q4_order_priority")
    plan = P.formatted_plan(df)
    assert "LeftSemi" in plan, plan
    assert any("o_orderdate" in f for f in P.pushed_filters(df))


def test_q18_in_subquery_rewrites_to_semi_join(spark):
    df = _q(spark, "q18_large_orders")
    assert "LeftSemi" in P.formatted_plan(df)


def test_q14_broadcasts_dimension_and_pushes_dates(spark):
    df = _q(spark, "q14_promo_revenue")
    assert "BroadcastHashJoin" in P.join_strategies(df)
    assert any("l_shipdate" in f for f in P.pushed_filters(df))


def test_q7_broadcasts_nation_twice(spark):
    """The nation dimension joins twice (supplier + customer side);
    both must be broadcast — the fact side never shuffles for them."""
    df = _q(spark, "q7_volume_shipping")
    strategies = P.join_strategies(df)
    assert strategies.count("BroadcastHashJoin") >= 2, strategies


def test_q19_pushes_brand_disjunction_residual(spark):
    """The disjunctive predicate still leaves a pushable brand/size
    filter on the part scan (p_brand IN (...) extraction)."""
    df = _q(spark, "q19_discounted_revenue")
    pushed = P.pushed_filters(df)
    assert any("p_brand" in f or "p_size" in f for f in pushed), pushed


def test_q22_not_exists_rewrites_to_anti_join(spark):
    df = _q(spark, "q22_idle_customers")
    assert "LeftAnti" in P.formatted_plan(df)


def test_q17_correlated_avg_becomes_aggregate_join(spark):
    """The correlated scalar subquery must compile to ONE aggregate
    over lineitem joined back on l_partkey — no per-row subquery."""
    df = _q(spark, "q17_small_qty_revenue")
    plan = P.formatted_plan(df)
    assert "avg(l_quantity)" in plan
    assert P.join_strategies(df), plan


def test_pack_chunks_window_partitions_by_shard(spark):
    """The packing cumsum must be a per-shard window — a global
    (empty-partition-spec) window would single-partition the corpus."""
    df = _q(spark, "text_pack_chunks")
    plan = P.formatted_plan(df)
    assert "hashpartitioning(shard" in plan, plan
    # no WindowExec warning shape: every Window node carries a spec
    assert "Window" in plan


def test_contamination_broadcasts_benchmark_side(spark):
    """The benchmark shingle set must broadcast; the candidate corpus
    must never self-join or shuffle for the containment probe."""
    df = _q(spark, "text_contamination")
    assert "BroadcastHashJoin" in P.join_strategies(df)


def test_tfidf_aggregates_are_partial(spark):
    df = _q(spark, "text_tfidf_topk")
    assert P.has_partial_aggregation(df)


def test_q2_min_aggregate_and_size_filter_pushed(spark):
    """The per-part scalar-min subquery must compile to ONE aggregate
    joined back on p_partkey — never a per-row re-aggregation."""
    df = _q(spark, "q2_min_cost_supplier")
    plan = P.formatted_plan(df)
    assert "min(" in plan and "p_size" in str(P.pushed_filters(df)) + plan


def test_q9_dimensions_broadcast_and_name_filter_pushed(spark):
    """part/supplier/nation are dimension-sided and the LIKE filter
    must reach the part scan — the fact shuffles once, for the rollup."""
    df = _q(spark, "q9_profit_rollup")
    strategies = P.join_strategies(df)
    assert strategies.count("BroadcastHashJoin") >= 3, strategies
    pushed = P.pushed_filters(df)
    assert any("p_name" in f for f in pushed), pushed


def test_q11_scalar_subquery_is_independent(spark):
    """The global-total threshold must appear as a scalar subquery
    feeding the HAVING filter — one extra aggregate over the same
    scan, not a join explosion."""
    df = _q(spark, "q11_important_values")
    plan = P.formatted_plan(df)
    assert "Subquery" in plan or "scalar-subquery" in plan.lower(), plan


def test_q16_not_in_becomes_null_aware_anti(spark):
    df = _q(spark, "q16_supplier_cnt")
    plan = P.formatted_plan(df)
    assert "LeftAnti" in plan, plan


def test_q21_exists_pair_becomes_semi_plus_anti(spark):
    """EXISTS -> left-semi and NOT EXISTS -> left-anti on l_orderkey,
    both with the non-equality suppkey condition as a join residual —
    never a per-row subquery loop."""
    df = _q(spark, "q21_waiting_supplier")
    plan = P.formatted_plan(df)
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan


def test_srp_lsh_no_cartesian(spark):
    """Candidate generation is an equi-join on (band_idx, band_val) and
    verification an equi-join on ids — the SRP path must declare no
    cartesian/nested-loop node anywhere."""
    df = _q(spark, "sim_srp_lsh")
    plan = P.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cluster_assign_broadcasts_component_map(spark):
    """The CC label map is pair-graph-sized, orders smaller than the
    corpus: its join back onto documents must be broadcast."""
    df = _q(spark, "dedup_cluster_assign")
    assert "BroadcastHashJoin" in P.join_strategies(df)


def test_text_repetition_single_scan_single_exchange(spark):
    """Unigram+bigram repetition stats must stay ONE corpus scan and
    ONE shuffle: the stack-unpivot keeps both term spaces in a single
    lineage, and hash partitioning on doc_id satisfies every
    downstream groupBy (a two-branch plan would rescan the corpus)."""
    df = _q(spark, "text_repetition")
    plan = P.formatted_plan(df)
    assert len(P.scan_columns(df)) == 1, plan
    assert P.num_exchanges(df) == 1, plan
    assert len(P.join_strategies(df)) == 0, plan


def test_ts_gapfill_no_cartesian_no_bnlj(spark):
    """The day grid must come from per-key sequence+explode, never a
    cross join against a global calendar."""
    df = _q(spark, "ts_gapfill_ffill")
    strategies = set(P.join_strategies(df))
    assert "CartesianProduct" not in strategies
    assert "BroadcastNestedLoopJoin" not in strategies


def test_span_detect_no_pair_join(spark):
    """Span detection never compares documents: only shingle/doc-id
    equi-joins may appear."""
    df = _q(spark, "dedup_span_detect")
    strategies = set(P.join_strategies(df))
    assert "CartesianProduct" not in strategies
    assert "BroadcastNestedLoopJoin" not in strategies


def test_jaccard_prefix_no_cartesian(spark):
    df = _q(spark, "dedup_jaccard_prefix")
    strategies = set(P.join_strategies(df))
    assert "CartesianProduct" not in strategies
    assert "BroadcastNestedLoopJoin" not in strategies


def test_pq_adc_lut_is_broadcast(spark):
    """The per-query LUT joins against the m-int codes by broadcast —
    the corpus side must never shuffle for the LUT."""
    df = _q(spark, "sim_pq_adc")
    strategies = P.join_strategies(df)
    assert "BroadcastHashJoin" in strategies
    assert "CartesianProduct" not in set(strategies)


def test_layout_zorder_no_exchange(spark):
    """The Morton key is a pure projection — zero shuffles until a
    writer chooses to range-partition on it."""
    df = _q(spark, "layout_zorder")
    assert P.num_exchanges(df) == 0, P.formatted_plan(df)


def test_sparse_cosine_token_join_only(spark):
    """Sparse TF-IDF cosine generates candidates through token
    equi-joins with a broadcast query side — never a doc-by-doc
    cartesian (the one crossJoin in the plan is the one-row n_docs
    literal)."""
    df = _q(spark, "sim_tfidf_cosine")
    strategies = P.join_strategies(df)
    assert "BroadcastHashJoin" in strategies
    assert "CartesianProduct" not in set(strategies)


def test_chunk_overlap_is_narrow(spark):
    """Overlapping chunking is tokenize + sequence + slice — a pure
    projection pipeline with zero shuffles."""
    df = _q(spark, "text_chunk_overlap")
    assert P.num_exchanges(df) == 0, P.formatted_plan(df)


def test_quantize_int8_is_narrow(spark):
    df = _q(spark, "sim_quantize_int8")
    assert P.num_exchanges(df) == 0, P.formatted_plan(df)


def test_resample_ohlc_single_aggregate_exchange(spark):
    """OHLC bars are ONE partial+final hash aggregate: exactly one
    exchange, keyed on (user, bucket), with min_by/max_by combining
    map-side."""
    df = _q(spark, "ts_resample_ohlc")
    assert P.num_exchanges(df) == 1, P.formatted_plan(df)
    plan = P.formatted_plan(df)
    # min_by/max_by are typed-imperative aggs, so Spark picks
    # SortAggregate — what matters is the PARTIAL phase running before
    # the exchange (one (user,hour) row per map task crosses the wire)
    assert "partial_min_by" in plan and "partial_max_by" in plan


def test_pipeline_pretrain_filters_reach_scan(spark):
    """The composed corpus pipeline must push the cheap gates into the
    documents scan: lang equality and the n_chars bound appear in
    PushedFilters, so at 100 TB the non-English / short-doc bytes are
    skipped at the reader."""
    df = _q(spark, "pipeline_pretrain_corpus")
    pushed = " ".join(P.pushed_filters(df))
    assert "lang" in pushed and "n_chars" in pushed, pushed
    plan = P.formatted_plan(df)
    assert "CartesianProduct" not in plan


def test_semdedup_catalog_entry_has_no_flat_fallback(spark):
    """dedup_semantic_keep's pair stage is the within-cell SemDeDup
    scan: the vector pair sides meet through an EQUI join on cell id —
    no CartesianProduct anywhere, and no cost-based flat-fallback
    branch even exists on this path. The only nested-loop node allowed
    is the bounded n x nlist seed-assignment fan-out (broadcast of the
    nlist-row seed frame)."""
    from gcpdatapipelines_spark.operators import similarity as S
    from gcpdatapipelines_spark.io import read_table

    # hermetic cache state: if an earlier test already MATERIALIZED
    # the persisted assignment relation, explain prints the cached
    # AQE plan twice ("Final Plan" + historical "Initial Plan"), and
    # the ONE seed-fanout BNLJ appears under two node ids — a printer
    # artifact, not a second nested loop. Clearing the cache restores
    # the lazy single-copy plan this test pins.
    spark.catalog.clearCache()
    emb = read_table(spark, SF_SMOKE, "embeddings")
    pairs = S.semdedup_pairs_seeded(emb, threshold=0.4, nlist=16)
    plan = P.formatted_plan(pairs)
    assert "CartesianProduct" not in plan, plan
    # pair sides join equi on cell id (shuffle or broadcast hash)
    strategies = set(P.join_strategies(pairs))
    assert strategies & {"SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"}, (
        strategies
    )
    # the only BNLJ is the seed fan-out (nlist-row broadcast side),
    # and it lives inside the persisted assignment relation, so it is
    # ONE distinct plan node (both pair sides scan the same cache —
    # node ids dedupe what the tree printer repeats per branch)
    import re

    bnlj_ids = set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", plan))
    assert len(bnlj_ids) <= 1, plan
    assert "InMemoryTableScan" in plan, plan


def test_salted_join_plan_no_broadcast_and_exploded_dim(spark):
    """j11's salted path must be a SHUFFLE join keyed on (key, salt)
    with the dim side exploded — a broadcast join would make salting
    meaningless (no reducer to skew), and the salt must reach the
    join keys or hot keys re-collapse."""
    df = _q(spark, "j11_salted_join")
    plan = P.formatted_plan(df)
    assert "Generate" in plan, plan
    assert "__salt" in plan, plan
    joins = P.join_strategies(df)
    assert "ShuffledHashJoin" in joins or "SortMergeJoin" in joins, joins
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# TPC-H suite (q2/q7-q22 shapes): pin the plan properties that keep
# each query's distinguishing pattern scale-safe — decorrelation of
# correlated subqueries (never a per-row re-aggregation), semi/anti
# planning of IN / [NOT] EXISTS, no cartesian products, selective
# filters reaching the scans.
# ---------------------------------------------------------------------------


def _lineitem_scans(plan: str) -> int:
    # each scan node prints its Location line exactly once
    return plan.count("lineitem.parquet]")


def test_q2_correlated_min_decorrelates(spark):
    """The per-part scalar-min subquery must become an aggregate +
    equi-join (2 lineitem scans), never a per-outer-row re-scan or a
    cartesian."""
    df = _q(spark, "q2_min_cost_supplier")
    plan = P.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert _lineitem_scans(plan) <= 2, plan


def test_q7_dual_nation_broadcast_no_cartesian(spark):
    """nation joins twice under different aliases; both must be
    broadcast and the pair disjunction must not degrade the join
    graph into a cartesian."""
    df = _q(spark, "q7_volume_shipping")
    plan = P.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("nation.parquet]") == 2, plan
    assert P.join_strategies(df).count("BroadcastHashJoin") >= 2, plan


def test_q8_type_filter_reaches_part_scan(spark):
    """The selective p_type filter must prune the part scan before
    any join shuffles the fact side."""
    df = _q(spark, "q8_market_share")
    pushed = " ".join(P.pushed_filters(df))
    assert "p_type" in pushed, pushed
    assert "CartesianProduct" not in P.formatted_plan(df)


def test_q13_join_side_filter_pushes_without_breaking_outer(spark):
    """The priority predicate lives in the left join's ON clause: it
    must prune the orders scan (safe for outer semantics) while the
    plan keeps the LEFT join (zero-order customers survive)."""
    df = _q(spark, "q13_order_count_dist")
    pushed = " ".join(P.pushed_filters(df))
    assert "o_orderpriority" in pushed, pushed
    assert "LeftOuter" in P.formatted_plan(df)


def test_q15_single_lineitem_scan(spark):
    """The window rewrite of the max-revenue subquery must reuse ONE
    lineitem aggregate — the SQL form's CTE inlining would scan
    lineitem twice."""
    df = _q(spark, "q15_top_supplier")
    plan = P.formatted_plan(df)
    assert _lineitem_scans(plan) == 1, plan


def test_q16_not_in_is_null_aware_anti(spark):
    """The NOT IN supplier exclusion must plan as a null-aware
    left-anti join, not a per-row subquery."""
    df = _q(spark, "q16_supplier_cnt")
    plan = P.formatted_plan(df)
    assert "LeftAnti" in plan, plan


def test_q17_correlated_avg_decorrelates(spark):
    """The per-part average threshold must become ONE aggregate
    joined back equi on l_partkey (2 lineitem scans max), with no
    cartesian and no per-row nested loop."""
    df = _q(spark, "q17_small_qty_revenue")
    plan = P.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert _lineitem_scans(plan) <= 2, plan


def test_q20_in_subquery_is_semi_join(spark):
    """IN-subquery over the qualifying-supplier aggregate must plan
    as a LEFT SEMI join."""
    df = _q(spark, "q20_excess_shippers")
    assert "LeftSemi" in P.formatted_plan(df)


def test_q21_exists_pair_plans_as_semi_plus_anti(spark):
    """EXISTS -> left-semi, NOT EXISTS -> left-anti, both correlated
    on l_orderkey; lineitem appears at most three times (outer + one
    per subquery), never once per outer row."""
    df = _q(spark, "q21_waiting_supplier")
    plan = P.formatted_plan(df)
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert _lineitem_scans(plan) <= 3, plan
    assert "CartesianProduct" not in plan


def test_q22_not_exists_is_anti_join(spark):
    """The no-urgent-orders predicate must plan as a LEFT ANTI join
    with the priority filter pushed to the orders scan."""
    df = _q(spark, "q22_idle_customers")
    plan = P.formatted_plan(df)
    assert "LeftAnti" in plan, plan
    pushed = " ".join(P.pushed_filters(df))
    assert "o_orderpriority" in pushed, pushed


def test_quantile_sketch_window_input_is_prefiltered(spark):
    """The bottom-k window must rank only the hash-threshold
    survivors (u <= 4k/n), never shuffle-sort the full fact; the
    per-group counts join in as a broadcast."""
    df = _q(spark, "sketch_quantile_bottomk")
    plan = P.formatted_plan(df)
    assert "__u" in plan and "least(1.0" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # production shape = count scan + prefiltered sample scan; the
    # exact-quantile audit adds one more. Anything beyond 3 means the
    # prefilter stopped cutting the window input.
    assert plan.count("lineitem.parquet]") <= 3, plan


def test_pattern_negation_has_no_join(spark):
    """The CEP negative pattern must stay a single window pass — any
    Join node means the triple-self-join shape crept back."""
    df = _q(spark, "seq_pattern_negation")
    plan = P.formatted_plan(df)
    assert "Join" not in plan, plan
    assert "Window" in plan, plan


def test_line_dedup_no_cartesian_and_partial_agg(spark):
    """C4 line dedup: first-owner election must be an equi-join on the
    line hash (combiner-friendly agg + join, never a pair/nested-loop
    product), with partial aggregation absorbing hyper-duplicated
    lines map-side."""
    df = _q(spark, "text_line_dedup")
    plan = P.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert P.has_partial_aggregation(df)
    assert set(P.join_strategies(df)) <= {
        "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"
    }


def test_gopher_rules_fully_narrow(spark):
    """The Gopher gate is per-row scoring: zero exchanges — at 100 TB
    it must run as a single scan stage."""
    df = _q(spark, "text_gopher_rules")
    assert P.num_exchanges(df) == 0, P.formatted_plan(df)


def test_seasonal_anomaly_broadcasts_index_tables(spark):
    """Seasonal anomaly joins the fact against two BOUNDED aggregates
    (|keys|x24 hour-index rows, |keys| moment rows): every join must
    broadcast — the events fact is scanned, never shuffled for a
    join."""
    df = _q(spark, "ts_seasonal_anomaly")
    plan = P.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert set(P.join_strategies(df)) == {"BroadcastHashJoin"}, (
        P.join_strategies(df)
    )


def test_sorted_neighborhood_has_no_join_at_all(spark):
    """SNM's whole point is O(n*w) comparisons via an ordered window —
    the plan must contain NO join operator of any kind (a pair join
    appearing here means the heuristic degenerated to all-pairs)."""
    df = _q(spark, "dedup_sorted_neighborhood")
    assert P.join_strategies(df) == [], P.join_strategies(df)
    plan = P.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_c4_funnel_one_plan_no_cartesian(spark):
    """The C4 funnel composes langid, quality gate, line dedup, exact
    dedup, and accounting into ONE plan: every join equi-keyed (line
    hash, clean-text digest, doc id), partial aggregation on, no
    nested-loop anywhere."""
    df = _q(spark, "pipeline_c4_funnel")
    plan = P.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert P.has_partial_aggregation(df)


def test_theil_sen_pairs_join_is_equi_no_cartesian(spark):
    """The pairwise-slope stage must plan as an equi-join on the key
    with the d1<d2 filter — a nested-loop here would be quadratic in
    FACT rows instead of the calendar-bounded daily grid."""
    df = _q(spark, "a43_theil_sen")
    plan = P.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert P.has_partial_aggregation(df)


def test_jaccard_neighbors_wedge_is_equi_and_takeordered(spark):
    """Wedge generation must be the self-EQUI-join on the shared
    neighbor; the top-k cut must be TakeOrdered (per-partition
    bottom-k + k-row merge), never a global Sort+Limit."""
    df = _q(spark, "graph_jaccard_neighbors")
    plan = P.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_concat_chunks_window_is_shard_partitioned(spark):
    """The prefix-sum window must be partitioned by the value-range
    shard — an empty partition spec would be the single-reducer
    global-window scale-killer the operator exists to avoid."""
    df = _q(spark, "sample_concat_chunks")
    plan = P.formatted_plan(df)
    assert "windowspecdefinition(__shard" in plan
    # no unpartitioned window anywhere in the plan
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert m.group(1).strip().startswith("__shard"), m.group(0)


def test_shapley_sql_tier_has_no_cartesian_blowup(spark):
    """The channels x coalitions cross join is bounded metadata
    (k x 2^k rows); the DATA-side plan must stay nested-loop-free up
    to that bounded tail and keep partial aggregation on the
    user-keyed pass."""
    df = _q(spark, "w30_shapley_attribution")
    assert P.has_partial_aggregation(df)


def test_hll_rollup_two_level_aggregate(spark):
    """Rollup = per-shard registers then merged registers: two hash
    aggregates, no window, no join on the fact path."""
    df = _q(spark, "a26_hll_rollup")
    plan = P.formatted_plan(df)
    assert "Window" not in plan
    assert P.has_partial_aggregation(df)
