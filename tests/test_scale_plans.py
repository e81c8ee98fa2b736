"""Physical-plan assertions: the scale properties SCALE.md claims must
be visible in the executed plans, not just asserted in prose.

These tests lock in: filter/column pushdown to the Parquet scan,
broadcast choice for dim joins, map-side partial aggregation, top-k
compiling to TakeOrderedAndProject / WindowGroupLimit rank pushdown,
and the bucketed join running with no Exchange on the join path.
"""

from __future__ import annotations

import re

import pytest

pytestmark = pytest.mark.full  # heavy lane (see pytest.ini)

from weather_etl_spark.plan_audit import plan_nodes, run_final
from weather_etl_spark.registry import load_all

SPECS = load_all()


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized_scan_info(df) -> str:
    # formatted explain includes PushedFilters / ReadSchema per scan
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q1_pushes_filter_and_prunes_columns(spark, sf_dir):
    df = SPECS["q_agg_q1"].fn(spark, sf_dir)
    plan = _optimized_scan_info(df)
    assert "PushedFilters:" in plan and "LessThanOrEqual(l_shipdate" in plan
    # projection pruned to the referenced columns only
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "l_orderkey" not in m.group(1), "scan reads unused columns"


def test_q1_partial_aggregation_before_exchange(spark, sf_dir):
    plan = _executed_plan(SPECS["q_agg_q1"].fn(spark, sf_dir))
    assert "partial_sum" in plan, "no map-side partial aggregation"
    assert plan.index("partial_sum") > plan.index("Exchange"), (
        "partial agg must run below (after in tree order) the exchange"
    )


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = _executed_plan(SPECS["q_join_star"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-k never global-sorts


def test_global_topk_is_take_ordered(spark, sf_dir):
    plan = _executed_plan(SPECS["q_topk_global"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_grouped_topk_uses_rank_limit_pushdown(spark, sf_dir):
    plan = _executed_plan(SPECS["q_topk_group"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan.split("WindowGroupLimit")[-1] or (
        plan.count("WindowGroupLimit") >= 2
    ), "expected map-side partial rank limit"


def test_bucketed_join_has_no_exchange_on_join_path(spark, sf_dir):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = SPECS["q_join_bucketed"].fn(spark, sf_dir)
        plan = _executed_plan(df)
        join_part = plan.split("Join")[1] if "Join" in plan else plan
        # The only allowed Exchange is the final tiny group-by on
        # o_orderstatus ABOVE the join; below the join: none.
        below_join = plan[plan.index("MergeJoin"):] if "MergeJoin" in plan else join_part
        assert "Exchange" not in below_join, (
            "bucketed join must read co-located buckets without shuffling"
        )
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_knn_broadcasts_probe_set(spark, sf_dir):
    plan = _executed_plan(SPECS["q_llm_knn"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, (
        "kNN must broadcast the bounded probe side"
    )


def test_dpp_prunes_fact_partitions(spark, sf_dir):
    df = SPECS["q_join_dpp"].fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert "dynamicpruning" in plan or "DynamicPruning" in plan, (
        "fact scan must carry a runtime partition-pruning subquery"
    )


def test_tpch_q3_pushes_filters_and_broadcasts_customer(spark, sf_dir):
    df = SPECS["q_tpch_q3"].fn(spark, sf_dir)
    scan = _optimized_scan_info(df)
    # date filters reach the parquet scans on both fact sides
    assert "PushedFilters:" in scan
    assert "l_shipdate" in scan and "o_orderdate" in scan
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" in plan, "filtered customer dim not broadcast"
    assert "TakeOrderedAndProject" in plan, "top-10 must not global-sort"


def test_tpch_q5_broadcasts_all_dims(spark, sf_dir):
    plan = _executed_plan(SPECS["q_tpch_q5"].fn(spark, sf_dir))
    # customer + supplier(+nation+region) sides broadcast; the only
    # SortMergeJoin/shuffle join allowed is lineitem<->orders.
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("SortMergeJoin") <= 1


def test_embed_dedup_blocked_broadcasts_cell_pairs(spark, sf_dir):
    plan = _executed_plan(SPECS["llm_embed_dedup_blocked"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, (
        "admissible cell-pair list must join as a broadcast, not shuffle"
    )
    assert "CartesianProduct" not in plan, (
        "blocked dedup must never fall back to an unconditional cross join"
    )


def test_split_assignment_is_shuffle_free(spark, sf_dir):
    plan = _executed_plan(SPECS["q_llm_split"].fn(spark, sf_dir))
    assert "Exchange" not in plan, (
        "hash-split is a pure projection — any shuffle is a regression"
    )


def test_cbo_stats_reach_the_optimizer(spark, sf_dir):
    """ANALYZE TABLE row counts must be visible to the planner (CBO
    cardinality estimates), not just file sizes."""
    df = SPECS["q_join_cbo"].fn(spark, sf_dir)
    # the staged tables carry ANALYZE stats in the catalog
    stats = spark.sql("DESCRIBE EXTENDED cbo_customer").filter(
        "col_name = 'Statistics'"
    ).collect()
    assert stats and "rows" in stats[0]["data_type"], (
        "ANALYZE did not record row counts in the catalog"
    )
    assert df.count() > 0


def test_time_rollup_single_expand_single_shuffle(spark, sf_dir):
    df = SPECS["q_time_rollup"].fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert plan.count("Expand") == 1, "grouping sets must expand once"
    assert "partial_count" in plan or "partial" in plan.lower(), (
        "rollup must partial-aggregate map-side"
    )
    assert plan_nodes(df)["Exchange"] <= 1, (
        "all three grains must share ONE shuffle"
    )


def test_winnow_fingerprint_is_shuffle_free(spark, sf_dir):
    plan = _executed_plan(SPECS["q_llm_winnow"].fn(spark, sf_dir))
    assert "Exchange" not in plan, (
        "winnowing is per-row HOF arithmetic — any shuffle is a regression"
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
        "winnowing must stay JVM-side (no Python in the row path)"
    )


def test_dsv2_aggregate_pushdown_lands_in_scan(spark, sf_dir):
    """SCALE.md §1 / session.py aggregatePushdown claim, verified: on
    the DSv2 reader path an unfiltered MIN/MAX/COUNT over a numeric
    parquet column is answered by the scan itself (footer statistics),
    visible as PushedAggregation in the plan.  The conf is a no-op on
    the default v1 path, which is why this test flips useV1SourceList.
    """
    from pyspark.sql import functions as F

    from weather_etl_spark.io import table_path

    old = spark.conf.get("spark.sql.sources.useV1SourceList", None)
    try:
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        df = spark.read.parquet(table_path(sf_dir, "orders")).agg(
            F.max("o_orderkey").alias("max_key"),
            F.min("o_orderkey").alias("min_key"),
            F.count(F.lit(1)).alias("n"),
        )
        plan = _optimized_scan_info(df)
        assert "PushedAggregation" in plan and "MAX(o_orderkey)" in plan, (
            "aggregate did not land in the DSv2 scan:\n" + plan
        )
        row = df.collect()[0]
        # cross-check the footer-stats answer against the v1 row scan
        spark.conf.set(
            "spark.sql.sources.useV1SourceList",
            old if old is not None else "avro,csv,json,kafka,orc,parquet,text",
        )
        ref = spark.read.parquet(table_path(sf_dir, "orders")).agg(
            F.max("o_orderkey"), F.min("o_orderkey"), F.count(F.lit(1))
        ).collect()[0]
        assert tuple(row) == tuple(ref)
    finally:
        if old is None:
            spark.conf.unset("spark.sql.sources.useV1SourceList")
        else:
            spark.conf.set("spark.sql.sources.useV1SourceList", old)


def test_aqe_splits_skewed_join_partition(spark, sf_dir):
    """SCALE.md §0/§3 claims AQE handles skew at runtime — verify it:
    a sort-merge join whose left side is one hot key must show
    skew=true in the final adaptive plan once the skew thresholds are
    within reach of the fixture's size."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 400_000).select(
            # ~97% of rows land on key 7: one reducer partition is ~30x
            # the median, far past factor 2
            F.when(F.col("id") % 32 != 0, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.col("id").alias("rv")
        )
        # global agg (no hash-distribution requirement downstream — a
        # groupBy(k) right after the join would pin the partitioning and
        # make AQE skip the skew split)
        joined = left.join(right, "k").agg(F.sum("payload").alias("s"))
        nodes = run_final(joined)
        assert nodes["SortMergeJoin(skew=true)"] == 1, (
            f"AQE did not split the skewed join partition: {nodes}"
        )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sample_hash_is_shuffle_free_and_prunes(spark, sf_dir):
    df = SPECS["q_sample_hash"].fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert "Exchange" not in plan, (
        "hash sampling must be a map-side narrow filter"
    )
    scan = _optimized_scan_info(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", scan)
    assert m and "props" not in m.group(1), (
        "sampler scan reads columns the projection dropped"
    )


def test_sessionize_reuses_one_user_shuffle(spark, sf_dir):
    plan = _executed_plan(SPECS["q_win_sessionize"].fn(spark, sf_dir))
    # lag window, running-sum window, and the session aggregate all key
    # on user_id: one hashpartitioning exchange must serve all three
    # (AQE may append a coalesce-read, not a second shuffle)
    assert plan.count("Exchange hashpartitioning") == 1, (
        "sessionize should shuffle once on user_id, plan:\n" + plan[:1500]
    )


def test_islands_two_shuffles_with_partial_dedup(spark, sf_dir):
    # Two exchanges is the RIGHT plan here: the distinct shuffles
    # map-side partially-deduped (user_id, hr) pairs (tiny at scale),
    # then the window re-keys on user_id. Forcing one shuffle (explicit
    # repartition before distinct) would ship raw un-deduped events.
    plan = _executed_plan(SPECS["q_win_islands"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2, (
        "islands grew a third shuffle, plan:\n" + plan[:1500]
    )
    assert "partial" in plan.lower(), (
        "distinct must partial-aggregate map-side before its shuffle"
    )


def test_c4_filter_is_shuffle_free(spark, sf_dir):
    plan = _executed_plan(SPECS["q_llm_c4_filter"].fn(spark, sf_dir))
    assert "Exchange" not in plan, (
        "the corpus gate is a per-doc projection; no shuffle allowed"
    )


def test_time_interp_single_event_shuffle_no_join_on_facts(spark, sf_dir):
    # the as-of pairing must be window frames over one user_id sort, not
    # a range/cross join of events against the grid
    df = SPECS["q_time_interp"].fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan.replace(
        "BroadcastNestedLoopJoin", ""
    ), "grid pairing fell back to a cartesian join against events"
    assert plan_nodes(df)["Window"] >= 1
    # events shuffle once on user_id for the windows; the grid build may
    # add tiny exchanges (bounds agg + distinct users), never a second
    # events-sized one
    assert plan.count("Exchange hashpartitioning(user_id") <= 2


def test_agg_mode_ranks_over_counts_not_rows(spark, sf_dir):
    plan = _executed_plan(SPECS["q_agg_mode"].fn(spark, sf_dir))
    assert "partial_count" in plan, (
        "mode must partial-aggregate the (status, priority) counts "
        "map-side before any window"
    )


def _analyzed_plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_perplexity_has_no_unconditional_broadcast_hint(spark, sf_dir):
    """r5 verdict fix: the bigram/prefix count tables are
    vocabulary-sized (grow with the corpus), so the joins must carry NO
    broadcast hint — a hint never degrades, it OOMs at 100 TB.  AQE may
    still *choose* broadcast at test SF; what we pin is hint absence."""
    df = SPECS["q_llm_perplexity"].fn(spark, sf_dir)
    assert "ResolvedHint" not in _analyzed_plan(df), (
        "q_llm_perplexity re-grew a broadcast hint on a "
        "vocabulary-sized relation"
    )


def test_tfidf_hints_only_the_one_row_corpus_count(spark, sf_dir):
    """Same fix for tf-idf: the document-frequency table is
    vocabulary-sized and must not be hint-broadcast.  The single
    allowed hint is the 1-row corpus-count crossJoin side."""
    plan = _analyzed_plan(SPECS["q_llm_tfidf"].fn(spark, sf_dir))
    assert plan.count("ResolvedHint") <= 1, (
        "q_llm_tfidf hints more than the constant 1-row count:\n" + plan
    )


def test_tpch_composites_hint_only_constant_size_dims(spark, sf_dir):
    """Customer/supplier grow with SF, so q_tpch_q3/q5 and q_join_star
    leave their join strategy to CBO/AQE.  Only the constant-size
    region(5)/nation(25) dims in q5 may keep explicit hints."""
    for name, max_hints in (("q_tpch_q3", 0), ("q_join_star", 0),
                            ("q_tpch_q5", 2)):
        plan = _analyzed_plan(SPECS[name].fn(spark, sf_dir))
        assert plan.count("ResolvedHint") <= max_hints, (
            f"{name} hints a growing dim (allowed {max_hints}):\n"
            + plan[:2000]
        )
    # and at bench SF the filtered customer dim must still broadcast
    # by size estimation (the fast plan is unchanged where it matters)
    for name in ("q_tpch_q3", "q_join_star"):
        phys = _executed_plan(SPECS[name].fn(spark, sf_dir))
        assert "BroadcastHashJoin" in phys, (
            f"{name}: size estimator stopped broadcasting customer"
        )


def test_round6_projection_ops_are_shuffle_free(spark, sf_dir):
    """Corpus-curation gates and array ops claim zero-shuffle,
    JVM-only plans — assert both (any Exchange or Python eval node is
    a regression)."""
    for name in ("q_llm_pii_scrub", "q_llm_chunk", "q_llm_ttr",
                 "q_llm_gopher_filter", "llm_embed_quantize",
                 "q_fn_url", "q_fn_format"):
        plan = _executed_plan(SPECS[name].fn(spark, sf_dir))
        assert "Exchange" not in plan, f"{name} grew a shuffle"
        assert "EvalPython" not in plan and "MapInPandas" not in plan, (
            f"{name} dropped out of codegen into Python"
        )


def test_interval_overlap_is_equi_join_not_theta(spark, sf_dir):
    """The bucketed rewrite must plan as a hash-partitionable equi
    join — a BroadcastNestedLoopJoin/CartesianProduct means the
    overlap predicate leaked back into the join condition."""
    plan = _executed_plan(SPECS["q_join_interval_overlap"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pagerank_checkpoints_loop_invariants(spark, sf_dir):
    """The unrolled PageRank must read its edge list from materialized
    checkpoints: a 'Scan parquet' in the FINAL plan means an iteration
    re-derives edges from the base tables (measured 66 Exchanges vs 6
    with checkpoints at sf0.01)."""
    df = SPECS["q_graph_pagerank"].fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert "Scan parquet" not in plan, (
        "pagerank iteration re-scans base tables"
    )
    n = plan_nodes(df)["Exchange"]
    assert n <= 10, f"pagerank plan re-grew shuffles: {n}"


def test_keywords_topk_compiles_to_window_group_limit(spark, sf_dir):
    plan = _executed_plan(SPECS["q_llm_keywords"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan, (
        "per-doc top-3 must push the rank limit into the window"
    )


def test_bpe_pairs_topk_is_take_ordered(spark, sf_dir):
    plan = _executed_plan(SPECS["q_llm_bpe_pairs"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, (
        "global top-20 must be per-partition heaps, not a full sort"
    )


def test_bloom_membership_is_broadcast_join(spark, sf_dir):
    plan = _executed_plan(SPECS["q_join_bloom"].fn(spark, sf_dir))
    # the m<=1024-row bit set joins as a broadcast hash join on `bit`;
    # the probe side must never sort-merge against it
    assert "BroadcastHashJoin [bit" in plan.replace("#", " #").replace(
        "bit#", "bit #"
    ) or re.search(r"BroadcastHashJoin \[bit#\d+", plan), (
        "bit-set membership should be a broadcast hash join"
    )


def test_cms_and_bitmap_partial_aggregate_before_exchange(spark, sf_dir):
    for name in ("q_agg_cms_portable", "q_agg_bitmap_portable"):
        plan = _executed_plan(SPECS[name].fn(spark, sf_dir))
        assert "partial_" in plan, f"{name}: no map-side partial agg"
        assert plan.index("partial_") > plan.index("Exchange"), (
            f"{name}: partial agg must run below the exchange"
        )


def test_funnel_filters_event_type_before_shuffle(spark, sf_dir):
    plan = _optimized_scan_info(SPECS["q_funnel"].fn(spark, sf_dir))
    assert "PushedFilters:" in plan
    assert "EqualTo(event_type,view)" in plan, (
        "stage filters must reach the parquet scan"
    )


def test_scd2_windows_share_one_user_shuffle(spark, sf_dir):
    plan = _executed_plan(SPECS["q_scd2_intervals"].fn(spark, sf_dir))
    n_exchanges = plan.count("Exchange hashpartitioning(user_id")
    assert n_exchanges == 1, (
        f"lag-detect and lead-close must reuse ONE user_id exchange, "
        f"saw {n_exchanges}"
    )


# --- round-6 second-batch plan shapes (eventseq / curation / layout) ---


def test_eventseq_windows_share_one_user_shuffle(spark, sf_dir):
    """EWMA's 8 lag taps and the transition lag must each compile into
    ONE user_id exchange + one Window node, not a shuffle per tap."""
    for name in ("q_time_ewma", "q_event_transitions"):
        plan = _executed_plan(SPECS[name].fn(spark, sf_dir))
        n = plan.count("Exchange hashpartitioning(user_id")
        assert n == 1, f"{name}: expected 1 user_id exchange, saw {n}"


def test_anomaly_single_event_type_shuffle_bounded_frame(spark, sf_dir):
    df = SPECS["q_time_anomaly"].fn(spark, sf_dir)
    n = _executed_plan(df).count("Exchange hashpartitioning(event_type")
    assert n == 1, f"expected 1 event_type exchange, saw {n}"
    # the three frame aggregates share one Window node
    assert plan_nodes(df)["Window"] == 1


def test_snapshot_diff_is_single_keyed_shuffle_join(spark, sf_dir):
    plan = _executed_plan(SPECS["q_snapshot_diff"].fn(spark, sf_dir))
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rank_fusion_pushes_rank_limit(spark, sf_dir):
    """Both retriever rankings must bound the data reaching the
    single-partition ranking window: either WindowGroupLimit (heap
    per partition) or — as the current optimizer does — a
    TakeOrderedAndProject(limit=200) directly under each Window.
    Either way, no unbounded corpus rows enter a ranking window."""
    plan = _executed_plan(SPECS["q_rank_fusion"].fn(spark, sf_dir))
    bounded = plan.count("WindowGroupLimit") + plan.count(
        "TakeOrderedAndProject(limit=200"
    )
    assert bounded >= 2, (
        "rank<=N must compile to per-partition top-N ahead of the "
        "ranking windows"
    )
    assert "TakeOrderedAndProject(limit=100" in plan


def test_curation_projections_are_shuffle_free(spark, sf_dir):
    """Markup strip, encoding audit, and sentence stats are per-row
    codegen — any Exchange or Python eval node is a regression."""
    for name in ("q_llm_strip_markup", "q_llm_encoding_check",
                 "q_llm_sentences"):
        plan = _executed_plan(SPECS[name].fn(spark, sf_dir))
        assert "Exchange" not in plan, f"{name} grew a shuffle"
        assert "EvalPython" not in plan and "MapInPandas" not in plan, (
            f"{name} dropped out of codegen into Python"
        )


def test_token_budget_has_no_corpus_wide_single_partition_window(
    spark, sf_dir
):
    """The greedy prefix must come from the bin ledger: the only
    SinglePartition exchange feeds the bounded bin table (1000 rows),
    and the per-doc running sum is partitioned by bin."""
    plan = _executed_plan(SPECS["q_llm_token_budget"].fn(spark, sf_dir))
    assert "Exchange hashpartitioning(b" in plan, (
        "per-doc running sum must partition by the quality bin"
    )
    # the single-partition window exists but only over the bin ledger:
    # it must sit directly above the bin aggregate, not the doc scan
    assert "partial_sum" in plan.lower() or "partial" in plan, (
        "bin ledger must partial-aggregate before its exchange"
    )


def test_zorder_is_one_map_combined_aggregate(spark, sf_dir):
    df = SPECS["q_layout_zorder"].fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert plan_nodes(df)["Exchange"] == 1, (
        "bit interleave must stay in the scan stage; one cluster agg "
        "exchange only"
    )
    assert "partial_" in plan, "cluster stats must map-side combine"
    assert "EvalPython" not in plan


def test_compaction_plans_on_metadata_scale(spark, sf_dir):
    """The prefix sum runs over the per-partition file ledger (output
    of the groupBy), never the document rows: the single-partition
    exchange must sit above a partial-aggregated ledger."""
    plan = _executed_plan(SPECS["q_layout_compaction"].fn(spark, sf_dir))
    assert "partial_sum" in plan, "file ledger must partial-aggregate"
    assert plan.index("partial_sum") > plan.index("SinglePartition"), (
        "prefix sum must consume the reduced ledger, not raw rows"
    )


def test_domain_cap_compiles_to_window_group_limit(spark, sf_dir):
    plan = _executed_plan(SPECS["q_llm_domain_cap"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan, (
        "per-domain cap must push the rank limit into the window"
    )


def test_attribution_is_one_user_window_pass(spark, sf_dir):
    plan = _executed_plan(SPECS["q_event_attribution"].fn(spark, sf_dir))
    n = plan.count("Exchange hashpartitioning(user_id")
    assert n == 1, f"expected 1 user_id exchange, saw {n}"
    assert "Join" not in plan, (
        "attribution must be a window pass, not a purchase x click join"
    )


def test_corr_matrix_is_single_pass_partial_agg(spark, sf_dir):
    df = SPECS["q_agg_corr_matrix"].fn(spark, sf_dir)
    assert plan_nodes(df)["Exchange"] == 1, (
        "all four correlations must share one grouped pass"
    )
    assert "partial_" in _executed_plan(df), (
        "corr partials must map-side combine"
    )


def test_weighted_median_single_flag_shuffle(spark, sf_dir):
    plan = _executed_plan(SPECS["q_agg_weighted_median"].fn(spark, sf_dir))
    n = plan.count("Exchange hashpartitioning(l_returnflag")
    assert n == 1, (
        f"cumulative and total weight must share one flag exchange, saw {n}"
    )


def test_entropy_shuffles_pairs_not_events(spark, sf_dir):
    """The (user, type) count must partial-aggregate map-side so the
    exchanges carry pair counts, never raw events."""
    plan = _executed_plan(SPECS["q_agg_entropy"].fn(spark, sf_dir))
    assert "partial_count" in plan or "partial" in plan, (
        "pair counts must map-side combine before shuffling"
    )
    assert "EvalPython" not in plan


def test_readability_and_novelty_stay_jvm_side(spark, sf_dir):
    plan_r = _executed_plan(SPECS["q_llm_readability"].fn(spark, sf_dir))
    assert "Exchange" not in plan_r, "readability grew a shuffle"
    assert "EvalPython" not in plan_r
    plan_n = _executed_plan(SPECS["q_llm_gram_novelty"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan_n
    assert "EvalPython" not in plan_n


def test_rfm_anchor_is_broadcast_single_row(spark, sf_dir):
    plan = _executed_plan(SPECS["q_event_rfm"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, (
        "the 1-row ts anchor must broadcast (q_filter_ts_cursor pattern)"
    )


def test_spatial_grid_is_equi_join_with_bounded_replication(spark, sf_dir):
    """The eps-join must plan as a hash-partitionable equi join on the
    cell key — a BNL or CartesianProduct means the distance predicate
    leaked into the join condition. The 9x neighbor replication is a
    map-side Generate (explode), not a join."""
    plan = _executed_plan(SPECS["q_join_spatial_grid"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode" in plan or "Generate" in plan, (
        "neighbor-cell replication must be a map-side explode"
    )


def test_winsorize_bounds_ledger_broadcasts_unhinted(spark, sf_dir):
    """The 3-row percentile ledger must come back as a broadcast join
    chosen by the size estimator (no F.broadcast hint in the code —
    the q_llm_perplexity lesson), so a giant ledger would degrade to
    a shuffle join instead of OOMing the driver."""
    plan = _executed_plan(SPECS["q_agg_winsorize"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan, "clip aggregate must map-side combine"


def test_feature_hash_shuffle_bounded_by_buckets(spark, sf_dir):
    plan = _executed_plan(SPECS["q_llm_feature_hash"].fn(spark, sf_dir))
    assert "partial_count" in plan, (
        "per-(doc, feature) counts must map-side combine so the "
        "shuffle is bounded by docs x buckets, not tokens"
    )
    assert "EvalPython" not in plan


def test_ohlc_is_single_two_phase_aggregate(spark, sf_dir):
    """min_by/max_by over the (ts, event_id) struct must compile as
    one partial-aggregated exchange — no Window, no sort."""
    df = SPECS["q_time_resample_ohlc"].fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert "Window" not in plan, "OHLC must not fall back to a window"
    assert plan_nodes(df)["Exchange"] == 1
    assert "partial_" in plan


def test_autocorr_shares_the_type_shuffle(spark, sf_dir):
    plan = _executed_plan(SPECS["q_agg_autocorr"].fn(spark, sf_dir))
    n = plan.count("Exchange hashpartitioning(event_type")
    assert n == 1, f"lag window and corr agg must share 1 exchange, saw {n}"


def test_cooccurrence_self_join_bounded_by_types(spark, sf_dir):
    plan = _executed_plan(SPECS["q_event_cooccurrence"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the 1-row user-count broadcast is the only BNL
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_pareto_ranks_the_customer_ledger_not_orders(spark, sf_dir):
    """Revenue must reduce per customer BEFORE the ranking window —
    the single-partition sort sees the dim-scale ledger only."""
    plan = _executed_plan(SPECS["q_agg_pareto"].fn(spark, sf_dir))
    assert "partial_sum" in plan
    assert plan.index("partial_sum") > plan.index("Window"), (
        "the window must consume the reduced ledger, not raw orders"
    )


def test_bursts_window_runs_on_bucket_ledger(spark, sf_dir):
    plan = _executed_plan(SPECS["q_event_bursts"].fn(spark, sf_dir))
    assert "partial_count" in plan, (
        "hourly counts must map-side combine before the window"
    )
    assert plan.index("partial_count") > plan.index("Window")


def test_prefix_dup_is_block_key_hash_join(spark, sf_dir):
    plan = _executed_plan(SPECS["q_llm_prefix_dup"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, (
        "prefix check must be a post-join filter on the block-key "
        "equi-join, never part of the join condition"
    )


# -- round-6 third late batch --------------------------------------------


def test_asof_tol_single_user_shuffle(spark, sf_dir):
    """Tolerance must add zero physical cost over the plain as-of:
    one hashpartitioning exchange on user_id, one Window, no join."""
    plan = _executed_plan(SPECS["q_join_asof_tol"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "user_id" in plan[plan.index("Exchange") :][:200]
    assert "Join" not in plan


def test_event_trigrams_one_window_pass(spark, sf_dir):
    """Both lead() frames evaluate in a single WindowExec over one
    user_id shuffle; the trigram agg is map-combined (partial_count)."""
    df = SPECS["q_event_trigrams"].fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert plan_nodes(df)["Window"] == 1
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan  # top-20, no global sort


def test_win_peaks_shares_lag_lead_window(spark, sf_dir):
    df = SPECS["q_win_peaks"].fn(spark, sf_dir)
    assert plan_nodes(df)["Window"] == 1, "lag+lead must share one WindowExec"
    # map-side combine of the census
    assert "partial_count" in _executed_plan(df)


def test_tpch_q10_prunes_and_take_ordered(spark, sf_dir):
    df = SPECS["q_tpch_q10"].fn(spark, sf_dir)
    scan = _optimized_scan_info(df)
    assert "EqualTo(l_returnflag,R)" in scan, "returnflag not pushed"
    assert "GreaterThanOrEqual(o_orderdate" in scan, "quarter not pushed"
    plan = _executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan  # nation (and small dims) broadcast


def test_sql_subqueries_decorrelate_to_joins(spark, sf_dir):
    """Catalyst must rewrite all four correlated subqueries into
    aggregate + join shapes — no per-row re-execution survives."""
    plan = _executed_plan(SPECS["q_sql_subqueries"].fn(spark, sf_dir))
    assert "Subquery" not in plan, "correlated subquery not decorrelated"
    assert "Join" in plan
    assert "TakeOrderedAndProject" in plan


def test_ppl_bucket_no_unconditional_vocab_broadcast(spark, sf_dir):
    """Inherits the q_llm_perplexity contract: the vocabulary-sized
    count tables must not be hint-broadcast (AQE may still pick
    broadcast at bench SF — the assertion is on the *logical* plan
    carrying no ResolvedHint)."""
    df = SPECS["q_llm_ppl_bucket"].fn(spark, sf_dir)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in logical
    assert plan_nodes(df)["Window"] >= 1  # the lang-partitioned NTILE


def test_holt_buckets_before_python(spark, sf_dir):
    """The sequential Python pass must see the BUCKETED ledger, not
    raw events: the plan aggregates (partial_sum) below FlatMapGroups,
    and rounding happens in engine expressions above it."""
    plan = _executed_plan(SPECS["q_time_holt"].fn(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    assert "partial_sum" in plan, "bucket means must pre-aggregate"
    assert plan.index("partial_sum") > plan.index(
        "FlatMapGroupsInPandas"
    ), "aggregation must run below the pandas stage"


def test_scd2_lookup_has_no_range_join(spark, sf_dir):
    """The as-of formulation must plan as window-over-union: no join
    node at all, one user_id shuffle feeding the windows."""
    plan = _executed_plan(SPECS["q_join_scd2_lookup"].fn(spark, sf_dir))
    assert "Join" not in plan
    assert "Union" in plan and "Window" in plan


def test_srm_single_distinct_shuffle(spark, sf_dir):
    plan = _executed_plan(SPECS["q_agg_ab_srm"].fn(spark, sf_dir))
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "Join" not in plan


def test_adamic_adar_is_equi_wedge_join(spark, sf_dir):
    """Wedge generation must be a hash join on dst (equi), never a
    cartesian/BNL: the x<y predicate rides as a join condition."""
    plan = _executed_plan(SPECS["q_graph_adamic_adar"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_column_stats_single_scan(spark, sf_dir):
    """All six columns profile in ONE pass over orders: exactly one
    parquet scan node in the plan (the oracle's 6-scan UNION is for
    readability, not the physical shape)."""
    plan = _executed_plan(SPECS["q_scan_column_stats"].fn(spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan  # multi-distinct lowers through Expand


def test_phash_shuffles_hashes_not_payloads(spark, sf_dir):
    """Decode + hash stay inside mapInPandas; the band join operates
    on (doc_id, hash) rows and no all-pairs node appears."""
    plan = _executed_plan(SPECS["llm_mm_phash_dedup"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the checkpointed hash table feeds both join sides: the
    # encode+decode pipeline must appear ZERO times in the final plan
    # (it ran once, at checkpoint time), only scans of the checkpoint
    assert "MapInPandas" not in plan
    assert "ExistingRDD" in plan or "LocalTableScan" in plan


def test_seasonal_reaggregates_the_ledger(spark, sf_dir):
    """The type mean must derive from the 24-bucket ledger (sum of
    sums), not a second event scan: exactly one parquet scan."""
    plan = _executed_plan(SPECS["q_time_seasonal"].fn(spark, sf_dir))
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan  # totals come from a ledger window
    assert "partial_sum" in plan


def test_csv_malformed_reads_with_explicit_schema(spark, sf_dir):
    plan = _executed_plan(SPECS["src_csv_malformed"].fn(spark, sf_dir))
    assert "FileScan csv" in plan
    assert "Join" not in plan


def test_time_window_semi_is_equi_semi_join(spark, sf_dir):
    """The +-1 h predicate must ride an equi hash semi-join on
    (user, bucket) — never a BNL/cartesian range join."""
    plan = _executed_plan(
        SPECS["q_join_time_window_semi"].fn(spark, sf_dir)
    )
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_win_slope_single_window_shuffle(spark, sf_dir):
    """Rank + the four frame sums share the event_type partitioning:
    exactly one hashpartitioning exchange."""
    plan = _executed_plan(SPECS["q_win_slope"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_time_window_anti_is_equi_anti_join(spark, sf_dir):
    plan = _executed_plan(
        SPECS["q_join_time_window_anti"].fn(spark, sf_dir)
    )
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bpe_train_argmax_travels_in_plan(spark, sf_dir):
    """The per-round merge value must reach the rewrite as a 1-row
    broadcast inside the plan — no driver collect.  Building the op
    runs one localCheckpoint job per round, so the final plan reads
    only the checkpointed rounds: no table scan, and no keyed shuffle
    (its only Exchanges gather each round's 1-row total).  The argmax
    and its broadcast live in each round's pre-checkpoint plan."""
    from pyspark.sql import functions as F

    from weather_etl_spark.io import read_table
    from weather_etl_spark.operators.llm_prep import _bpe_best, _bpe_rewrite

    plan = _executed_plan(SPECS["q_llm_bpe_train"].fn(spark, sf_dir))
    assert "Scan parquet" not in plan
    assert set(re.findall(r"\bExchange (\w+)", plan)) <= {"SinglePartition"}
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("txt")
    )
    round_plan = _executed_plan(
        _bpe_rewrite(docs, _bpe_best(docs))
    )
    assert "BroadcastNestedLoopJoin" in round_plan  # 1-row crossJoin
    assert "TakeOrderedAndProject" in round_plan  # the round's argmax


def test_tpch_q18_reduces_before_join(spark, sf_dir):
    """The HAVING subquery must become a pre-aggregated semi side,
    and the top-25 a TakeOrderedAndProject."""
    plan = _executed_plan(SPECS["q_tpch_q18"].fn(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Subquery" not in plan


def test_rolling_median_single_shuffle(spark, sf_dir):
    df = SPECS["q_win_rolling_median"].fn(spark, sf_dir)
    assert _executed_plan(df).count("Exchange hashpartitioning") == 1
    assert plan_nodes(df)["Window"] == 1


def test_semdedup_pairs_are_bucket_scoped(spark, sf_dir):
    """The pair scan must join on the bucket key (hash join), never
    an unkeyed all-pairs node."""
    plan = _executed_plan(SPECS["q_llm_semdedup"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lpa_rounds_join_labels_not_edges_squared(spark, sf_dir):
    """Each LPA round must be an equi hash join of edges to the
    node-sized label table — no BNL/cartesian anywhere in 3 rounds."""
    plan = _executed_plan(
        SPECS["q_graph_lpa_communities"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_apply_bpe_rewrite_is_narrow(spark, sf_dir):
    """The apply pass adds no shuffle beyond training: the final
    join back to the original corpus is the only extra exchange."""
    plan = _executed_plan(SPECS["q_llm_apply_bpe"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_mark_join_dedupes_before_join(spark, sf_dir):
    """The flag side must aggregate to distinct keys below the join."""
    plan = _executed_plan(SPECS["q_join_mark"].fn(spark, sf_dir))
    assert "HashAggregate" in plan
    assert plan.index("HashAggregate") > plan.index("Join"), (
        "distinct must run below (inside) the join build side"
    )


def test_ttest_is_single_grouped_pass(spark, sf_dir):
    plan = _executed_plan(SPECS["q_agg_ttest"].fn(spark, sf_dir))
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_cusum_buckets_before_python(spark, sf_dir):
    plan = _executed_plan(SPECS["q_time_cusum"].fn(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    assert plan.index("partial_sum") > plan.index(
        "FlatMapGroupsInPandas"
    ), "bucket/mu ledgers must aggregate below the pandas stage"


def test_mannwhitney_shares_ordered_shuffle(spark, sf_dir):
    """The global rank and the tie windows must evaluate over the
    same ordered data — no cartesian, one rangepartitioning."""
    plan = _executed_plan(SPECS["q_agg_mannwhitney"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the unpartitioned rank window collapses to one partition —
    # acceptable at bench SF, documented as the prefix-count-ledger
    # rewrite at scale (scale_notes); pin the current shape so a
    # rewrite is a conscious decision
    assert "Exchange SinglePartition" in plan


def test_llm_pipeline_dedups_on_hash_keys(spark, sf_dir):
    """The dedup window must partition on md5(text) — shuffling
    16-byte digests, never raw documents as keys."""
    plan = _executed_plan(SPECS["pipe_llm_corpus_e2e"].fn(spark, sf_dir))
    assert "md5" in plan
    assert "CartesianProduct" not in plan


def test_asof_nearest_single_shuffle(spark, sf_dir):
    """Both direction frames must share one user_id exchange."""
    plan = _executed_plan(SPECS["q_join_asof_nearest"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_partition_prune_reaches_the_scan(spark, sf_dir):
    """The status predicate must land in PartitionFilters (directory
    pruning), not just PushedFilters."""
    df = SPECS["q_scan_partition_prune"].fn(spark, sf_dir)
    scan = _optimized_scan_info(df)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", scan)
    assert m and "o_orderstatus" in m.group(1), (
        "partition filter not pruned at the scan"
    )


def test_udf_pandas_iter_is_arrow_batched(spark, sf_dir):
    plan = _executed_plan(SPECS["q_udf_pandas_iter"].fn(spark, sf_dir))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan  # never row-at-a-time


def test_dau_wau_is_equi_grid_join(spark, sf_dir):
    """The weekly window must be the explode-to-anchor equi join —
    no non-equi BNL between the day axis and the ledger."""
    plan = _executed_plan(SPECS["q_event_dau_wau"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_q14_prunes_month_and_joins_hash(spark, sf_dir):
    df = SPECS["q_tpch_q14"].fn(spark, sf_dir)
    scan = _optimized_scan_info(df)
    assert "GreaterThanOrEqual(l_shipdate" in scan, "month not pushed"
    assert "LessThan(l_shipdate" in scan
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chisq_grid_is_ledger_bounded(spark, sf_dir):
    """The only joins are ledger-sized grid builds + 1-row cross
    joins — the raw event relation is aggregated exactly once."""
    plan = _executed_plan(SPECS["q_agg_chisq"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # grid joins stay broadcast-sized


def test_spearman_is_equi_join_only(spark, sf_dir):
    plan = _executed_plan(SPECS["q_agg_spearman"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lifecycle_is_equi_join_only(spark, sf_dir):
    plan = _executed_plan(SPECS["q_event_lifecycle"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_checksum_is_shuffle_minimal(spark, sf_dir):
    """Three single-row aggregates unioned: no joins at all, and only
    the three final 1-row exchanges."""
    nodes = plan_nodes(SPECS["q_dq_checksum"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in nodes
    assert "BroadcastHashJoin" not in nodes
    assert "CartesianProduct" not in nodes


def test_survival_runs_on_ledger(spark, sf_dir):
    plan = _executed_plan(SPECS["q_event_survival"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_vocab_coverage_joins_stay_small(spark, sf_dir):
    plan = _executed_plan(SPECS["q_llm_vocab_coverage"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embed_truncate_is_pure_aggregate(spark, sf_dir):
    nodes = plan_nodes(SPECS["q_llm_embed_truncate"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in nodes
    assert "BroadcastHashJoin" not in nodes
    assert "BroadcastNestedLoopJoin" not in nodes
    assert "ArrowEvalPython" not in nodes  # stays JVM-side


def test_rolling_corr_is_single_ledger_window(spark, sf_dir):
    nodes = plan_nodes(SPECS["q_win_rolling_corr"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in nodes
    assert "BroadcastHashJoin" not in nodes
    assert nodes["Window"] == 1


def test_theilsen_pairs_on_equi_type_key(spark, sf_dir):
    plan = _executed_plan(SPECS["q_agg_theilsen"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_manifest_ranges_disjoint_at_smoke_sf(spark):
    from tests.conftest import SMOKE_SF_DIR

    rows = SPECS["snk_manifest"].fn(spark, SMOKE_SF_DIR).collect()
    for a, b in zip(rows, rows[1:]):
        assert a["max_key"] < b["min_key"]


def test_kcore_rounds_are_equi_joins(spark, sf_dir):
    plan = _executed_plan(SPECS["q_graph_kcore"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_bootstrap_shuffle_carries_cells_not_rows(spark, sf_dir):
    """The post-explode aggregation must partial-aggregate map-side:
    the exchange carries (flag, b) cells, not B x n exploded rows."""
    plan = _executed_plan(SPECS["q_agg_bootstrap_ci"].fn(spark, sf_dir))
    assert "partial" in plan.lower()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embed_pq_broadcasts_codebook(spark, sf_dir):
    plan = _executed_plan(SPECS["q_llm_embed_pq"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # codebook join never shuffles
    assert "CartesianProduct" not in plan


def test_date_iso_is_zero_shuffle(spark, sf_dir):
    plan = _executed_plan(SPECS["q_fn_date_iso"].fn(spark, sf_dir))
    assert "Exchange" not in plan


def test_bm25_prunes_terms_before_shuffle(spark, sf_dir):
    df = SPECS["q_llm_bm25"].fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert "TakeOrderedAndProject" in plan  # top-20 never global-sorts
    assert "CartesianProduct" not in plan


def test_ols2_is_single_aggregation_pass(spark, sf_dir):
    nodes = plan_nodes(SPECS["q_agg_ols2"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in nodes
    assert "BroadcastHashJoin" not in nodes
    assert nodes["HashAggregate"] == 2  # map-side partials + final merge


def test_backtest_frames_use_only_past_rows(spark, sf_dir):
    plan = _executed_plan(SPECS["q_time_backtest"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cuped_reduces_before_join(spark, sf_dir):
    plan = _executed_plan(SPECS["q_ab_cuped"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_power_is_single_pass(spark, sf_dir):
    nodes = plan_nodes(SPECS["q_ab_power"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in nodes
    assert "BroadcastNestedLoopJoin" not in nodes


def test_markov2_joins_on_ledger(spark, sf_dir):
    plan = _executed_plan(SPECS["q_event_markov2"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_filter_funnel_single_doc_pass(spark, sf_dir):
    plan = _executed_plan(SPECS["q_llm_filter_funnel"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_dedup_incremental_hashes_before_join(spark, sf_dir):
    df = SPECS["q_llm_dedup_incremental"].fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pipe_events_shares_the_user_shuffle(spark, sf_dir):
    """Sessionize flag, session cumsum and both rollups must reuse ONE
    user_id partitioning: at most 2 exchanges total (scan-side + the
    final 2-row arm ledger)."""
    nodes = plan_nodes(SPECS["pipe_events_e2e"].fn(spark, sf_dir))
    assert nodes["Exchange"] <= 3
    assert "CartesianProduct" not in nodes


def test_rouge_overlap_join_is_hash_keyed(spark, sf_dir):
    plan = _executed_plan(SPECS["q_llm_rouge"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bleu_shares_rouge_physics(spark, sf_dir):
    plan = _executed_plan(SPECS["q_llm_bleu"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decay_score_takeordered(spark, sf_dir):
    plan = _executed_plan(SPECS["q_event_decay_score"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_mad_runs_on_ledger(spark, sf_dir):
    plan = _executed_plan(SPECS["q_time_mad"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q21_semi_anti_no_cartesian(spark, sf_dir):
    plan = _executed_plan(SPECS["q_tpch_q21"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # top-25 never global-sorts


def test_tpch_q17_pushes_brand_filter(spark, sf_dir):
    df = SPECS["q_tpch_q17"].fn(spark, sf_dir)
    info = _optimized_scan_info(df)
    assert "EqualTo(p_brand,Brand#4)" in info
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan


def test_tpch_q22_anti_join_on_distinct_keys(spark, sf_dir):
    plan = _executed_plan(SPECS["q_tpch_q22"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the only BNL is the 1-row threshold broadcast (Catalyst maxRows 1)
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_anova_is_two_level_aggregate(spark, sf_dir):
    nodes = plan_nodes(SPECS["q_agg_anova"].fn(spark, sf_dir))
    assert "CartesianProduct" not in nodes
    assert "BroadcastNestedLoopJoin" not in nodes
    assert nodes["Exchange"] <= 2  # type shuffle + 1-row final gather


def test_hard_negatives_windowgrouplimit(spark, sf_dir):
    plan = _executed_plan(SPECS["q_llm_hard_negatives"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan  # per-anchor top-k never global-sorts


def test_event_pattern_single_user_shuffle(spark, sf_dir):
    nodes = plan_nodes(SPECS["q_event_pattern"].fn(spark, sf_dir))
    assert "CartesianProduct" not in nodes
    assert "TakeOrderedAndProject" in nodes
    assert nodes["Exchange"] <= 1  # one user_id shuffle feeds everything


def test_kruskal_no_cartesian_beyond_ledger(spark, sf_dir):
    plan = _executed_plan(SPECS["q_agg_kruskal"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_tpch_q19_pushes_disjunction_to_both_scans(spark, sf_dir):
    df = SPECS["q_tpch_q19"].fn(spark, sf_dir)
    info = _optimized_scan_info(df)
    # part side gets the factored Or(brand...) filter pushed
    assert "Or(And(EqualTo(p_brand,Brand#1)" in info
    # lineitem side gets the quantity-range union pushed
    assert "GreaterThanOrEqual(l_quantity,1" in info
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan


def test_kneser_ney_no_vocab_broadcast_hints(spark, sf_dir):
    df = SPECS["q_llm_kneser_ney"].fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan
    # the only BNL is the 1-row (B, T) totals cross
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_time_to_convert_single_user_shuffle_family(spark, sf_dir):
    plan = _executed_plan(SPECS["q_event_time_to_convert"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_levene_two_pass_ledger(spark, sf_dir):
    plan = _executed_plan(SPECS["q_agg_levene"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cohort_ltv_windows_on_ledger(spark, sf_dir):
    nodes = plan_nodes(SPECS["q_cohort_ltv"].fn(spark, sf_dir))
    assert "CartesianProduct" not in nodes
    # two event-table shuffles (cohort assign + revenue join); the
    # rest exchange only the months^2-bounded (cohort, age) ledger
    assert nodes["Exchange"] <= 6


def test_span_corruption_no_explode_no_shuffle_before_ledger(spark, sf_dir):
    nodes = plan_nodes(SPECS["q_llm_span_corruption"].fn(spark, sf_dir))
    assert "Generate" not in nodes, "span accounting must not explode"
    assert nodes["Exchange"] <= 2  # spans-bucket ledger + final sort


def test_preference_pairs_hash_self_join(spark, sf_dir):
    plan = _executed_plan(SPECS["q_llm_preference_pairs"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_assortativity_two_hash_joins(spark, sf_dir):
    plan = _executed_plan(SPECS["q_graph_assortativity"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_eval_no_cartesian(spark, sf_dir):
    plan = _executed_plan(SPECS["q_llm_minhash_eval"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the signature is one groupBy(doc_id) of 12 mins: no permutation
    # cross, and the metrics come from one full-outer-join aggregate
    assert "BroadcastNestedLoopJoin" not in plan


def test_collate_single_shuffle(spark, sf_dir):
    nodes = plan_nodes(SPECS["q_fn_collate"].fn(spark, sf_dir))
    assert "CartesianProduct" not in nodes
    assert nodes["Exchange"] <= 3  # collated-key agg + distinct + sort


def test_next_pred_model_broadcasts_back(spark, sf_dir):
    plan = _executed_plan(SPECS["q_event_next_pred"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q4_pushes_quarter_and_semi_joins(spark, sf_dir):
    df = SPECS["q_tpch_q4"].fn(spark, sf_dir)
    info = _optimized_scan_info(df)
    assert "GreaterThanOrEqual(o_orderdate" in info
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan


def test_tpch_q6_pushes_every_predicate(spark, sf_dir):
    df = SPECS["q_tpch_q6"].fn(spark, sf_dir)
    info = _optimized_scan_info(df)
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThan(l_quantity,24",
    ):
        assert frag in info, f"missing pushed filter {frag}"
    assert plan_nodes(df)["Exchange"] == 1


def test_quantile_eval_bounded_bnl(spark, sf_dir):
    plan = _executed_plan(SPECS["q_agg_quantile_eval"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_dq_embeddings_no_explode(spark, sf_dir):
    nodes = plan_nodes(SPECS["q_dq_embeddings"].fn(spark, sf_dir))
    assert "Generate" not in nodes, "vector audit must not explode"
    assert nodes["Exchange"] <= 2


def test_tpch_q13_outer_join_single_custkey_shuffle(spark, sf_dir):
    plan = _executed_plan(SPECS["q_tpch_q13"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q16_pushes_part_predicates(spark, sf_dir):
    df = SPECS["q_tpch_q16"].fn(spark, sf_dir)
    info = _optimized_scan_info(df)
    assert "p_size" in info and "Not(EqualTo(p_brand,Brand#1))" in info
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_minhash_mae_candidates_only(spark, sf_dir):
    plan = _executed_plan(SPECS["q_llm_minhash_mae"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # no permutation-axis cross: the estimate compares the 12 signature
    # columns of the two candidate sides in one projection
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q7_pushes_window_no_cartesian(spark, sf_dir):
    df = SPECS["q_tpch_q7"].fn(spark, sf_dir)
    info = _optimized_scan_info(df)
    assert "GreaterThanOrEqual(l_shipdate" in info
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan


def test_tpch_q8_semi_prunes_both_fact_filters(spark, sf_dir):
    df = SPECS["q_tpch_q8"].fn(spark, sf_dir)
    info = _optimized_scan_info(df)
    assert "EqualTo(p_type,PROMO)" in info
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan


def test_tpch_q15_reuses_revenue_ledger(spark, sf_dir):
    plan = _executed_plan(SPECS["q_tpch_q15"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_tpch_q2_min_decorrelates_on_same_key(spark, sf_dir):
    plan = _executed_plan(SPECS["q_tpch_q2"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_tpch_q9_pushes_like_to_part_scan(spark, sf_dir):
    df = SPECS["q_tpch_q9"].fn(spark, sf_dir)
    info = _optimized_scan_info(df)
    assert "StringContains(p_name,widget)" in info
    assert "CartesianProduct" not in _executed_plan(df)


def test_tpch_q12_single_orderkey_shuffle(spark, sf_dir):
    plan = _executed_plan(SPECS["q_tpch_q12"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q11_total_broadcasts_back(spark, sf_dir):
    plan = _executed_plan(SPECS["q_tpch_q11"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_tpch_q20_brand_semi_prunes_scan(spark, sf_dir):
    plan = _executed_plan(SPECS["q_tpch_q20"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
