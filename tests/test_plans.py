"""Physical-plan assertions: the scale posture isn't just prose — these
tests pin the plans we rely on at 100 TB (broadcast dims, filter/column
pushdown, WindowGroupLimit, bucketed shuffle-free joins).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_healthcare_etl_pipeline_spark.plans import REGISTRY
from aws_healthcare_etl_pipeline_spark.sources.bucketing import (
    bucketed_join,
    write_bucketed_table,
)
from aws_healthcare_etl_pipeline_spark.sources.tables import load_table


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    plan = physical_plan(REGISTRY["q5_region_revenue"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 4, plan
    assert "SortMergeJoin" not in plan


def test_q1_filter_and_column_pushdown(spark, sf_dir):
    plan = formatted_plan(spark, REGISTRY["q1_pricing_summary"].fn(spark, sf_dir))
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached the scan
    # column pruning: only the 7 needed columns, not all 11
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema


def test_topk_uses_window_group_limit(spark, sf_dir):
    plan = physical_plan(REGISTRY["window_topk_parts_per_brand"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_q8_market_share_broadcasts_all_dims(spark, sf_dir):
    """Q8's 6-table star: every dimension (orders filter is the big
    probe side's partner; customer/nation x2/region/supplier are dims)
    must broadcast — no SortMergeJoin at any scale where dims fit the
    64 MB threshold."""
    plan = physical_plan(REGISTRY["q8_market_share"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 5, plan


def test_q17_decorrelated_avg_broadcasts(spark, sf_dir):
    """Q17's correlated AVG subquery must plan as aggregate + broadcast
    join-back (decorrelated), never a per-row subquery re-execution."""
    plan = physical_plan(REGISTRY["q17_small_quantity_revenue"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_partition_pruning_on_ingested_data(spark, tmp_path):
    """Hive-partitioned curated data: a filter on ingest_date must prune
    partitions at planning time (SURVEY.md §2.2 P3)."""
    from aws_healthcare_etl_pipeline_spark.sources.csv_ingest import (
        IngestConfig,
        ingest_csv,
    )

    raw = tmp_path / "raw"
    (raw / "incoming").mkdir(parents=True)
    (raw / "incoming" / "a.csv").write_text("id,v\n1,10\n2,20\n")
    for d in ("2026-01-01", "2026-01-02", "2026-01-03"):
        ingest_csv(
            spark,
            IngestConfig(raw_root=str(raw), curated_root=str(tmp_path / "c"), ingest_date=d),
        )
    df = spark.read.parquet(str(tmp_path / "c" / "athena")).filter(
        F.col("ingest_date") == "2026-01-02"
    )
    plan = physical_plan(df)
    # partition filter present and only one of three partitions scanned
    assert "ingest_date" in plan
    assert len(df.collect()) == 2
    metrics = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0).metrics()
    assert metrics.apply("numPartitions").value() == 1
    assert metrics.apply("numFiles").value() == 1


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Bucketing pays the shuffle at write time; the join itself must be
    Exchange-free. Broadcast joins bypass bucketing entirely (the
    planner prefers them for tiny sides), so the scenario pins
    sort-merge — which is what a 100 TB fact⋈fact join uses anyway."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).withColumnRenamed("o_orderkey", "l_orderkey")
    write_bucketed_table(li, "b_lineitem", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    write_bucketed_table(orders, "b_orders", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    prev_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_lineitem", "b_orders", "l_orderkey")
        plan = physical_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan  # co-located: no shuffle either side
        assert joined.count() > 0
        # sanity: the same join on non-bucketed data DOES shuffle
        plain = li.join(orders, "l_orderkey")
        assert "Exchange" in physical_plan(plain)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_threshold)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_brute_force_similarity_is_shuffle_free_scan(spark, sf_dir):
    """The corpus side of brute-force top-k must be a single narrow pass:
    queries broadcast, and the only shuffle is the windowed top-k on
    compact (query, id, score) rows — preceded by a partial
    WindowGroupLimit so each map task emits at most k rows per query."""
    from aws_healthcare_etl_pipeline_spark.operators.similarity import (
        brute_force_top_k,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = physical_plan(brute_force_top_k(emb, queries, k=5))
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "WindowGroupLimit" in plan


def test_q18_semi_join_decorrelation(spark, sf_dir):
    """Q18's IN-subquery must plan as aggregate + LEFT SEMI join on
    the fact table (the scalable decorrelation) — never a correlated
    re-scan or a cartesian."""
    plan = physical_plan(REGISTRY["q18_large_volume_customers"].fn(spark, sf_dir))
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q9_shape_broadcasts_dims_and_prunes_columns(spark, sf_dir):
    plan = physical_plan(REGISTRY["q9_shaped_profit_by_nation_year"].fn(spark, sf_dir))
    # part (filtered), supplier, nation broadcast; orders join may be
    # broadcast or SMJ depending on stats — pin the dims only
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1, plan
    # the name filter must reach the part scan
    assert "widget" in plan or "Contains" in plan, plan


def test_money_allocation_windows_share_one_exchange(spark, sf_dir):
    plan = physical_plan(
        REGISTRY["money_allocation_largest_remainder"].fn(spark, sf_dir)
    )
    # all three orderkey windows (sum_w, remainder rank, base sum) must
    # run on ONE hashpartitioning(l_orderkey) exchange — re-shuffling
    # between windows would triple the dominant cost at scale
    assert plan.count("hashpartitioning(l_orderkey") == 1, plan


def test_pareto_frontier_no_dominance_join(spark, sf_dir):
    plan = physical_plan(REGISTRY["pareto_frontier_parts"].fn(spark, sf_dir))
    # windows + a broadcast carry join — never a pairwise dominance
    # join (r3: the carry join replaced the global RANGE window, so
    # one small BroadcastHashJoin on the bucket key is expected)
    assert "NestedLoop" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_attribution_range_join_is_hash_not_nlj(spark, sf_dir):
    """The click-window attribution join must plan as an equi hash join
    on user_id with the interval predicate as a residual — a
    BroadcastNestedLoopJoin here would be quadratic at scale."""
    plan = physical_plan(REGISTRY["attribution_linear_multitouch"].fn(spark, sf_dir))
    assert "NestedLoop" not in plan, plan


def test_q21_semi_anti_and_broadcast_supplier(spark, sf_dir):
    plan = physical_plan(REGISTRY["q21_sole_late_supplier"].fn(spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_triangle_count_uses_hash_joins(spark, sf_dir):
    plan = physical_plan(REGISTRY["graph_triangle_count"].fn(spark, sf_dir))
    # the only NLJ allowed is the final 1x1 scalar crossJoin
    rest = plan.replace("BroadcastNestedLoopJoin BuildRight, Cross", "CROSS_OK", 1)
    assert "NestedLoop" not in rest, plan
    # the r3 degree-orientation rewrite must not silently regress:
    # edges carry the destination degree (dst_deg) and the wedge join
    # orders by it — without orientation the wedge fan-out reverts to
    # choose(deg, 2) on hub nodes instead of O(m^1.5)
    assert "dst_deg" in plan, plan  # orientation columns in the edge rel
    assert "du#" in plan and "dv#" in plan, plan  # degree join happened
    # the wedge ordering predicate (dst_deg <, then dst <) must survive
    # into a join condition, not be dropped to a post-join filter of a
    # cartesian wedge expansion
    import re as _re

    assert _re.search(r"dst_deg#\d+L? < dst_deg#\d+", plan), plan


def test_quantile_normalization_broadcasts(spark, sf_dir):
    plan = physical_plan(REGISTRY["feature_quantile_normalization"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_pq_scan_reads_codes_not_embeddings(spark, sf_dir):
    """The ADC crossJoin side must carry codes (+ norm), never the
    float embedding column — that's the whole point of PQ."""
    from aws_healthcare_etl_pipeline_spark.functions.vectors import l2_norm
    from aws_healthcare_etl_pipeline_spark.operators.pq import (
        pq_encode,
        pq_top_k,
        train_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    norm = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x / l2_norm(F.col("embedding"))).alias(
            "embedding"
        ),
    )
    books = train_pq_codebooks(norm)
    enc = pq_encode(norm, books)
    q = norm.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = pq_top_k(enc, q, books, k=5)
    plan = physical_plan(top)
    # after the codes projection, the scoring join's streamed side
    # projects only (vec_id, codes, __c_norm)
    assert "approx_cosine" in plan
    join_part = plan[plan.index("BroadcastNestedLoopJoin") if "BroadcastNestedLoopJoin" in plan else 0 :]
    assert "query_vec" not in join_part or "codes" in join_part, plan


def test_interval_join_avoids_nested_loop(spark, sf_dir):
    """The bucketed interval join's reason to exist: the same overlap
    predicate WITHOUT bucketing plans as BroadcastNestedLoopJoin."""
    plan = physical_plan(REGISTRY["interval_join_campaign_orders"].fn(spark, sf_dir))
    assert "NestedLoop" not in plan, plan
    assert "Join" in plan


def test_shuffle_hash_hint_takes_effect(spark, sf_dir):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = physical_plan(REGISTRY["join_hint_shuffle_hash"].fn(spark, sf_dir))
        assert "ShuffledHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_running_total_no_entity_grain_global_window(spark, sf_dir):
    """distributed_running_total's contract: the only SinglePartition
    exchange in the plan feeds the MONTH-grain spine (above the
    HashAggregate), and the order-grain window is partitioned by the
    month bucket — the entity-grain frame never funnels through one
    task (the global-ordered-window scale-killer this operator
    replaces)."""
    plan = physical_plan(
        REGISTRY["orders_running_total_distributed"].fn(spark, sf_dir)
    )
    # the within-bucket window is partitioned by _month
    assert "windowspecdefinition(_month" in plan, plan
    # exactly one single-partition exchange: the bounded month spine
    assert plan.count("Exchange SinglePartition") == 1, plan
    tail = plan[plan.index("Exchange SinglePartition") :]
    # the spine aggregate must sit between the single-partition exchange
    # and the (first) Window — i.e. the only thing the single task ever
    # sees is the bounded month-grain aggregate, not order-grain rows
    assert "HashAggregate(keys=[_month" in tail.split("Window", 1)[0], plan


def test_lateral_topn_decorrelates_to_window(spark, sf_dir):
    """The correlated LATERAL ... ORDER BY ... LIMIT subquery must
    plan as join + partitioned ranking window (one pass over
    customer), never a per-outer-row re-execution."""
    plan = physical_plan(
        REGISTRY["sql_lateral_topn_per_nation"].fn(spark, sf_dir)
    )
    assert "row_number()" in plan, plan
    assert "windowspecdefinition(c_nationkey" in plan, plan
    assert "NestedLoop" not in plan, plan


def test_bm25_topk_is_take_ordered(spark, sf_dir):
    """Global top-20 must plan as TakeOrderedAndProject (O(n) scan,
    k-row transfer), and the df/corpus-stats sides must broadcast —
    no sort-merge join anywhere in the scoring path."""
    plan = physical_plan(REGISTRY["search_bm25_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject(limit=20" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_sq_topk_uses_window_group_limit(spark, sf_dir):
    """SQ ANN's per-query top-5 must pre-truncate map-side (Partial
    WindowGroupLimit) so the shuffle carries <= k rows per query per
    task; queries ride a broadcast, the corpus side never shuffles
    embeddings."""
    plan = physical_plan(REGISTRY["sim_sq_int8_topk"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_sweepline_no_endpoint_grain_global_window(spark, sf_dir):
    """r3: the sweep-line prefix sum uses the two-level decomposition —
    the endpoint-grain window is partitioned by day; the only
    SinglePartition exchange feeds the day-spine carry."""
    plan = physical_plan(
        REGISTRY["concurrency_sweepline_daily"].fn(spark, sf_dir)
    )
    assert "windowspecdefinition(_day" in plan, plan
    assert plan.count("Exchange SinglePartition") == 1, plan


def test_r3_global_window_rewrites(spark, sf_dir):
    """r3 sweep: the four remaining entity-grain unpartitioned windows
    were decomposed/replaced — pin each plan shape."""
    # q15: max-with-ties via 1-row broadcast, no ranking window
    plan = physical_plan(REGISTRY["q15_top_supplier"].fn(spark, sf_dir))
    assert "windowspecdefinition" not in plan, plan
    # skew profile: TakeOrdered top-K, no ranking window
    plan = physical_plan(REGISTRY["skew_profile_supplier_keys"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "windowspecdefinition" not in plan, plan
    # gap islands: rank via bucketed running count; single-partition
    # exchanges only for the bucket spine or scalar (keys=[]) partials
    plan = physical_plan(REGISTRY["orderkey_gap_islands"].fn(spark, sf_dir))
    assert "windowspecdefinition(_kb" in plan, plan
    for seg in plan.split("Exchange SinglePartition")[1:]:
        head = seg[:400]
        assert (
            "HashAggregate(keys=[]" in head  # scalar partials
            or "HashAggregate(keys=[_kb" in head  # bucket spine
        ), plan
    # pareto frontier: one running-min window, over the size-grain
    # spine (one row per distinct size) that its single-partition
    # exchange feeds; no window over the part rows
    plan = physical_plan(REGISTRY["pareto_frontier_parts"].fn(spark, sf_dir))
    assert plan.count("windowspecdefinition(") == 1, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    head = plan.split("Exchange SinglePartition")[1][:400]
    assert "HashAggregate(keys=[p_size" in head, plan


def test_r5_scale_shapes(spark, sf_dir):
    """r5 wave pins: the new operators keep their scale-safe shapes."""
    # KS: ECDFs via the cumsum decomposition — value-grain windows are
    # partitioned by the price band; every SinglePartition exchange
    # feeds a scalar or band-grain aggregate (bounded spine), never
    # value-grain rows
    plan = physical_plan(REGISTRY["stat_ks_two_sample"].fn(spark, sf_dir))
    assert "windowspecdefinition(band" in plan, plan
    for seg in plan.split("Exchange SinglePartition")[1:]:
        head = seg[:400]
        assert (
            "HashAggregate(keys=[]" in head
            or "HashAggregate(keys=[band" in head
        ), plan
    # k-means: centroids ride broadcasts; no cartesian product, and the
    # only joins on corpus-grain rows are equi joins on vec_id
    plan = physical_plan(REGISTRY["emb_kmeans_lloyd_rounds"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    # salted join: the probe joins on (suppkey, salt) — both keys must
    # reach the join, and the salt replication must not plan as a
    # cartesian product
    plan = physical_plan(
        REGISTRY["join_salted_skew_equivalence"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan, plan
    assert "salt" in plan, plan
    # phash rides the Arrow mapInPandas lane
    plan = physical_plan(REGISTRY["multimodal_phash_dedup"].fn(spark, sf_dir))
    assert "MapInPandas" in plan, plan
    # triplet audit (r5 re-sweep fix, exp 1.21 -> 0.48): winner
    # selection is a MIN(hk) aggregation over a SLIM candidate stream
    # (map-side combinable), never a rank window shuffling vectors
    plan = physical_plan(
        REGISTRY["emb_triplet_margin_audit"].fn(spark, sf_dir)
    )
    assert "windowspecdefinition" not in plan, plan
    assert "partial_min" in plan or "min(hk" in plan, plan
    # BPE: each round's argmax is TakeOrdered(1), not a global sort
    plan = physical_plan(REGISTRY["text_bpe_merge_rounds"].fn(spark, sf_dir))
    assert plan.count("TakeOrderedAndProject") >= 3, plan


def test_r5_continuation_shapes(spark, sf_dir):
    """Waves 80-103 pins: the new operators keep their scale-safe
    shapes."""
    # AUC screen: the midrank window is PARTITIONED by dim (histogram
    # algebra) — no unpartitioned value-grain window anywhere
    plan = physical_plan(REGISTRY["ml_auc_feature_screen"].fn(spark, sf_dir))
    assert "windowspecdefinition(dim" in plan, plan
    # kNN outliers: the panel rides a broadcast (bounded x128
    # multiplier) — never a shuffled corpus x corpus join
    plan = physical_plan(
        REGISTRY["emb_knn_distance_outliers"].fn(spark, sf_dir)
    )
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # duplicate-invoice audit: the pair join is keyed on custkey (an
    # equi join), never a cartesian with residual filters
    plan = physical_plan(
        REGISTRY["audit_duplicate_invoice_candidates"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan, plan
    # skip-gram: the context join is an equi join on doc_id (the
    # tokenizer's own shuffle key), not a broadcast of the full token
    # stream to every task
    plan = physical_plan(REGISTRY["text_skipgram_pairs"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # Boruvka: star-hooking replaced the per-round generic CC loop —
    # the whole build must run a bounded number of Spark jobs, which
    # shows up as the plan containing NO window at all (hook + jump
    # are aggregates and joins on checkpointed frames)
    plan = physical_plan(REGISTRY["graph_mst_boruvka"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


def test_r5_wave107plus_shapes(spark, sf_dir):
    """Waves 107-114 pins: new operators keep their scale-safe shapes."""
    # Gini stump: the fact table feeds ONE histogram aggregation —
    # every candidate split is prefix algebra on the bounded bucket
    # spine, so the plan scans orders exactly once
    plan = physical_plan(REGISTRY["ml_gini_stump_induction"].fn(spark, sf_dir))
    assert plan.count("orders.parquet") <= 1, plan
    # selectivity audit: equi-width AND equi-depth histograms AND the
    # exact truth all derive from one value-grain histogram — one scan
    plan = physical_plan(
        REGISTRY["stats_histogram_selectivity_audit"].fn(spark, sf_dir)
    )
    assert plan.count("orders.parquet") <= 1, plan
    # containment dedup: candidate pairs come from an equi join on the
    # shingle key (inverted index), never a cartesian of documents
    plan = physical_plan(
        REGISTRY["dedup_containment_asymmetric"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan, plan
    # betweenness: BFS rounds + the three reach self-joins are all equi
    # joins; the only nested-loop is the broadcast of 1-row stats
    plan = physical_plan(
        REGISTRY["graph_betweenness_nations"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan, plan
    # peak prominence: the quadratic saddle lookups run as BROADCAST
    # nested loops on the bounded day spine, never a shuffled cartesian
    plan = physical_plan(
        REGISTRY["events_peak_prominence_daily"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan, plan
    # bootstrap: resample draws join the day spine on an equi key (the
    # drawn position), not by replicating the fact table
    plan = physical_plan(
        REGISTRY["stats_bootstrap_ci_deterministic"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan, plan
    assert plan.count("orders.parquet") <= 1, plan


def test_r5_wave115plus_shapes(spark, sf_dir):
    """Waves 115-141 pins: stateful replays ride mapInPandas, graph
    and rank machinery stays cartesian-free, single-scan barriers
    hold."""
    # keyscan-backed replays: partition-wise MapInPandas, not
    # per-group applyInPandas (FlatMapGroupsInPandas)
    for q in (
        "events_heavy_hitters_mg_replay",
        "forecast_holt_linear_replay",
        "stats_cusum_arl_calibration",
    ):
        plan = physical_plan(REGISTRY[q].fn(spark, sf_dir))
        assert "MapInPandas" in plan, (q, plan)
        assert "FlatMapGroupsInPandas" not in plan, (q, plan)
    # rank/graph machinery: equi joins only
    for q in (
        "stat_spearman_rank_correlation",
        "graph_personalized_pagerank",
        "search_rrf_rank_fusion",
        "layout_delta_varint_economics",
        "customer_value_tier_migration",
    ):
        plan = physical_plan(REGISTRY[q].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, (q, plan)
    # RLE bakeoff: the fact table is scanned once behind the barrier
    plan = physical_plan(
        REGISTRY["layout_sort_order_rle_bakeoff"].fn(spark, sf_dir)
    )
    assert plan.count("lineitem.parquet") <= 1, plan


def test_r5_wave142plus_shapes(spark, sf_dir):
    """Waves 142-147 pins: pair machinery stays equi-join
    co-partitioned, model tables broadcast, the Shapley corpus scan
    is a broadcast nested loop (never a shuffle of the corpus)."""
    # cartesian-free across the wave: every crossJoin is a broadcast
    # 1-row/bounded side, every pair join is an equi join
    for q in (
        "ml_cost_optimal_threshold",
        "events_session_type_lift",
        "survival_logrank_test",
        "interval_allen_census",
        "alloc_apportionment_methods",
        "graph_dag_critical_path",
        "attribution_markov_removal",
        "cf_item_item_topk",
        "ml_naive_bayes_exact_argmax",
        "rank_kendall_tau_nations",
    ):
        plan = physical_plan(REGISTRY[q].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, (q, plan)
    # learned index: every join after the segment shuffle broadcasts
    # (ext is 1 row, stats is the bounded 64-row spine)
    plan = physical_plan(
        REGISTRY["layout_learned_index_epsilon"].fn(spark, sf_dir)
    )
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # CF top-3: rank filter runs as WindowGroupLimit (map-side
    # prefilter before the per-item window)
    plan = physical_plan(REGISTRY["cf_item_item_topk"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan
    # KNN-Shapley: the query panel broadcasts; the corpus is never
    # shuffled for scoring
    plan = physical_plan(
        REGISTRY["data_shapley_knn_exact"].fn(spark, sf_dir)
    )
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_r5_wave148plus_shapes(spark, sf_dir):
    """Waves 148-155 pins: scan-side expression batteries stay
    cartesian-free, the two-pass PRF shares one tokenization, the
    Lindley replay never builds a global-window sort of fact rows."""
    for q in (
        "causal_diff_in_differences",
        "linkage_phonetic_blocking",
        "dq_luhn_check_digit_audit",
        "sql_relational_division",
        "time_iso_week_battery",
        "dq_foreign_key_inference",
        "causal_coarsened_exact_matching",
        "regression_ols_exact",
        "search_prf_query_expansion",
        "cf_recommendation_coverage",
        "ops_littles_law_identity",
        "stats_ipf_raking",
        "process_trace_variants_conformance",
        "queue_lindley_wait_replay",
    ):
        plan = physical_plan(REGISTRY[q].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, (q, plan)
    # Lindley replay: both running transforms are two-level — the only
    # unpartitioned windows run over the bounded day spine (post-agg),
    # never over order-grain rows. Pin: every Window with no
    # partitioning sits above an aggregate, which the plan shows as
    # no Sort of the raw arrival columns feeding a global Window.
    plan = physical_plan(
        REGISTRY["queue_lindley_wait_replay"].fn(spark, sf_dir)
    )
    # the fact-grain running transforms are partitioned by day...
    assert plan.count("windowspecdefinition(day#") >= 2, plan
    # ...and the carry tables join back as broadcasts, not shuffles
    assert "BroadcastHashJoin" in plan, plan
    # relational division: divisor broadcast into the fact semi-join
    plan = physical_plan(
        REGISTRY["sql_relational_division"].fn(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan, plan


def test_r5_wave159plus_shapes(spark, sf_dir):
    """Waves 159-168 pins: the new audits stay cartesian-free, the
    closest-pair grid join is an equi-join (never a nested loop over
    points), the boosting rounds broadcast their scalar state, and
    the Wilson/VWAP brand dims broadcast."""
    for q in (
        "layout_range_partition_balance",
        "optimizer_independence_qerror",
        "geo_closest_pair_pernation",
        "inequality_gini_lorenz",
        "text_kwic_concordance",
        "graph_hits_bipartite_counts",
        "sampling_neyman_sd_allocation",
        "seq_lis_per_customer",
        "rank_wilson_lower_bound",
        "time_t2_settlement_battery",
        "approx_hll_register_audit",
        "layout_compaction_coalesce_plan",
        "text_zipf_bigram_buckets",
        "finance_vwap_divergence",
        "dq_constraint_mining_audit",
        "stats_median_of_means",
        "sql_null_ordering_battery",
        "sec_impossible_travel_audit",
    ):
        plan = physical_plan(REGISTRY[q].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, (q, plan)
    # closest pair: the candidate enumeration is a hash equi-join on
    # (nation, cell), not a nested-loop over point pairs
    plan = physical_plan(
        REGISTRY["geo_closest_pair_pernation"].fn(spark, sf_dir)
    )
    assert (
        "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    ), plan
    # changepoint: the rational dominance argmax broadcasts the
    # bounded score table (left_anti against a broadcast rival side)
    plan = physical_plan(
        REGISTRY["changepoint_two_segment_sse"].fn(spark, sf_dir)
    )
    assert "BroadcastNestedLoopJoin" in plan, plan
    # adaboost: each boosting round re-applies the chosen stump via a
    # broadcast scalar, never a shuffle of the fact rows against state
    plan = physical_plan(
        REGISTRY["ml_adaboost_two_round_stumps"].fn(spark, sf_dir)
    )
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # wilson ranking: the part dim broadcasts into the fact join
    plan = physical_plan(
        REGISTRY["rank_wilson_lower_bound"].fn(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan, plan
    # KWIC: per-term top-k prefilters map-side
    plan = physical_plan(
        REGISTRY["text_kwic_concordance"].fn(spark, sf_dir)
    )
    assert "WindowGroupLimit" in plan, plan


def test_r5_wave184plus_shapes(spark, sf_dir):
    """Waves 184-189 pins: cartesian-free, the CVaR tail join and the
    Wilson/VWAP-style dims broadcast, the NPV discount table
    broadcasts, and Smith's-rule lanes never globally sort job rows
    (running totals are two-level)."""
    for q in (
        "risk_cvar_tail_concentration",
        "graph_rich_club_permille",
        "optimizer_predicate_order_cost",
        "inequality_hoover_index",
        "privacy_fpe_mask_audit",
        "audit_tv_distance_drift",
        "text_good_turing_mass",
        "finance_npv_irr_rate_grid",
        "sched_smith_rule_wspt",
        "dedup_shingle_size_sensitivity",
        "emb_triangle_inequality_audit",
    ):
        plan = physical_plan(REGISTRY[q].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, (q, plan)
    # NPV: the exact discount table joins as a broadcast
    plan = physical_plan(
        REGISTRY["finance_npv_irr_rate_grid"].fn(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan, plan
    # rich club: the 50-node club broadcasts into both hop joins
    plan = physical_plan(
        REGISTRY["graph_rich_club_permille"].fn(spark, sf_dir)
    )
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # Smith's rule: job-grain fact rows feed partitioned windows only
    # (the two-level operator) — no unpartitioned Sort of all jobs
    plan = physical_plan(
        REGISTRY["sched_smith_rule_wspt"].fn(spark, sf_dir)
    )
    assert "windowspecdefinition" in plan, plan


def test_r5_wave190plus_shapes(spark, sf_dir):
    """Waves 190-204 pins: cartesian-free throughout; the erasure
    panel and SLA month joins broadcast; the convolution joins are
    panel-keyed equi-joins; the full-outer rewrite's anti join is a
    real anti join."""
    for q in (
        "supply_bullwhip_ratio",
        "privacy_erasure_blast_radius",
        "stats_grain_fallacy_audit",
        "sql_window_frame_default_trap",
        "finance_stepdown_allocation",
        "experiment_icc_design_effect",
        "inventory_demand_quantiles_counting",
        "sql_explode_outer_battery",
        "graph_triangle_sample_estimator",
        "dq_semantic_type_inference",
        "inventory_leadtime_demand_convolution",
        "finance_max_drawdown_underwater",
        "stats_median_ci_orderstat",
        "ops_incident_cooccurrence_lift",
        "time_add_months_eom_battery",
        "dq_correlation_matrix",
        "brand_rank_momentum",
        "pipeline_release_scorecard_capstone",
        "risk_block_maxima_return_level",
        "hash_truncation_collision_audit",
        "sql_full_outer_rewrite_equivalence",
        "dq_ingestion_gap_detector",
        "ml_leakage_detector_audit",
        "sales_quarter_hockey_stick",
        "ops_sla_credit_calculation",
        "supplier_composite_scorecard",
    ):
        plan = physical_plan(REGISTRY[q].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, (q, plan)
    # erasure blast radius: the 200-key panel broadcasts into orders
    plan = physical_plan(
        REGISTRY["privacy_erasure_blast_radius"].fn(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan, plan
    # full-outer rewrite: the manual path contains a real anti join
    plan = physical_plan(
        REGISTRY["sql_full_outer_rewrite_equivalence"].fn(spark, sf_dir)
    )
    assert "LeftAnti" in plan, plan
    assert "FullOuter" in plan, plan


def test_r5_wave205plus_shapes(spark, sf_dir):
    """Waves 205-207 pins: cartesian-free; the CvM decomposition is
    two-level (no global sort of value-grain rows); the Mahalanobis
    scoring pass broadcasts the moment row and its top-k prefilters."""
    for q in (
        "stats_cramer_von_mises_exact",
        "causal_quantile_treatment_effect",
        "anomaly_mahalanobis_diag_topk",
        "graph_health_card",
    ):
        plan = physical_plan(REGISTRY[q].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, (q, plan)
    plan = physical_plan(
        REGISTRY["anomaly_mahalanobis_diag_topk"].fn(spark, sf_dir)
    )
    # global top-k: either the WindowGroupLimit prefilter or the even
    # stronger TakeOrderedAndProject pushdown must appear
    assert (
        "WindowGroupLimit" in plan or "TakeOrderedAndProject" in plan
    ), plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    # CvM: the value-grain running totals are partitioned by band
    plan = physical_plan(
        REGISTRY["stats_cramer_von_mises_exact"].fn(spark, sf_dir)
    )
    assert "windowspecdefinition(band#" in plan, plan


def test_r6_wave210_shapes(spark, sf_dir):
    """Wave-210 pins: sketches stay broadcast-shaped, the keyed scan
    stays a single-shuffle MapInPandas, the skew escape never goes
    cartesian, and the spectral query never ships data to the join."""
    # Count-Min: estimation joins the key set to the 768-cell sketch —
    # that side must be a broadcast, never a shuffled join
    plan = physical_plan(
        REGISTRY["approx_countmin_sketch_audit"].fn(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # Bloom: the bit set is broadcast to the probe side
    plan = physical_plan(REGISTRY["sketch_bloom_fpr_audit"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    # WAC: the recurrence is ONE keyed-scan pass — a MapInPandas over a
    # single lineitem scan, no second fact scan
    plan = physical_plan(
        REGISTRY["inventory_wac_moving_average"].fn(spark, sf_dir)
    )
    assert "MapInPandas" in plan, plan
    assert plan.count("lineitem.parquet") == 1, plan
    # amortization: closed form — exactly one orders scan, no join
    plan = physical_plan(
        REGISTRY["finance_amortization_schedule"].fn(spark, sf_dir)
    )
    assert plan.count("orders.parquet") == 1, plan
    assert "Join" not in plan, plan
    # hot/cold split: both paths are joins (broadcast for hot), and
    # nothing degenerates to a cartesian
    plan = physical_plan(
        REGISTRY["join_hot_cold_split_equivalence"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # power iteration: the Gram pass is collected inside the builder,
    # so the RETURNED plan must be a local table only — the iteration
    # provably never re-enters the distributed plan
    plan = physical_plan(
        REGISTRY["emb_power_iteration_top_eigen"].fn(spark, sf_dir)
    )
    assert "parquet" not in plan, plan
    # sliding-window rate limit: one hash partitioning on user_id,
    # no unpartitioned (single-task) window
    plan = physical_plan(
        REGISTRY["events_sliding_window_rate_limit"].fn(spark, sf_dir)
    )
    assert "hashpartitioning(user_id" in plan, plan


def test_wave211_plan_pins(spark, sf_dir):
    """Load-bearing physical-plan shapes for the wave-211 operators."""
    # bloom prefilter: the equivalence proof's plain semi join must be a
    # broadcast semi (dimension side tiny), never a shuffle of the fact
    plan = physical_plan(
        REGISTRY["join_bloom_prefilter_equivalence"].fn(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "LeftSemi" in plan, plan
    # HBOS: deterministic top-15 must be TakeOrderedAndProject (rank
    # filter pushed into the sort), never a full global sort
    plan = physical_plan(
        REGISTRY["anomaly_hbos_bincount_topk"].fn(spark, sf_dir)
    )
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # pass@k: one lineitem scan feeds the window + both aggregations
    plan = physical_plan(
        REGISTRY["eval_pass_at_k_estimator"].fn(spark, sf_dir)
    )
    assert plan.count("lineitem.parquet") == 1, plan
    # LCS: the 256-mask enumeration is a Generate (explode), not any
    # form of cartesian/nested-loop join
    plan = physical_plan(
        REGISTRY["seq_lcs_monthly_baskets"].fn(spark, sf_dir)
    )
    assert "Generate" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "NestedLoop" not in plan, plan
    # Viterbi: the fold is the partition-wise keyed pandas scan — one
    # MapInPandas above a hash partitioning on the user key
    plan = physical_plan(
        REGISTRY["seq_viterbi_integer_decode"].fn(spark, sf_dir)
    )
    assert "MapInPandas" in plan, plan
    assert "hashpartitioning(u" in plan, plan
    assert plan.count("events.parquet") == 1, plan
    # (s,S) replay: same contract on the part key
    plan = physical_plan(
        REGISTRY["inventory_ss_policy_replay"].fn(spark, sf_dir)
    )
    assert "MapInPandas" in plan, plan
    assert plan.count("lineitem.parquet") == 1, plan
    # Elo / TextRank: the sequential model is collected inside the
    # builder — the RETURNED plan must be a local table only
    for name in ("rank_elo_lut_replay", "text_textrank_keywords"):
        plan = physical_plan(REGISTRY[name].fn(spark, sf_dir))
        assert "parquet" not in plan, (name, plan)
    # missingness mining: ONE map-side aggregation pass — a single
    # orders scan, no self-join
    plan = physical_plan(
        REGISTRY["dq_missingness_pattern_mining"].fn(spark, sf_dir)
    )
    assert plan.count("orders.parquet") == 1, plan
    assert "Join" not in plan, plan


def test_wave212_plan_pins(spark, sf_dir):
    """Load-bearing physical-plan shapes for the wave-212 operators."""
    # Banzhaf: the weight panel is checkpointed (plan shows the local
    # relation, not the lineitem scan); the 2^10 enumeration must never
    # degenerate to an unbroadcast cartesian
    plan = physical_plan(
        REGISTRY["election_banzhaf_power_index"].fn(spark, sf_dir)
    )
    assert "lineitem.parquet" not in plan, plan  # panel pre-reduced
    assert "CartesianProduct" not in plan, plan
    # LPM: the match is an EQUI broadcast hash join (the design claim),
    # never a nested-loop range probe over the fact table
    plan = physical_plan(
        REGISTRY["net_longest_prefix_match"].fn(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan, plan
    # price index: the brand-month panel is checkpointed (no fact scan
    # in the returned plan); the base-month match is a broadcast join
    plan = physical_plan(
        REGISTRY["finance_price_index_lpf"].fn(spark, sf_dir)
    )
    assert "lineitem.parquet" not in plan, plan  # panel pre-reduced
    assert "BroadcastHashJoin" in plan, plan
    # surprisal: zero Python row-UDFs anywhere in the scoring path
    plan = physical_plan(
        REGISTRY["text_integer_surprisal_scores"].fn(spark, sf_dir)
    )
    assert "BatchEvalPython" not in plan, plan
    # auction: pure window + aggregation — no join at all
    plan = physical_plan(
        REGISTRY["auction_uniform_price_clearing"].fn(spark, sf_dir)
    )
    assert plan.count("orders.parquet") == 1, plan
    assert "Join" not in plan, plan
    # matrix profile: the bounded all-pairs join must be the broadcast
    # nested loop over the month spine, not a cartesian of fact rows
    plan = physical_plan(
        REGISTRY["timeseries_sad_matrix_profile"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan, plan
    # LSM economics: one lineitem scan, no join
    plan = physical_plan(
        REGISTRY["layout_lsm_writeamp_economics"].fn(spark, sf_dir)
    )
    assert plan.count("lineitem.parquet") == 1, plan
    assert "Join" not in plan, plan
    # airport Shapley: dimension side broadcast
    plan = physical_plan(
        REGISTRY["alloc_airport_game_shapley"].fn(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan, plan


# ---- wave-213 (round 9) plan pins ----


def test_skyline_linear_formulation(spark, sf_dir):
    """The skyline reduces per-revenue then joins the bounded level
    relation back on an equality key — never the quadratic
    NOT-EXISTS shape (no cartesian / nested-loop join), and never a
    moving-bound RANGE frame (measured O(n^2): sf1->sf3 exp 1.36
    before the round-9 rewrite). The only window is an incremental
    ROWS-frame running max."""
    df = REGISTRY["sql_skyline_pareto_frontier"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "specifiedwindowframe(RangeFrame" not in plan, plan


def test_wash_sale_semi_join_is_equi_keyed(spark, sf_dir):
    """The repurchase window must plan as a LeftSemi join with
    hash-partitionable equality keys (custkey, partkey) and the date
    window as a residual condition — never a cartesian/broadcast
    nested loop over the fact side."""
    plan = physical_plan(
        REGISTRY["finance_wash_sale_detector"].fn(spark, sf_dir)
    )
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bitpack_blocks_have_no_global_window(spark, sf_dir):
    """Block assignment is a derived key (orderkey div N) feeding a
    hash aggregate — no Window operator, no global sort of the fact
    table."""
    plan = physical_plan(
        REGISTRY["storage_for_bitpacking_economics"].fn(spark, sf_dir)
    )
    assert "Window" not in plan, plan


def test_interval_coverage_windows_partition_on_custkey(spark, sf_dir):
    """Both sweep windows must carry the o_custkey partition spec —
    an unpartitioned island sweep would funnel all orders into one
    task at 100 TB."""
    plan = physical_plan(
        REGISTRY["interval_union_coverage"].fn(spark, sf_dir)
    )
    assert "windowspecdefinition(o_custkey" in plan, plan


def test_lifo_fifo_windows_partition_on_partkey(spark, sf_dir):
    """Lot accumulation partitions on l_partkey (high cardinality);
    no unpartitioned window anywhere in the plan."""
    plan = physical_plan(
        REGISTRY["inventory_lifo_vs_fifo_valuation"].fn(spark, sf_dir)
    )
    assert "windowspecdefinition(l_partkey" in plan, plan


def test_chi2_joins_broadcast_bounded_panels(spark, sf_dir):
    """The vocab/totals panels are bounded: the fact-scale token
    relation must never be a broadcast build side (only the bounded
    grid relations broadcast)."""
    plan = physical_plan(
        REGISTRY["text_source_divergence_chi2"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan, plan


def test_cidr_assignment_is_equi_join(spark, sf_dir):
    """The completeness containment join runs on the derived (k, blk)
    equality keys — hash-partitionable; never a nested-loop or
    cartesian over the prefix relation."""
    plan = physical_plan(
        REGISTRY["net_cidr_supernet_aggregation"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan, plan
    # the only nested loops allowed are the 8-row level-panel
    # broadcasts (one per consumer branch), always BuildRight on lv
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    # the completeness join itself must be a hash join
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_oov_coverage_broadcasts_vocab(spark, sf_dir):
    """The bounded vocab must be the broadcast side of the coverage
    join — the fact-scale token relation never becomes a build side
    or shuffles twice."""
    plan = physical_plan(
        REGISTRY["text_vocab_coverage_oov"].fn(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_holt_winters_fold_no_windows(spark, sf_dir):
    """The HW recursion is an array fold over the bounded (region x
    month) panel — no Window operator at all, and the only nested-
    loop joins are the 1-row max-month broadcast; dimension joins
    are broadcast hash."""
    plan = physical_plan(
        REGISTRY["forecast_holt_winters_additive"].fn(spark, sf_dir)
    )
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_brown_forsythe_broadcasts_medians(spark, sf_dir):
    """The 5-row per-priority median panel joins back broadcast —
    the fact table shuffles only for its two aggregations, never as
    a join build side; no windows anywhere."""
    plan = physical_plan(
        REGISTRY["stats_brown_forsythe_variance"].fn(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_triangular_divergence_broadcasts_totals(spark, sf_dir):
    """The per-segment totals panel (5 rows) broadcasts; the binned
    cell relation never becomes a build side or cartesian."""
    plan = physical_plan(
        REGISTRY["quality_drift_triangular_divergence"].fn(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_interval_depth_windows_partition_on_nation(spark, sf_dir):
    """Both the sweep cumsum and the peak max carry the n_name
    partition spec — an unpartitioned sweep would funnel the 2x-
    orders event relation into one task at 100 TB."""
    plan = physical_plan(
        REGISTRY["sched_interval_partitioning_depth"].fn(spark, sf_dir)
    )
    assert "windowspecdefinition(n_name" in plan, plan


def test_span_corruption_windows_partition_on_doc(spark, sf_dir):
    """Token indexing and span-coverage windows are doc-keyed
    (bounded partitions); no unpartitioned window over the token
    relation."""
    plan = physical_plan(
        REGISTRY["pipeline_span_corruption_accounting"].fn(spark, sf_dir)
    )
    assert "windowspecdefinition(doc_id" in plan, plan


def test_bom_recursion_is_equi_joined(spark, sf_dir):
    """The recursive arm joins the frontier to part on the derived
    child-div-2 equality key — hash-partitionable; never cartesian
    or nested-loop over a growing frontier."""
    plan = physical_plan(
        REGISTRY["sql_recursive_bom_cost_rollup"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_energy_distance_spine_windows_only(spark, sf_dir):
    """Both spine cumsums ride ONE window over the domain-bounded
    distinct-cents relation; the totals panel is a 1-row broadcast
    (nested loop allowed only for it); no pair enumeration."""
    plan = physical_plan(
        REGISTRY["stats_energy_distance_exact"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_mann_whitney_no_pair_join(spark, sf_dir):
    """Dominance counts come from the spine cumulative — the plan
    must contain no join of the two samples against each other
    (only the 1-row totals broadcast)."""
    plan = physical_plan(
        REGISTRY["stat_mann_whitney_cliffs_delta"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_friedman_rank_windows_partition_on_month(spark, sf_dir):
    """Rank and tie-count windows are month-keyed (5-row
    partitions); no unpartitioned window in the plan."""
    plan = physical_plan(
        REGISTRY["stats_friedman_blocked_ranks"].fn(spark, sf_dir)
    )
    assert "windowspecdefinition(m" in plan, plan


# ---------------------- wave-215 (round 11) plan pins ----------------------


def test_lpt_fold_no_windows_broadcast_dim(spark, sf_dir):
    """The LPT replay is a grouped fold: no window operator anywhere,
    nation broadcast, no cartesian product."""
    plan = physical_plan(REGISTRY["sched_lpt_makespan_bound"].fn(spark, sf_dir))
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_page_trend_rank_windows_partition_on_nation(spark, sf_dir):
    """Within-block ranks partition on n_name (6-row partitions);
    the month spine attaches via broadcast."""
    plan = physical_plan(REGISTRY["stat_page_trend_test"].fn(spark, sf_dir))
    assert "windowspecdefinition(n_name" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_cochran_q_single_pass_no_joins(spark, sf_dir):
    """Cochran's Q is one fact group-by + one global aggregate: no
    join operator of any kind, partial aggregation present."""
    plan = physical_plan(REGISTRY["stat_cochran_q_test"].fn(spark, sf_dir))
    for op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
               "ShuffledHashJoin", "BroadcastNestedLoopJoin"):
        assert op not in plan, (op, plan)
    assert "HashAggregate" in plan, plan


def test_talmud_windows_partition_on_region(spark, sf_dir):
    """Every waterfall window partitions on r_name; dims broadcast;
    no unpartitioned window."""
    plan = physical_plan(REGISTRY["alloc_talmud_bankruptcy"].fn(spark, sf_dir))
    assert "windowspecdefinition(r_name" in plan, plan
    assert plan.count("windowspecdefinition(") == plan.count(
        "windowspecdefinition(r_name"
    ), plan
    assert "BroadcastHashJoin" in plan, plan


def test_harmonic_centrality_broadcast_bounded(spark, sf_dir):
    """The only nested-loop join is the 1-row stats broadcast; the
    fact-side trade aggregation keeps customer/supplier broadcast."""
    plan = physical_plan(
        REGISTRY["graph_harmonic_centrality"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_jonckheere_no_pair_join(spark, sf_dir):
    """J comes from spine prefix sums: the five samples are never
    joined against each other (only the 1-row totals broadcast)."""
    plan = physical_plan(
        REGISTRY["stat_jonckheere_terpstra"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_bridge_edges_keyed_expansion_broadcast(spark, sf_dir):
    """The BFS rounds are checkpointed out of the final plan; what
    remains is the (heavy x reach) attachment, which must broadcast
    the bounded reach side — no sort-merge, no cartesian product."""
    plan = physical_plan(REGISTRY["graph_bridge_edges"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_easter_spine_broadcast(spark, sf_dir):
    """The <=7-row easter spine attaches to orders via broadcast-hash
    on year; no sort-merge join anywhere."""
    plan = physical_plan(REGISTRY["time_easter_computus"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_allan_variance_windows_partition_on_type(spark, sf_dir):
    """Both lag windows partition on event_type — no unpartitioned
    window over the calendar spine."""
    plan = physical_plan(REGISTRY["events_allan_variance"].fn(spark, sf_dir))
    assert "windowspecdefinition(event_type" in plan, plan
    assert plan.count("windowspecdefinition(") == plan.count(
        "windowspecdefinition(event_type"
    ), plan


def test_hamming_audit_pure_codegen_pipeline(spark, sf_dir):
    """The ECC pipeline is per-row expressions + one 3-group
    aggregate: no join, no window, whole-stage codegen covers the
    expression stages."""
    df = REGISTRY["dq_hamming74_ecc_audit"].fn(spark, sf_dir)
    plan = physical_plan(df)
    for op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
               "Window", "BatchEvalPython", "ArrowEvalPython"):
        assert op not in plan, (op, plan)
    # exactly the two structural exchanges (partial->final agg, sort)
    assert plan.count("Exchange") <= 2, plan
    assert "partial_count" in plan, plan
