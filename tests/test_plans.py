"""Physical-plan audits: the properties that matter at 100 TB must hold in
the plans Catalyst actually produces (SURVEY §4) — filters pushed into the
parquet scan, column pruning, broadcast joins for small dimensions,
whole-stage codegen on the hot paths."""

from __future__ import annotations

from pyspark.sql import functions as F

from multisql_spark import plans
from multisql_spark.queries import load_all
from multisql_spark.tables import load_tables

REGISTRY = load_all()
SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    df = REGISTRY["scan_project_filter"].fn(spark, SF)
    assert plans.has_pushed_filter(df, "p_size")


def test_column_pruning(spark):
    df = REGISTRY["scan_project_filter"].fn(spark, SF)
    for cols in plans.read_schema_columns(df):
        # the scan must read only the 3 projected columns, not all 6
        assert set(cols) <= {"p_partkey", "p_name", "p_size"}


def test_point_lookup_pushdown(spark):
    t = load_tables(spark, SF, ["lineitem"])
    df = t["lineitem"].filter(F.col("l_orderkey") == 100)
    assert plans.has_pushed_filter(df, "l_orderkey")


def test_small_dim_joins_broadcast(spark):
    df = REGISTRY["join_multi_revenue"].fn(spark, SF)
    assert plans.uses_broadcast_join(df)


def test_aggregation_is_partial(spark):
    """Partial (map-side) aggregation must appear before the exchange —
    the reference's single-phase fold can't do this (SURVEY §4)."""
    plan = plans.formatted_plan(REGISTRY["pricing_summary"].fn(spark, SF))
    assert "HashAggregate" in plan
    assert plan.index("HashAggregate") != plan.rindex("HashAggregate")


def test_codegen_on_hot_path(spark):
    df = REGISTRY["pricing_summary"].fn(spark, SF)
    assert plans.codegen_stage_count(df) >= 1


def test_aqe_splits_skewed_join(spark):
    """AQE must split a pathologically skewed join partition at runtime
    (SCALE.md §1) — and, instructively, it CANNOT when a same-key
    aggregation sits above the join (the split would break the required
    partitioning), which is precisely the case the manual salting
    patterns (`agg_salted_skew`, `join_skew_salted`) exist for."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(400_000).select(
            F.when(F.col("id") < 200_000, 0)
            .otherwise(F.pmod("id", 1000))
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(300_000).select(
            F.pmod("id", 1000).alias("k"), (F.col("id") * 2).alias("w")
        )
        free = big.join(right, "k").select(
            F.sum(F.col("v") + F.col("w")).alias("s")
        )
        free.collect()
        assert "skew=true" in free._jdf.queryExecution().executedPlan().toString()

        pinned = big.join(right, "k").groupBy("k").agg(
            F.count(F.lit(1)).alias("n")
        )
        pinned.collect()
        assert (
            "skew=true"
            not in pinned._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed on the join key must join with zero shuffle —
    the write-once/join-free layout that carries co-located joins at
    100 TB (SCALE.md §1)."""
    from multisql_spark.sources import write_bucketed

    t = load_tables(spark, SF, ["orders", "lineitem"])
    write_bucketed(t["lineitem"], "bkt_lineitem", "l_orderkey", buckets=4)
    write_bucketed(t["orders"], "bkt_orders", "o_orderkey", buckets=4)
    # at test scale Spark would broadcast (also exchange-free, but not the
    # property under test); force the big-big join strategy
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        l = spark.table("bkt_lineitem")
        o = spark.table("bkt_orders")
        joined = l.join(o, l.l_orderkey == o.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = plans.formatted_plan(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # bucket co-location: no exchange may feed the join inputs
        assert "hashpartitioning(l_orderkey" not in plan
        assert "hashpartitioning(o_orderkey" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
        spark.sql("DROP TABLE IF EXISTS bkt_orders")


def test_semi_anti_plans(spark):
    t = load_tables(spark, SF, ["customer", "orders"])
    c, o = t["customer"], t["orders"]
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi")
    plan = plans.formatted_plan(semi)
    assert "LeftSemi" in plan


def test_tpch_exists_is_semi_join(spark):
    """Q4's EXISTS must plan as a semi join, not a per-row subquery."""
    plan = plans.formatted_plan(
        REGISTRY["tpch_order_priority"].fn(spark, SF)
    )
    assert "LeftSemi" in plan
    # the date filter must reach the orders scan
    assert plans.has_pushed_filter(
        REGISTRY["tpch_order_priority"].fn(spark, SF), "o_orderdate"
    )


def test_tpch_groupwise_min_single_shuffle(spark):
    """The window-based groupwise-min shuffles lineitem exactly once (the
    join-back formulation would shuffle it twice)."""
    plan = plans.formatted_plan(
        REGISTRY["tpch_cheapest_lineitem"].fn(spark, SF)
    )
    assert plan.count("hashpartitioning(l_partkey") == 1
    assert "Window" in plan
    # Spark turns rn=1 into a per-partition group limit BEFORE the
    # shuffle — only each partition's candidate minima move
    assert "WindowGroupLimit" in plan


def test_range_join_filters_pushed(spark):
    """The bucketized range join must push the event_type filters into
    both parquet scans."""
    df = REGISTRY["range_join_events"].fn(spark, SF)
    assert plans.has_pushed_filter(df, "event_type")


def test_ntile_query_has_no_global_sort_window(spark):
    """The quartile query's data-scale Window must be partitioned; the
    only unpartitioned window runs over the tiny bucket-size aggregate
    (SCALE.md §11)."""
    plan = plans.formatted_plan(
        REGISTRY["window_ntile_quartiles"].fn(spark, SF)
    )
    for line in plan.splitlines():
        if "row_number()" in line:
            # partitioned by the range-bucket id, never a bare ORDER BY
            assert "windowspecdefinition(_pid" in line


def test_pipeline_prepare_corpus_pushdown(spark):
    """The length filter must reach the parquet scan and the scan must
    prune to the consumed columns."""
    df = REGISTRY["pipeline_prepare_corpus"].fn(spark, SF)
    assert plans.has_pushed_filter(df, "n_chars")
    for cols in plans.read_schema_columns(df):
        assert set(cols) <= {"doc_id", "text", "lang", "n_chars"}


def test_connected_components_no_cartesian(spark):
    """Every join in the CC propagation must be keyed — no
    BroadcastNestedLoop / CartesianProduct at any round."""
    from multisql_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a LONG, doc_b LONG"
    )
    df = connected_components(pairs, max_iter=2)
    plan = plans.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_ivf_kmeans_probe_is_broadcast(spark):
    """The KMeans-IVF probe must broadcast the tiny query side and never
    shuffle or nested-loop the corpus; centroid assignment is literal
    arithmetic inside the scan's codegen stage."""
    df = REGISTRY["sim_ann_ivf_kmeans"].fn(spark, SF)
    plan = plans.formatted_plan(df)
    assert plans.uses_broadcast_join(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_contamination_benchmark_broadcasts(spark):
    """The benchmark n-gram set must broadcast; the corpus side must
    never shuffle its text through a non-broadcast join."""
    df = REGISTRY["text_contamination"].fn(spark, SF)
    plan = plans.formatted_plan(df)
    assert plans.uses_broadcast_join(df)
    assert "CartesianProduct" not in plan


def test_chunk_dedup_partial_agg(spark):
    """Chunk-grain dedup must partially aggregate (map-side combine)
    before the exchange on the chunk key."""
    plan = plans.formatted_plan(REGISTRY["dedup_chunks"].fn(spark, SF))
    assert "HashAggregate" in plan
    assert plan.index("HashAggregate") != plan.rindex("HashAggregate")


def test_nation_volume_broadcasts_dims(spark):
    """Q7 shape: the nation dimension legs broadcast instead of
    shuffling the fact tables on nation keys."""
    df = REGISTRY["tpch_nation_volume"].fn(spark, SF)
    assert plans.uses_broadcast_join(df)


def test_bloom_probe_is_broadcast(spark):
    """The bloom-word table must broadcast (it is O(m_bits), not O(corpus)),
    so probing new docs adds no wide shuffle beyond the word build."""
    df = REGISTRY["dedup_bloom_prefilter"].fn(spark, SF)
    assert plans.uses_broadcast_join(df)


def test_unigram_freq_table_broadcasts(spark):
    """The vocabulary-frequency table joins back onto the token stream as
    a broadcast — token occurrences must never shuffle on the token key."""
    df = REGISTRY["text_unigram_logprob"].fn(spark, SF)
    assert plans.uses_broadcast_join(df)


def test_tfidf_window_is_partitioned(spark):
    """The tf-idf ranking window must partition on doc_id — a global
    (unpartitioned) sort would single-reduce at scale — and the rnk <= 3
    filter must push down as WindowGroupLimit (top-k per group, not
    rank-then-filter)."""
    plan = plans.formatted_plan(REGISTRY["text_tfidf_topk"].fn(spark, SF))
    assert "windowspecdefinition(doc_id" in plan
    assert "WindowGroupLimit" in plan


def test_pq_lut_broadcasts(spark):
    """The per-query ADC lookup table must broadcast onto the code
    table — the compressed corpus never shuffles for the join."""
    df = REGISTRY["sim_ann_pq"].fn(spark, SF)
    assert plans.uses_broadcast_join(df)


def test_ivfadc_broadcasts_queries_and_lut(spark):
    """The IVFADC probe must broadcast both the query list map and the
    ADC lookup table — the corpus/code tables never shuffle for either."""
    df = REGISTRY["sim_ann_ivfadc"].fn(spark, SF)
    assert plans.uses_broadcast_join(df)


def test_disjunctive_brackets_push_to_both_scans(spark):
    """Q19-shape OR-of-ANDs: the join must stay hash/broadcast (equi key
    extracted, brackets as residual) and each side's single-table
    disjunction must reach its parquet scan — including the derived
    weakened l_quantity disjunction on lineitem."""
    df = REGISTRY["tpch_disjunctive_revenue"].fn(spark, SF)
    plan = plans.formatted_plan(df)
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan
    assert plans.has_pushed_filter(df, "p_brand")
    assert plans.has_pushed_filter(df, "l_quantity")


def test_bigram_tables_broadcast(spark):
    """The bigram log-prob table must broadcast back onto the bigram
    stream — bigram occurrences never shuffle on the pair key for the
    scoring join."""
    df = REGISTRY["text_bigram_logprob"].fn(spark, SF)
    assert plans.uses_broadcast_join(df)


def test_fixed_k_sample_is_top_k_not_global_sort(spark):
    """ORDER BY md5 LIMIT K must plan as TakeOrderedAndProject (per-
    partition heap), never a global Sort+Limit."""
    plan = plans.formatted_plan(REGISTRY["sample_fixed_k"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_semantic_dedup_joins_are_keyed(spark):
    """SemDeDup's within-cluster self-join must be an equi-join on
    list_id (the blocking key) and the survivor filter a keyed left-anti
    — never an all-pairs nested loop."""
    df = REGISTRY["dedup_semantic"].fn(spark, SF)
    plan = plans.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gapfill_grid_from_rollup_not_raw(spark):
    """The gap-fill grid must be exploded from the bounded per-type span
    aggregate (types x hours), and the LOCF window must be partitioned
    by event_type — no single-partition global Window."""
    df = REGISTRY["events_gapfill_locf"].fn(spark, SF)
    plan = plans.formatted_plan(df)
    assert "Generate explode" in plan or "Generate" in plan
    # a partitioned window sorts on (event_type, hour_start); a global
    # window would show an empty partition spec in the Window operator
    assert "Window" in plan
    import re as _re

    for m in _re.finditer(r"Arguments: \[[^\]]*windowspecdefinition\(([^)]*)\)", plan):
        assert "event_type" in m.group(1)


def test_market_share_single_aggregation(spark):
    """Q8 share comes from ONE conditional aggregation (numerator and
    denominator in the same HashAggregate) with part/supplier broadcast."""
    df = REGISTRY["tpch_market_share"].fn(spark, SF)
    plan = plans.formatted_plan(df)
    assert plans.uses_broadcast_join(df)
    assert "CartesianProduct" not in plan


def test_wealthy_inactive_anti_join(spark):
    """Q22's no-orders test must plan as a (broadcast or shuffled) hash
    LEFT ANTI join, and the cutoff as a broadcast of a 1-row aggregate."""
    import re as _re

    plan = plans.formatted_plan(
        REGISTRY["tpch_wealthy_inactive"].fn(spark, SF)
    )
    assert "LeftAnti" in plan
    # the only nested-loop allowed is the Inner join against the
    # broadcast 1-row cutoff aggregate (the scalar-subquery pattern);
    # the anti join itself must be a hash join
    for m in _re.finditer(r"BroadcastNestedLoopJoin (\w+) \(?(\w+)", plan):
        assert "Anti" not in m.group(0)
    assert _re.search(r"(Broadcast|ShuffledHash|SortMerge)\w*Join LeftAnti", plan)


def test_frame_windows_never_single_partition(spark):
    """Both window passes in window_frame_stats partition by o_custkey —
    the plan must contain no single-partition exchange or unpartitioned
    window (the 100 TB failure mode for window queries)."""
    plan = plans.formatted_plan(REGISTRY["window_frame_stats"].fn(spark, SF))
    assert "SinglePartition" not in plan
    assert "Window" in plan


def test_sessionize_single_exchange(spark):
    """Gap-sessionization's two window passes and final groupBy all key on
    user_id: Catalyst must reuse ONE hash exchange for the whole chain."""
    import re

    plan = plans.formatted_plan(
        REGISTRY["events_sessionize_batch"].fn(spark, SF)
    )
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "SinglePartition" not in plan


def test_anomaly_mad_broadcasts_group_stats(spark):
    """The per-type median/MAD tables (|event_type| rows) must broadcast
    back onto the event stream — the raw events never shuffle for the
    scoring joins."""
    df = REGISTRY["events_anomaly_mad"].fn(spark, SF)
    assert plans.uses_broadcast_join(df)


def test_quantized_topk_is_group_limit(spark):
    """Quantized top-k must plan the per-query heap (WindowGroupLimit)
    and broadcast the query set; the quantized corpus never shuffles
    before scoring."""
    plan = plans.formatted_plan(REGISTRY["sim_quantized_topk"].fn(spark, SF))
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_per_group_cap_is_group_limit(spark):
    plan = plans.formatted_plan(
        REGISTRY["sample_per_group_cap"].fn(spark, SF)
    )
    assert "WindowGroupLimit" in plan
    assert "SinglePartition" not in plan


def test_small_qty_revenue_broadcasts(spark):
    """Q17 decorrelation: the brand-part set and the per-part average
    both broadcast; lineitem is scanned without a shuffle join."""
    df = REGISTRY["tpch_small_qty_revenue"].fn(spark, SF)
    assert plans.uses_broadcast_join(df)
    assert "CartesianProduct" not in plans.formatted_plan(df)


def test_value_trend_is_partial_aggregable(spark):
    """The normal-equation sums must partial-aggregate (map-side combine)
    before the exchange — one shuffle of per-partition sums only."""
    import re

    plan = plans.formatted_plan(REGISTRY["events_value_trend"].fn(spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_chisq_and_entropy_broadcast_margins(spark):
    """Per-source totals must broadcast back onto the count table — the
    distributions never reshuffle.  monitor_lang_chisq (r11) computes
    its margins as window sums over the ONE bounded contingency table
    instead: a single document lineage, no margin joins at all."""
    import re

    chisq_plan = plans.formatted_plan(
        REGISTRY["monitor_lang_chisq"].fn(spark, SF)
    )
    assert len(re.findall(r"\(\d+\) Scan parquet", chisq_plan)) == 1
    assert "Window" in chisq_plan
    assert plans.uses_broadcast_join(
        REGISTRY["monitor_source_entropy"].fn(spark, SF)
    )


def test_cooccurrence_pair_join_is_keyed(spark):
    """The pair self-join must be an equi-join on user_id (plus the
    type inequality as residual) — never a cartesian product."""
    plan = plans.formatted_plan(
        REGISTRY["events_cooccurrence_lift"].fn(spark, SF)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_percentile_bands_single_aggregation(spark):
    """All three bands must come from ONE aggregation pass (a single
    percentile buffer), not three separate shuffles."""
    import re

    plan = plans.formatted_plan(
        REGISTRY["events_percentile_bands_hourly"].fn(spark, SF)
    )
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_cdc_apply_single_exchange(spark):
    """Both window passes (head pick + change count) share the entity-key
    partitioning: ONE exchange, never a single-partition window.  (No
    WindowGroupLimit here by design — n_changes needs the full
    partition, so the head can't be pre-pruned.)"""
    import re

    plan = plans.formatted_plan(REGISTRY["pipeline_cdc_apply"].fn(spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "SinglePartition" not in plan


def test_active_users_no_cartesian(spark):
    """The WAU fan-out must stay a keyed explode + distinct; the bounds
    row broadcasts (BroadcastNestedLoopJoin on a 1-row side is fine) —
    no CartesianProduct anywhere."""
    plan = plans.formatted_plan(REGISTRY["events_active_users"].fn(spark, SF))
    assert "CartesianProduct" not in plan


def test_ab_experiment_partial_aggregation(spark):
    """Arm moments must map-side combine; the arm×metric join runs over
    ≤|metrics| rows."""
    plan = plans.formatted_plan(
        REGISTRY["monitor_ab_experiment"].fn(spark, SF)
    )
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_rfm_broadcasts_cutpoints(spark):
    """The three median cutpoints are a 1-row aggregate broadcast back
    onto the customer base — the base never reshuffles for scoring."""
    df = REGISTRY["orders_rfm_segments"].fn(spark, SF)
    plan = plans.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_knn_eval_group_limit_and_broadcast(spark):
    plan = plans.formatted_plan(REGISTRY["sim_knn_label_eval"].fn(spark, SF))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_dataset_diff_shuffles_digests_only(spark):
    """The version-diff join must move (key, digest) pairs, not rows:
    both join inputs project exactly two columns."""
    df = REGISTRY["pipeline_dataset_diff"].fn(spark, SF)
    for cols in plans.read_schema_columns(df):
        assert set(cols) <= {"doc_id", "text"}
    plan = plans.formatted_plan(df)
    assert "FullOuter" in plan or "full_outer" in plan


def test_q6_full_pushdown_and_heap_topk(spark):
    """Q6: every predicate reaches the scan; Q3/Q10: the limit plans as
    a TakeOrderedAndProject heap, not Sort+Limit."""
    df = REGISTRY["tpch_forecast_revenue"].fn(spark, SF)
    assert plans.has_pushed_filter(df, "l_shipdate")
    assert plans.has_pushed_filter(df, "l_discount")
    assert plans.has_pushed_filter(df, "l_quantity")
    for name in ("tpch_shipping_priority", "tpch_returned_items"):
        plan = plans.formatted_plan(REGISTRY[name].fn(spark, SF))
        assert "TakeOrderedAndProject" in plan


def test_auto_increment_fill_has_no_global_window(spark):
    """AUTO_INCREMENT fill (reference sled/auto_increment.rs:12-55 hands
    out one batch's ids in order): coalesced into one partition, the fill
    is one narrow projection — no window and no exchange of any kind —
    and gives the dense ids ``start+1 .. start+n`` in row order, over a
    multi-partition plan and over the stored batch an ``INSERT … SELECT``
    checks (its partitions carry block locations), with no job."""
    from multisql_spark.session import _in_order_ids, _materialize

    base = spark.range(0, 1000, 1, 8).select(
        F.lit(None).cast("long").alias("id"), F.col("id").alias("payload")
    )
    for batch in (base, _materialize(base)):
        filled = _in_order_ids(batch, "id", 100, "bigint")
        rows = filled.collect()
        # dense, gap-free, offset by start, and in (partition, local
        # position) order: payload p is the p-th row
        assert {r.payload: r.id for r in rows} == {
            p: 101 + p for p in range(1000)
        }
        plan = plans.formatted_plan(filled)
        assert "Window" not in plan, plan
        assert "Exchange" not in plan, plan
