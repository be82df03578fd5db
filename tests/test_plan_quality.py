"""Plan-quality regression tests: assert the physical-plan properties
the scale design depends on (pushdown, broadcast, shuffle counts), so a
refactor can't silently turn a broadcast join into a shuffle or strand a
filter above the scan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pygeoapi_ingestor_spark.plans import QUERIES


@pytest.fixture(autouse=True)
def _fresh_plans():
    """These tests assert properties of the INITIAL plan a fresh build
    produces. With the r13 catalog-wide prepared registry, an earlier
    test's collect() leaves the memoized DataFrame holding its
    AQE-FINAL executed plan (extra ResultQueryStage/AQEShuffleRead
    nodes, reused exchanges) — release the registry so every assertion
    reads a fresh, un-executed plan."""
    from pygeoapi_ingestor_spark.functions import storage

    storage.release_corpus_artifacts()
    yield
    storage.release_corpus_artifacts()


def _formatted(df) -> str:
    jdf = df._jdf
    mode = jdf.sparkSession().sparkContext()._jvm if False else None
    return jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _simple(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    plan = _formatted(QUERIES["q6_forecast_revenue"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity" in plan
    # column pruning: only the 4 needed columns are read
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" not in read and "l_returnflag" not in read


def test_q5_joins_are_broadcast(spark, sf_dir):
    plan = _simple(QUERIES["q5_local_supplier"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rating_curve_has_no_join_or_shuffle(spark, sf_dir):
    plan = _simple(QUERIES["rating_curve_interp"](spark, sf_dir))
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_select_time_range_pushdown(spark, sf_dir):
    plan = _formatted(QUERIES["select_time_range"](spark, sf_dir))
    # events go through the nanos-as-long reader; value/type filters
    # must still reach the scan
    assert "PushedFilters: [" in plan
    assert "GreaterThan(value,100" in plan


def test_resample_single_shuffle_with_partial_agg(spark, sf_dir):
    plan = _simple(QUERIES["resample_daily_sum"](spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "partial" in plan.lower()  # map-side combine before the shuffle


def test_zonal_stats_broadcasts_dimension(spark, sf_dir):
    plan = _simple(QUERIES["zonal_stats"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_anomaly_broadcasts_climatology(spark, sf_dir):
    plan = _simple(QUERIES["anomaly_vs_climatology"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_cosine_topk_stays_jvm_side(spark, sf_dir):
    plan = _simple(QUERIES["sim_search_cosine_topk"](spark, sf_dir))
    # no Python row-at-a-time evaluation in the scoring path
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_lang_id_no_python_udf(spark, sf_dir):
    plan = _simple(QUERIES["lang_id_heuristic"](spark, sf_dir))
    assert "BatchEvalPython" not in plan


def test_partitioned_collection_prunes(spark, sf_dir, tmp_path):
    """The at-rest layout story: a day-partitioned collection scan with a
    day predicate must show partition filters (pruning), not a full scan."""
    from pygeoapi_ingestor_spark.sinks import write_collection
    from pygeoapi_ingestor_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    path = str(tmp_path / "events_by_day")
    write_collection(ev, path, partition_by=["day"])

    df = spark.read.parquet(path).filter(F.col("day") == "2024-01-02")
    plan = _formatted(df)
    assert "PartitionFilters: [" in plan
    assert "2024-01-02" in plan.split("PartitionFilters")[1].split("]")[0]
    assert df.count() > 0


def test_q1_partial_agg_single_shuffle(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    # map-side combine feeds exactly one exchange; decimal sums stay in
    # the hash aggregate (no Python, no extra shuffle)
    assert "partial_sum" in _formatted(df)
    simple = _simple(df)
    assert simple.count("Exchange") == 1
    assert "EvalPython" not in simple


def test_embedding_dedup_is_bucketed_not_cartesian(spark, sf_dir):
    """The shipped near-dup plan must join within LSH band buckets —
    never a cartesian / nested-loop pair join over the vector table."""
    plan = _simple(QUERIES["dedup_embedding_cosine"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_assignment_has_no_window_shuffle(spark, sf_dir):
    """IVF centroid assignment is a pure projection (literal centroid
    array + array_min): no Window sort and only the cluster equi-join
    shuffles."""
    plan = _simple(QUERIES["sim_search_ivf"](spark, sf_dir))
    # one window remains for the final per-query top-k rank (tiny: query
    # count x probed lists); assignment itself must not add more.
    # ("Window [" is the operator; WindowGroupLimit is its pushed limit)
    assert plan.count("Window [") <= 1


def _exchange_lines(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]


def test_low_cardinality_windows_are_chunked(spark, sf_dir):
    """The 5-key window family must shuffle on (event_type, chunk/bucket),
    never on the bare 5-value series key: no full-table sort may land in
    5 partitions at any scale."""
    for key, extra in [
        ("value_change_lag", "_chunk"),
        ("forward_fill_gaps", "_chunk"),
        ("linear_interp_gaps", "_chunk"),
        ("ntile_quartiles", "_bucket"),
        ("spi_empirical", "_bucket"),
    ]:
        plan = _simple(QUERIES[key](spark, sf_dir))
        composite = [
            ln
            for ln in _exchange_lines(plan)
            if "event_type" in ln and extra in ln
        ]
        assert composite, (
            f"{key}: no exchange partitioned by (event_type, {extra}) — "
            "the full-table sort fell back to the bare 5-value key"
        )


@pytest.mark.filterwarnings("error::FutureWarning")
def test_corpus_mix_is_pure_projection(spark, sf_dir):
    """Literal-map weights: the sampling query must be scan -> filter ->
    project with no join and no shuffle at all, and its map lookup uses
    no deprecated Column key (``getItem(col)`` warns in pyspark 4.1)."""
    plan = _simple(QUERIES["corpus_mix_sample"](spark, sf_dir))
    assert "Join" not in plan and "Exchange" not in plan


def test_q7_dimensions_broadcast_single_fact_shuffle(spark, sf_dir):
    """Q7: every dimension side broadcast; only lineitem x orders may
    sort-merge/shuffle."""
    plan = _simple(QUERIES["q7_volume_shipping"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") <= 1


def test_q17_threshold_broadcast_no_self_shuffle_join(spark, sf_dir):
    """Q17: the per-part avg-quantity threshold aggregates the fact
    table down to part cardinality and joins back as a broadcast — the
    fact side must not shuffle into a sort-merge self-join."""
    plan = _simple(QUERIES["q17_small_quantity_revenue"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_decontaminate_no_cartesian(spark, sf_dir):
    plan = _simple(QUERIES["decontaminate_ngram"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interp_windows_are_running_frames(spark, sf_dir):
    """No (CURRENT ROW .. UNBOUNDED FOLLOWING) frame may survive in the
    interpolation plans — that frame shape re-scans the partition tail
    per row (quadratic)."""
    for key in ("linear_interp_gaps", "forward_fill_gaps"):
        plan = _simple(QUERIES[key](spark, sf_dir))
        assert "unboundedfollowing$()" not in plan, key


def test_q2_min_join_back_is_broadcast(spark, sf_dir):
    """Q2 shape: the (part, supplier) unit-cost summary shuffles once;
    the per-part min and every dimension join back as broadcasts, so
    the fact table never sort-merge self-joins."""
    plan = _simple(QUERIES["q2_min_cost_supplier"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_q9_dimensions_broadcast(spark, sf_dir):
    """Q9 shape: part/supplier/nation broadcast; only lineitem x orders
    may shuffle."""
    plan = _simple(QUERIES["q9_product_profit"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") <= 1


def test_q11_threshold_is_broadcast_not_collected(spark, sf_dir):
    """Q11 shape: the global total joins back as a 1-row broadcast —
    one lazy plan, no cartesian blow-up and no driver round-trip."""
    plan = _simple(QUERIES["q11_important_parts"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q21_single_fact_shuffle(spark, sf_dir):
    """Q21 shape: per-order aggregate gates reuse the order-key
    partitioning; supplier/nation sides broadcast."""
    plan = _simple(QUERIES["q21_waiting_suppliers"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_repetition_metrics_no_cartesian_no_udf(spark, sf_dir):
    """Repetition metrics: two (doc, gram) aggregates joined on doc —
    no pair join, no Python in the loop."""
    plan = _simple(QUERIES["repetition_metrics"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sim_search_int8_arrow_kernel_no_join(spark, sf_dir):
    """int8 ANN (r13): quantization + integer scoring + batch-local
    top-k run in ONE Arrow kernel against the broadcast query matrix —
    no per-pair join at all, no row-at-a-time Python, and the only
    exchange left is the per-query rank window."""
    plan = _simple(QUERIES["sim_search_int8"](spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_percentile_and_topk_sorts_are_bucketed(spark, sf_dir):
    """value_percentiles / docs_top_per_source rank inside (series,
    value-bucket) partitions — the sort must never shuffle on the bare
    low-cardinality series key alone."""
    for key, series in [
        ("value_percentiles", "event_type"),
        ("docs_top_per_source", "source"),
    ]:
        plan = _simple(QUERIES[key](spark, sf_dir))
        composite = [
            ln
            for ln in _exchange_lines(plan)
            if series in ln and "_bucket" in ln
        ]
        assert composite, (
            f"{key}: no exchange partitioned by ({series}, _bucket)"
        )


def test_exact_percentiles_prunes_sorted_rows(spark, sf_dir):
    """The drill-down must rank only rows from buckets containing a
    needed percentile position — far fewer than the input rows."""
    from pygeoapi_ingestor_spark.functions import ranks
    from pygeoapi_ingestor_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir)
    n_total = ev.count()
    out = ranks.exact_percentiles(
        ev, ["event_type"], "value", [0.5], ["event_id"]
    )
    # the bucket prune is a join feeding the ranking sort — the raw scan
    # must not reach the sort directly
    plan = _simple(out)
    assert "Sort" in plan and "Join" in plan
    rows = out.collect()
    assert 0 < len(rows) <= 5  # one row per (series, p)
    assert n_total >= 500  # sanity: non-trivial input


def test_skew_join_shuffles_on_salted_key(spark, sf_dir):
    """The salted join must exchange on (user_id, _salt) — the whole
    point is that a hot user key fans out across salt partitions."""
    plan = _simple(QUERIES["skew_join_salted"](spark, sf_dir))
    salted = [
        ln
        for ln in _exchange_lines(plan)
        if "user_id" in ln and "_salt" in ln
    ]
    assert salted, "no exchange partitioned by (user_id, _salt)"
    assert "BroadcastHashJoin" not in plan.split("Aggregate")[0] or salted


def test_chunk_documents_has_no_shuffle(spark, sf_dir):
    """Chunking is pure generate: any Exchange means a regression."""
    plan = _simple(QUERIES["chunk_documents"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Generate explode" in plan


def test_time_weighted_avg_windows_on_series_day(spark, sf_dir):
    """TWA must exchange on (event_type, day) — re-keyed, never the bare
    5-value series key."""
    plan = _simple(QUERIES["time_weighted_avg"](spark, sf_dir))
    keyed = [
        ln for ln in _exchange_lines(plan)
        if "event_type" in ln and "_day" in ln
    ]
    assert keyed, "no exchange partitioned by (event_type, _day)"


def test_funnel_single_fact_shuffle(spark, sf_dir):
    """The funnel folds per user after ONE shuffle on user_id; the final
    3-row explode must not add fact-sized exchanges."""
    plan = _simple(QUERIES["funnel_conversion"](spark, sf_dir))
    assert len(_exchange_lines(plan)) <= 1
    assert "CartesianProduct" not in plan


def test_incremental_lsh_is_directional(spark, sf_dir):
    """The batch-vs-corpus screen joins on (band, bucket) and never
    cross-joins; exchanges carry the bucket key."""
    plan = _simple(QUERIES["dedup_incremental_lsh"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the candidate join must be keyed on (band, bucket) — as a shuffle
    # exchange at scale or a broadcast hash join when one side is small
    bucketed = [ln for ln in _exchange_lines(plan) if "bucket" in ln] or [
        ln for ln in plan.splitlines()
        if "BroadcastHashJoin [band" in ln.strip()
    ]
    assert bucketed, "candidate join is not keyed on the LSH bucket"


# ---- round-4 additions ----


def test_retention_and_streaks_no_cartesian(spark, sf_dir):
    for key in ("retention_cohorts", "streak_lengths", "session_stats"):
        plan = _simple(QUERIES[key](spark, sf_dir))
        assert "CartesianProduct" not in plan, key


def test_rfm_ranks_broadcast_no_global_sort_window(spark, sf_dir):
    plan = _simple(QUERIES["rfm_segments"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_hist2d_is_single_aggregate(spark, sf_dir):
    plan = _simple(QUERIES["hist2d_value_hour"](spark, sf_dir))
    assert "Join" not in plan and "Window" not in plan


def test_char_entropy_no_join_no_udf(spark, sf_dir):
    plan = _simple(QUERIES["char_entropy"](spark, sf_dir))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bigram_merges_topk_is_take_ordered(spark, sf_dir):
    plan = _simple(QUERIES["bigram_merges"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_dedup_against_reference_is_anti_join(spark, sf_dir):
    plan = _simple(QUERIES["dedup_against_reference"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_winnow_is_shuffle_free_projection(spark, sf_dir):
    """r14: the whole winnowing selection (positioned grams, sortable
    keys, per-window argmin, distinct) runs inside the token array —
    no window shuffle, no selected-keys semi-join (the r13 shape), no
    join of any kind. The only allowed exchange is spread_if_narrow's
    parallelism spread on a single-file local input."""
    plan = _simple(QUERIES["winnow_fingerprints"](spark, sf_dir))
    assert "LeftSemi" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "hashpartitioning" not in plan


def test_pq_adc_scans_materialized_codes(spark, sf_dir):
    plan = _simple(QUERIES["sim_search_pq_adc"](spark, sf_dir))
    # the encoded PQ index must come from the persisted materialization,
    # not be recomputed inside the ADC scan join
    assert "InMemoryTableScan" in plan
    assert "SortMergeJoin" not in plan


def test_ppjoin_candidates_from_prefix_join_only(spark, sf_dir):
    plan = _simple(QUERIES["dedup_ppjoin"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # r13: verification is one codegen array_intersect per candidate
    # pair over per-doc token arrays — the r12 explode-by-|A| +
    # semi-join + re-aggregate (3 shuffles) must not come back
    assert "array_intersect" in plan
    assert "LeftSemi" not in plan


def test_mad_outliers_avoids_buffering_percentile(spark, sf_dir):
    plan = _formatted(QUERIES["mad_outliers"](spark, sf_dir))
    # medians must come from bucket drill-down, never the buffering
    # percentile aggregate (one task holds a whole 5-key group's values)
    assert "percentile(" not in plan


def test_zonal_and_corpus_stats_avoid_buffering_percentile(spark, sf_dir):
    for key in ("zonal_stats", "corpus_token_stats"):
        plan = _formatted(QUERIES[key](spark, sf_dir))
        assert "percentile(" not in plan, key


def test_trend_and_acf_stay_equi_join_only(spark, sf_dir):
    plan = _simple(QUERIES["trend_ols"](spark, sf_dir))
    assert "Join" not in plan  # two chained aggregates, nothing else
    plan = _simple(QUERIES["acf_lags"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the lag pairing is a plain equi-join on (series, day+k)
    assert "BroadcastNestedLoopJoin" not in plan


def test_nearest_site_broadcasts_the_site_dim(spark, sf_dir):
    plan = _simple(QUERIES["nearest_site_join"](spark, sf_dir))
    # the 40-site cross product must ride a broadcast, never a
    # shuffle-side cartesian of the fact table
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan


def test_winsorize_bounds_broadcast_no_buffering_percentile(spark, sf_dir):
    df = QUERIES["winsorize_values"](spark, sf_dir)
    plan = _simple(df)
    assert "percentile(" not in plan  # drill-down, not the buffering agg
    assert "BroadcastHashJoin" in plan  # bounds join back onto the facts


def test_stratified_split_is_pure_projection_plus_agg(spark, sf_dir):
    plan = _simple(QUERIES["stratified_split"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_corpus_scores_no_cartesian(spark, sf_dir):
    for key in ("contamination_score", "bigram_lm_score"):
        plan = _simple(QUERIES[key](spark, sf_dir))
        assert "CartesianProduct" not in plan, key


def test_semdedup_pairs_join_on_cluster_only(spark, sf_dir):
    plan = _simple(QUERIES["semdedup_clusters"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # assignment is a projection: exactly the pair-join + drop-join
    # shuffles, no extra exchange from the argmin
    assert "BroadcastNestedLoopJoin" not in plan


def test_changepoint_no_join_single_series_shuffle(spark, sf_dir):
    plan = _simple(QUERIES["changepoint_cusum"](spark, sf_dir))
    assert "Join" not in plan


def test_verification_and_monitoring_plans_stay_bounded(spark, sf_dir):
    # verification family: member-bucket windows + broadcast obs/thr
    # joins; monitoring family: grid via broadcast bins. None may fall
    # back to a cartesian or a shuffle-side nested loop over facts.
    for key in (
        "ensemble_crps", "brier_exceedance", "rank_histogram",
        "reliability_bins", "user_path_transitions", "psi_drift_daily",
        "embedding_qa_stats",
    ):
        plan = _simple(QUERIES[key](spark, sf_dir))
        assert "CartesianProduct" not in plan, key
    # the QA gate is projection + one aggregate: no join at all
    assert "Join" not in _simple(QUERIES["embedding_qa_stats"](spark, sf_dir))


def test_focal_stats_no_cartesian_two_exchanges(spark, sf_dir):
    # cell snap (one exchange) + focal re-group (one exchange on the
    # tiny cell table); the join back to base cells must hash/broadcast,
    # never nested-loop
    plan = _simple(QUERIES["focal_stats_grid"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_theilsen_pair_join_is_equi_on_series(spark, sf_dir):
    # the pair blowup must come from an equi-join keyed on the series
    # column (quadratic in DAYS only), not a cartesian over rows
    plan = _simple(QUERIES["theilsen_trend"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ccf_reference_series_broadcasts(spark, sf_dir):
    plan = _simple(QUERIES["ccf_lags"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_idw_candidates_equi_join_on_day_cell(spark, sf_dir):
    # the 5x5 window explode joins grid cells by key — a range/theta
    # join here would scan the whole grid per target at scale
    plan = _simple(QUERIES["idw_interp"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_audience_overlap_totals_broadcast(spark, sf_dir):
    plan = _simple(QUERIES["audience_overlap"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_containment_candidates_from_gram_join_only(spark, sf_dir):
    # candidate pairs must come from the rarest-gram equi-join; the
    # exact contains gate runs on join OUTPUT, never an all-pairs scan
    plan = _simple(QUERIES["dedup_containment"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rp_reduce_is_pure_projection(spark, sf_dir):
    # dimensionality reduction is a per-row map: no exchange anywhere
    plan = _simple(QUERIES["embedding_rp_reduce"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_cdd_and_return_levels_single_series_shuffle(spark, sf_dir):
    for key in ("climate_cdd", "return_levels_empirical"):
        plan = _simple(QUERIES[key](spark, sf_dir))
        assert "CartesianProduct" not in plan, key
        assert "BroadcastNestedLoopJoin" not in plan, key


def test_feature_hash_shuffles_integers_not_text(spark, sf_dir):
    # the (doc, bucket) aggregation must be partial (map-side combine)
    # and the exchange carries hashed integers, never the token strings
    plan = _formatted(QUERIES["feature_hash_vectors"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    exchanges = [ln for ln in plan.splitlines() if "Arguments: hashpartitioning" in ln]
    assert not any(" w#" in ln for ln in exchanges)


def test_bm25_topk_is_take_ordered(spark, sf_dir):
    plan = _simple(QUERIES["bm25_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_rrf_fusion_broadcasts_query_side(spark, sf_dir):
    # the compressed-retriever scan pairs the corpus against a BROADCAST
    # 5-row query set; a cartesian or shuffled nested loop here would
    # scale with corpus x corpus
    plan = _simple(QUERIES["rrf_fusion"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan


def test_r6_candidate_plans_stay_bounded(spark, sf_dir):
    # the late-round-5 additions: no cartesian anywhere; the pair-based
    # trend tests must come from equi-joins keyed on the series
    for key in (
        "heat_wave_events", "vocab_coverage_curve", "double_mass_curve",
        "kge_nse_scores", "mann_kendall", "gumbel_return_levels",
        "dataset_card", "disaggregate_daily_hourly", "periodogram_coarse",
        "ab_test_conversion", "survival_hazard_table", "pet_hargreaves",
        "wet_day_markov", "cooccurrence_pmi",
    ):
        plan = _simple(QUERIES[key](spark, sf_dir))
        assert "CartesianProduct" not in plan, key


def test_knn_outliers_dot_product_is_codegen(spark, sf_dir):
    # the all-pairs cosine must run as scalar codegen arithmetic, not an
    # interpreted zip_with fold (61s vs 8s at sf0.1) — the fold version's
    # signature expression must be absent from the whole plan
    plan = _formatted(QUERIES["embedding_knn_outliers"](spark, sf_dir))
    assert "zip_with" not in plan


def test_triplet_mining_arrow_kernel_no_join(spark, sf_dir):
    # r13: anchors ride a driver broadcast into ONE Arrow kernel that
    # emits batch-local extremes; no pair join materializes at all
    plan = _simple(QUERIES["triplet_mining"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    assert "Join" not in plan
