"""Physical-plan assertions: the scale-critical properties of each
operator's plan, checked against .explain output so regressions in
plan shape fail loudly (SURVEY §4 / 100 TB design goals)."""

import re

import pytest


from datafusion_functions_financial_spark.plans.registry import all_queries

_Q = all_queries()


def plan_of(spark, sf_dir, name) -> str:
    df = _Q[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def count_exchanges(plan: str) -> int:
    # Shuffle exchanges only (broadcast exchanges are cheap by design).
    return len(re.findall(r"Exchange hashpartitioning|Exchange rangepartitioning", plan))


def test_combined_indicators_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "ind_combined_events")
    # One hash exchange on the partition key feeds the single Python
    # stage that computes all four indicators.
    assert count_exchanges(plan) == 1, plan
    assert plan.count("MapInPandas") == 1, plan


def test_ma_crossover_kernel_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "signals_ma_crossover_events")
    # The fold that computes both SMAs also lags them: no window stage,
    # so the data is shuffled and sorted once.
    assert count_exchanges(plan) == 1, plan
    assert plan.count("MapInPandas") == 1, plan
    assert "Window" not in plan, plan


def test_sma_native_no_python(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "ind_sma_native_events")
    assert "Window" in plan
    for marker in ("MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython",
                   "ArrowEvalPython"):
        assert marker not in plan, f"unexpected Python stage: {marker}"


def test_pricing_summary_pushdown_and_partial_agg(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_pricing_summary_lineitem")
    assert re.search(r"PushedFilters: \[.*LessThan\(l_quantity", plan), plan
    # Column pruning: the scan must not read unused columns.
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "l_comment" not in m.group(1)
    assert "l_orderkey" not in m.group(1)
    # Partial (map-side) aggregation before the exchange.
    assert "partial" in plan.lower()
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_knn_broadcasts_query_side(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "knn_bruteforce_embeddings")
    assert "BroadcastExchange" in plan or "Broadcast" in plan, plan
    assert count_exchanges(plan) <= 1  # corpus side must not shuffle for the join


def test_validator_is_single_pass_aggregate(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "validate_lineitem_values")
    # All conditional checks collapse into one aggregation over one scan.
    assert plan.count("FileScan") == 1, plan
    for marker in ("MapInPandas", "BatchEvalPython"):
        assert marker not in plan


def test_text_stats_no_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "text_stats_documents")
    # Pure scan->project: embarrassingly parallel at any scale.
    assert count_exchanges(plan) == 0, plan


def test_events_hourly_partial_agg(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_events_hourly")
    assert count_exchanges(plan) == 1, plan
    assert plan.index("HashAggregate") < plan.index("Exchange")


def _no_cartesian(plan: str):
    for marker in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert marker not in plan, f"quadratic join in plan: {marker}"


def test_embedding_neardup_no_cartesian(spark, sf_dir):
    # Banded sign-LSH candidates + exact-cos verify: every join is an
    # equi-join (band/bucket or vec_id) — no all-pairs scan.
    _no_cartesian(plan_of(spark, sf_dir, "embedding_neardup_pairs"))


def test_simhash_pairs_no_cartesian(spark, sf_dir):
    _no_cartesian(plan_of(spark, sf_dir, "dedup_simhash_pairs_documents"))


def test_ngram_jaccard_gated_no_cartesian(spark, sf_dir):
    _no_cartesian(plan_of(spark, sf_dir, "dedup_ngram_jaccard_documents"))


@pytest.mark.slow
def test_pipeline_clean_corpus_no_cartesian(spark, sf_dir):
    # The whole composed curation pipeline (filters -> exact dedup ->
    # LSH pairs -> cluster join) must stay quadratic-join-free.
    _no_cartesian(plan_of(spark, sf_dir, "pipeline_clean_corpus_documents"))


def test_simhash_banding_is_lossless(spark, sf_dir):
    # Pigeonhole guarantee: banded blocking returns EXACTLY the
    # all-pairs result (max_hamming diffs cannot dirty all
    # max_hamming+1 bands).
    from datafusion_functions_financial_spark.operators.dedup import (
        simhash_pairs,
    )
    from datafusion_functions_financial_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").limit(120)
    banded = {(r.id_a, r.id_b, r.hamming)
              for r in simhash_pairs(docs, method="banded").collect()}
    allp = {(r.id_a, r.id_b, r.hamming)
            for r in simhash_pairs(docs, method="allpairs").collect()}
    assert banded == allp and len(banded) > 0


@pytest.mark.slow
def test_neardup_lsh_subset_of_exact(spark, sf_dir):
    # LSH near-dup must return a SUBSET of the exact result with the
    # same cosine values on shared pairs (recall < 1 by design at
    # low thresholds).
    from datafusion_functions_financial_spark.operators.similarity import (
        embedding_neardup_pairs,
    )
    from datafusion_functions_financial_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings")
    lsh = {(r.id_a, r.id_b): r.cos_sim
           for r in embedding_neardup_pairs(emb, method="lsh").collect()}
    exact = {(r.id_a, r.id_b): r.cos_sim
             for r in embedding_neardup_pairs(emb, method="exact").collect()}
    assert set(lsh) <= set(exact)
    assert len(lsh) > 0
    for k, v in lsh.items():
        assert exact[k] == v  # identical cosine arithmetic on both paths


def test_band_join_broadcasts_interval_dim(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_orders_value_bands")
    # Non-equi interval join: band side broadcast, fact side unshuffled.
    assert "BroadcastNestedLoopJoin" in plan, plan
    # The only shuffle is the final 4-group aggregation exchange.
    assert count_exchanges(plan) <= 1, plan


def test_repetition_two_stage_integer_counting(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "text_repetition_documents")
    # explode -> (doc, word) count -> per-doc combine: two shuffles max,
    # each preceded by a partial aggregate; no Python stage at all.
    assert plan.count("Generate explode") >= 1, plan
    assert count_exchanges(plan) <= 2, plan
    for marker in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, f"unexpected Python stage: {marker}"


def test_micro_sign_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "micro_sign_trades_events")
    # One hash-partition on ticker feeds both window passes.
    assert count_exchanges(plan) == 1, plan
    assert "Window" in plan


def test_top_customers_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_top_customers")
    # Top-20 must plan as TakeOrderedAndProject (per-partition heap +
    # tiny merge), NOT a global sort / single-partition row_number window
    # over the full per-customer aggregate (VERDICT r02 "what's wrong" 1).
    assert "TakeOrderedAndProject" in plan, plan
    # No single-partition shuffle of the full aggregate feeding a Sort:
    # the only SinglePartition exchange allowed is the one under the
    # trailing <=20-row rank window.
    pre_limit = plan.split("TakeOrderedAndProject")[-1]
    assert "Exchange SinglePartition" not in pre_limit, plan


def test_knn_partial_topk_before_window(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "knn_bruteforce_embeddings")
    # The narrow per-batch top-k prune (MapInPandas) must run BEFORE the
    # rank window's q_id exchange, so few-query workloads never funnel
    # the whole scored corpus through one window task.
    ex = plan.find("Exchange hashpartitioning")
    mp = plan.find("MapInPandas")
    assert mp != -1, plan
    assert ex == -1 or mp > ex, plan  # executedPlan prints top-down:
    # the prune (upstream) appears AFTER the exchange node in the string.


def test_technical_indicators_single_shuffle_no_python(spark, sf_dir):
    for name in ("ind_atr_events", "ind_stochastic_events",
                 "ind_obv_lineitem", "ind_logret_events"):
        plan = plan_of(spark, sf_dir, name)
        # One hash partition on the series key feeds all window passes.
        assert count_exchanges(plan) == 1, (name, plan)
        assert "Window" in plan, (name, plan)
        for marker in ("MapInPandas", "FlatMapGroupsInPandas",
                       "BatchEvalPython", "ArrowEvalPython"):
            assert marker not in plan, (name, marker)


def test_chunking_zero_shuffle_no_python(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "text_chunk_documents")
    assert count_exchanges(plan) == 0, plan
    assert "Generate explode" in plan, plan
    for marker in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker


def test_vocab_topk_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "vocab_top_tokens_documents")
    # Count agg (map-side partial), then per-partition heap top-k — the
    # vocabulary never passes through one global sort task.
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial" in plan.lower(), plan


def test_histograms_partial_agg_single_shuffle(spark, sf_dir):
    for name in ("hist_value_events", "hist_doclen_documents"):
        plan = plan_of(spark, sf_dir, name)
        assert count_exchanges(plan) <= 1, (name, plan)
        assert "partial" in plan.lower(), (name, plan)


def test_funnel_two_aggregation_shuffles(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_funnel_events")
    # groupBy(user) then the global conditional count: the second agg is
    # over one row per user and partially aggregates map-side.
    assert count_exchanges(plan) <= 2, plan
    assert "partial" in plan.lower(), plan


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "sample_weighted_documents")
    assert "TakeOrderedAndProject" in plan, plan


def test_percentile_filter_broadcasts_thresholds(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "quality_percentile_filter_documents")
    # The per-group threshold table is broadcast; the corpus side only
    # shuffles for the tiny percentile aggregation input, never for the
    # filter join itself.
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_props_extract_stays_in_codegen(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_events_props_extract")
    for marker in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker
    assert count_exchanges(plan) <= 1, plan  # one agg shuffle
    assert "partial" in plan.lower(), plan


def test_customers_no_orders_anti_join_and_broadcast_dim(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_customers_no_orders")
    assert "LeftAnti" in plan, plan
    assert "BroadcastExchange" in plan, plan


# --- r04 tier-2 operators -------------------------------------------------


def test_tier2_indicators_single_shuffle_no_python(spark, sf_dir):
    # Williams %R / z-score / Keltner: pure Catalyst windows — one hash
    # exchange on the series key, zero Python stages.
    for name in ("ind_williams_r_events", "ind_zscore_events",
                 "ind_keltner_events"):
        plan = plan_of(spark, sf_dir, name)
        assert count_exchanges(plan) == 1, (name, plan)
        for marker in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
            assert marker not in plan, (name, marker)


def test_activity_range_frame_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_user_activity_1h_events")
    # The trailing-hour aggregate is a RANGE window frame (incremental,
    # two-pointer per partition), NOT a self-join: exactly one exchange
    # and no join operator at all.
    assert count_exchanges(plan) == 1, plan
    assert "Join" not in plan, plan
    assert "RangeFrame" in plan, plan


def test_event_streaks_single_shuffle(spark, sf_dir):
    # Both row_number windows and the island aggregation run off ONE
    # user_id exchange (gap-and-islands without any join).
    plan = plan_of(spark, sf_dir, "q_event_streaks_events")
    assert count_exchanges(plan) == 1, plan
    assert "Join" not in plan, plan


def test_latest_order_is_aggregate_not_window(spark, sf_dir):
    # max_by snapshot dedup: map-side partial aggregation, one
    # exchange, and NO per-group sort (the row_number idiom would show
    # a Window + Sort over every group's rows).
    plan = plan_of(spark, sf_dir, "q_latest_order_per_customer")
    assert count_exchanges(plan) == 1, plan
    assert "Window" not in plan, plan
    assert "partial" in plan.lower(), plan


def test_mad_broadcasts_group_medians(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_orders_mad")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_exists_is_semi_join_with_pushed_filter(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_orders_exists_bigitem")
    assert "LeftSemi" in plan, plan
    # The price predicate must filter lineitem BELOW the join.
    assert "PushedFilters" in plan or "Filter" in plan, plan


def test_xent_broadcasts_corpus_lm(spark, sf_dir):
    # The vocabulary-sized unigram LM joins back by broadcast; the
    # per-doc contribution sum is integer (BIGINT) arithmetic.
    plan = plan_of(spark, sf_dir, "text_unigram_xent_documents")
    assert "BroadcastHashJoin" in plan, plan


def test_projection_zero_shuffle_no_python(spark, sf_dir):
    # Random projection is scan-shaped: transform-only, no exchange,
    # no Python stage.
    plan = plan_of(spark, sf_dir, "emb_projection_embeddings")
    assert count_exchanges(plan) == 0, plan
    for marker in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker


def test_label_cohesion_broadcasts_centroids(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "emb_label_cohesion_embeddings")
    assert "BroadcastHashJoin" in plan, plan


def test_candles_no_window_over_ticks(spark, sf_dir):
    # Bars build via min_by/max_by aggregation (2 shuffles total:
    # (key, day) agg + the day-level pattern window); the tick-level
    # relation must NOT pass through a Window (the row_number idiom
    # would sort every day's ticks).
    plan = plan_of(spark, sf_dir, "ind_candles_events")
    assert count_exchanges(plan) == 2, plan
    # Exactly one Window node — over daily bars, not raw ticks.
    assert plan.count("Window") == 1, plan


def test_session_stats_single_shuffle(spark, sf_dir):
    # Sessionize window + per-session agg + per-user agg all run off
    # one user_id exchange.
    plan = plan_of(spark, sf_dir, "q_session_stats_events")
    assert count_exchanges(plan) == 1, plan


def test_topk_per_user_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_topk_events_per_user")
    assert count_exchanges(plan) == 1, plan


def test_pmi_topk_is_take_ordered(spark, sf_dir):
    # Global top-k must be TakeOrdered (no full sort); unigram sides
    # join by broadcast.
    plan = plan_of(spark, sf_dir, "text_pmi_bigrams_documents")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_label_vote_single_shuffle_broadcast_labels(spark, sf_dir):
    # The vote inherits cosine_topk's shape (broadcast query side) and
    # adds only broadcast label lookup + map-side-combinable agg.
    plan = plan_of(spark, sf_dir, "knn_label_vote_embeddings")
    assert count_exchanges(plan) == 1, plan
    assert "BroadcastHashJoin" in plan, plan


def test_market_share_broadcasts_all_dims(spark, sf_dir):
    # Q8-shape snowflake: customer/nation/region all broadcast; the
    # orders fact reaches the per-year aggregation with only its own
    # final groupBy exchange.
    plan = plan_of(spark, sf_dir, "q_market_share_orders")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert count_exchanges(plan) <= 1, plan


def test_bloom_membership_zero_probe_shuffle_pregroup(spark, sf_dir):
    # The bloom word table broadcasts; the only hash exchanges are the
    # members distinct and the probe-side collapse groupBy.
    plan = plan_of(spark, sf_dir, "bloom_membership_customers")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_market_beta_broadcasts_market_series(spark, sf_dir):
    # The bucket-count-sized portfolio return series and the weights
    # dim must broadcast; only the tick-side aggregations shuffle.
    plan = plan_of(spark, sf_dir, "q_market_beta_events")
    assert "BroadcastHashJoin" in plan, plan
