"""GENERATED by tools/gen_window.py — do NOT edit by hand.

``REGATE_WINDOW`` is the gate-window rotation plan (VERDICT r11 item
3): ungated/regressed queries first (they must gate this round), then
the pairs whose latest green driver CORRECTNESS row is OLDEST, until
the window is full. ``plans.registry._collect`` fronts these names so
the driver's 50-row gate re-verifies the stalest rows each round.
Regenerate (after tools/gen_gated.py) when a CORRECTNESS file lands.

``SOURCE_FILES`` mirrors plans/_gated.py's staleness protocol: the
rotation test regenerates against THESE files only, so a strictly
newer round's CORRECTNESS file landing after the round closes warns
instead of failing a fresh clone.
"""

REGATE_WINDOW = (
    "ind_trix_events",
    "link_customers_fuzzy",
    "micro_amihud_events",
    "micro_flow_imbalance_events",
    "micro_roll_spread_events",
    "micro_volume_poc_events",
    "q_anomaly_mad_events",
    "q_arrival_burstiness_events",
    "q_changepoint_cusum_events",
    "q_cohort_ltv_orders",
    "q_custdist_orders",
    "q_gini_orders",
    "q_hhi_nation_orders",
    "q_lorenz_deciles_orders",
    "q_market_beta_events",
    "q_market_share_orders",
    "q_pairwise_corr_events",
    "q_portfolio_returns_events",
    "q_seasonality_events",
    "q_wau_hll_events",
    "q_yoy_growth_orders",
    "risk_dd_episodes_events",
    "risk_sortino_events",
    "risk_ulcer_events",
    "risk_var_cvar_events",
    "semantic_neardup_verified",
    "str_editdist_suppliers",
    "text_lang_confusion_documents",
    "text_rake_keywords_documents",
    "validate_fk_orphans_orders",
    "wq_weighted_iqr_lineitem",
    "wq_weighted_median_lineitem",
    "asof_events_snapshots_nearest",
    "asof_events_snapshots_tol",
    "dedup_cluster_sizes_documents",
    "dq_ks_two_sample_events",
    "dq_null_profile_orders",
    "dq_psi_drift_events",
    "emb_label_separation_embeddings",
    "emb_pca_power_embeddings",
    "graph_copurchase_parts",
    "graph_degree_customers",
    "graph_pagerank_nations",
    "hist_equidepth_lineitem",
    "ind_chandelier_events",
    "ind_elder_ray_events",
    "ind_fractals_events",
    "ind_hull_ma_events",
    "ind_kama_events",
    "ind_vortex_events",
)

SOURCE_FILES = (
    "CORRECTNESS_r01.json",
    "CORRECTNESS_r02.json",
    "CORRECTNESS_r03.json",
    "CORRECTNESS_r04.json",
    "CORRECTNESS_r05.json",
    "CORRECTNESS_r06.json",
    "CORRECTNESS_r07.json",
    "CORRECTNESS_r08.json",
    "CORRECTNESS_r09.json",
    "CORRECTNESS_r10.json",
    "CORRECTNESS_r11.json",
    "CORRECTNESS_r12.json",
    "CORRECTNESS_r13.json",
    "CORRECTNESS_r14.json",
)

# 50 slots
