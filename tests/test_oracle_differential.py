"""Differential gate: every oracle-checkable query, Spark vs DuckDB,
plus the whole-registry plan lints.

This is a local mirror of the driver's t2 correctness check (SURVEY.md
§5.1) at sf0.001 — row count, column names, and order-insensitive values
must all match. Rows-only queries (no oracle) are smoke-run and must
return a well-formed non-erroring DataFrame.

Each key runs once, and the plan lints read the plan of the frame that
just ran (the AQE Final Plan plus its Initial Plan): no registered query
may plan a CartesianProduct — the single worst scale failure (all-pairs
blowup) — any BroadcastNestedLoopJoin must come from a deliberate 1-row /
tiny-literal broadcast (the scalar cross-join pattern), and both a
BroadcastNestedLoopJoin and a global-order Window appear exactly for
their allowlisted keys. A new operator CANNOT ship with an accidental
cartesian, because this gate fails the moment it is registered.
"""

from __future__ import annotations

import pytest

from analyse_the_sky_with_apache_spark_spark import registry
from analyse_the_sky_with_apache_spark_spark.plans.checks import plan_of
from tests.conftest import EXECUTED_PLANS, SF_DIR, assert_matches_oracle

registry.load_all_modules()
_QUERIES = registry.queries()
_ORACLE = registry.oracle_sql()

_CHECKED = sorted(k for k in _QUERIES if k in _ORACLE)
_ROWS_ONLY = sorted(k for k in _QUERIES if k not in _ORACLE)

#: deliberate nested-loop users: 1-row scalar broadcasts (argmax/global
#: aggregates), tiny literal domains, or documented theta demos. Exact
#: both ways: every key here plans a BroadcastNestedLoopJoin in its
#: executed plan (checked at sf0.001 and sf0.01, at 4 and 32 cores).
_BNL_ALLOWED = {
    "join_theta_range", "join_cross", "q11_important_parts",
    "q22_dormant_customers", "text_bm25", "dq_rules_report",
    "text_word_pmi", "text_perplexity", "ts_cross_corr",
    # 1-row scalar broadcasts
    "agg_distinct",  # per-column partial-distinct subplans × 1-row joins
    "corpus_domain_mix_weights",  # 2 global-sum scalars re-broadcast
    "mv_join_maintenance",  # audit row: 1-row full_v × 1-row old_v
    "funnel_unordered",  # 1-row totals × 1-row completion rollup
    "agg_hll_overlap", "ts_seasonal_index", "xmatch_likelihood_ratio",
    "ml_naive_bayes_train", "stat_chi2_independence", "stat_ks_test",
    "corpus_kl_divergence", "basket_rules_confidence", "graph_modularity",
    "graph_louvain_move",
    "ml_target_encoding", "privacy_t_closeness", "retention_decay_fit",
    "ts_decompose_residuals", "ml_psi_drift",
    "ts_cusum_alarm",
    "ts_burst_viterbi",  # 1-row lambda scalar broadcast vs hourly rollup
    "stat_bootstrap_ci",  # 1-row totals × 1-row sorted-means array
    # bounded query batch broadcasts against the member scan (the
    # sim_knn_per_query serving shape; exact-integer distances)
    "ml_ndcg_at_k", "ml_mrr",
    # contingency cells × 1-row marginal/total broadcasts (the
    # stat_chi2_independence scalar shape)
    "stat_cohens_kappa", "stat_cramers_v",
    # deliberate signature-scan product: 1% query side broadcasts as
    # 16-byte signatures against the candidate scan (the binary-ANN
    # design — the product IS the linear scan of compressed codes)
    "emb_bit_hamming",
    # query-batch × candidate scan: the deliberate per-query brute rung
    "sim_knn_per_query",
    # tile-fingerprint pairwise stage: 5 48-bit fingerprints (one per
    # staged FITS tile) compare all-pairs by design; the docstring
    # names the banded (sub-key pigeonhole) join as the survey-scale
    # path, so the nested loop is bounded by the fixture tile count
    "mm_image_ahash",
    # contingency-grid cell-pair scan + 1-row margin broadcasts (work is
    # |domain|², independent of row count)
    "stat_kendall_tau",
    # 1-row total × 1-row mutual-count broadcast
    "graph_reciprocity",
    # 1-row min/max bounds broadcast back onto the scan (two-pass
    # histogram)
    "agg_histogram_equiwidth",
    # 1-row series-mean broadcast onto the collapsed per-day table
    "ts_peak_detection",
    # 1-row high-water-mark broadcast back onto the event scan
    "dq_freshness",
    # 1-row observed-statistic broadcast × 200-row permutation stats
    "stat_permutation_test",
    # four 1-row pass/overlap/verify counters meet in broadcasts
    "dedup_blocking_multipass",
    # 1-row edge/kept/triangle counters meet in broadcasts
    "graph_triangles_doulion",
    # 1-row catalog-size broadcast onto the 3-row bin spine (the
    # Landy-Szalay normalization scalar)
    "sky_two_point_landy_szalay",
    # 3-row quantile literals × the ~|buckets|-row cumulative sketch
    # (the read-off rank pick; work bounded by bucket count, not data)
    "agg_ddsketch_quantile",
    # 5-row tile-footprint interval self-join (header-only relation,
    # |tiles| rows by construction); the docstring names the RA-bucketed
    # interval join (join_interval_overlap) as the survey-scale path
    "sky_tile_overlap_graph",
    # (lightcurve_bls_box / lightcurve_pdm_theta were allowlisted here
    # for their r10 VALUES-grid BroadcastNestedLoop fan-out; the r11
    # explode(array) rewrite removed the nested loop — entries retired)
    # three 1-row scalar broadcasts (grand-median, margins, totals)
    # onto the collapsed value histogram / 5-row group table
    "stat_mood_median",
    # four 1-row scalar broadcasts (exact counts × exact intersection ×
    # theta × below-theta count) meet in the single output row; the
    # sketch-pair probe itself is an equi-join on the hash, and the
    # <=k-row pair table × 1-row theta broadcast is bounded by the
    # sketch size, never the data
    "agg_theta_intersect_kmv",
    # 1-row corpus-stats broadcast onto the pruned query-term postings
    # (the text_bm25 scalar shape, twice — once per fused ranker)
    "retrieval_rrf_fusion",
    # 1-row total LEFT-joined to the <=1-row first-crossing (ON TRUE:
    # a never-crossing stream must still emit the 'continue' row)
    "stat_sprt_sequential",
    # 1-row global (min, max) epoch bounds broadcast onto the scan to
    # derive the fixed bucket grid; the pair join itself is broadcast
    "ts_dtw_distance",
    # 1-row per-round winner broadcast onto the scan for the residual
    # projection (the boosting re-label step)
    "ml_gbt_stump_boost",
    # VALUES period-grid fan-out (the PDM/BLS shape) feeding the
    # phase-sort windows
    "lightcurve_string_length",
    # 9-row Benford VALUES table x 1-row grand-total broadcast
    "dq_benford_firstdigit",
    # 1-row epoch-bounds broadcast deriving the PAA bucket grid (the
    # ts_dtw_distance shape)
    "ts_sax_symbolize",
    # a<=b pair join over the collapsed ~20-row bin table (the minimax
    # isotonic identity is O(|bins|^2) by construction, never row-sized)
    "ml_isotonic_calibration",
    # per-round 1-row winning-pair broadcast onto the |vocab|-row
    # sequence table (the BPE merge step)
    "corpus_bpe_merges",
    # same winner broadcasts, applied over the per-language word-type
    # table
    "text_bpe_apply",
    # 1-row epoch-bounds broadcast (PAA grid) + exclusion-zone pair
    # join over the collapsed ~21-windows-per-series table
    "ts_matrix_profile",
    # dur >= t reverse-cumulative theta join over the collapsed <=31-row
    # duration histogram (the risk-set construction)
    "stat_logrank_test",
    "ml_kaplan_meier",
    # 4-row quantile-spec VALUES table × 1-row total broadcast onto the
    # collapsed dollar-grid histogram (the dq_benford_firstdigit shape)
    "agg_grid_quantiles",
    # 1-row order-count total broadcast for the realized-fraction column
    "ml_train_split_audit",
    # id-capped query/anchor batch broadcasts against the candidate
    # scan (the sim_knn_per_query serving shape; exact-integer scores)
    "sim_rerank_two_stage", "sim_hard_negative_mine",
    # 3-row quantile-spec VALUES fan-out × 1-row total broadcast onto
    # the collapsed $1000-grid histogram (exponential mechanism)
    "privacy_dp_quantile",
    # 8-row trial-period VALUES fan-out against the event scan (the
    # lightcurve_bls_box / ts_spectral_power period-grid shape)
    "lightcurve_lomb_scargle",
    # 1-row source-count broadcast for the per-source budget share
    "corpus_mix_epochs",
    # 1-row OLS-fit / H-statistic / chi2 scalar broadcasts onto
    # collapsed tables (round-8 rank/serial-correlation batch)
    "stat_durbin_watson", "stat_kruskal_wallis", "stat_friedman_test",
    # 10-row decile table x 1-row totals broadcast (the ml_lift_curve
    # scalar shape)
    "ml_brier_decomposition",
    # 10-row checkpoint VALUES x 1-row fit broadcast onto the collapsed
    # per-doc / per-type tables
    "text_heaps_law",
    # 4-row window-size VALUES fan-out + 1-row slope broadcast
    "ts_hurst_rs",
    # lf9 lookup theta-joins are bounded by the COLLAPSED 0..N integer
    # series; cells is a 1-row broadcast (both sides checkpointed)
    "stat_fisher_exact",
    # 1-row final-snapshot stats broadcast onto the 2-row audit report
    "txn_log_wap_publish",
    # 1-row exact-median broadcast onto the collapsed hourly table
    "stat_runs_test",
    # 19-point ventile theta-join against the collapsed value histogram
    "stat_qq_deciles",
    # 4-row fraction-prefix fan-out + broadcast centroid state against
    # the bounded test batch
    "ml_learning_curve",
    # 1-row OLS-fit / gamma scalar broadcasts onto the collapsed
    # hourly pair series
    "ts_cointegration_egr",
    # 1-row trend-fit / SSE scalar broadcasts onto the collapsed
    # per-day table
    "ts_additive_model_fit",
    # 1-row exact-mean broadcast onto the collapsed hourly table
    "stat_ljung_box",
    # tolerance theta self-join over the materialized collapsed
    # template table (pre-bucket by y div r past |T| ~ 1e3, documented)
    "ts_sample_entropy",
    # 1-row counts x materialized lf/grid equi-joins; the 1-row norm
    # rides along every grid row
    "stat_bayes_ab_posterior",
    # 1-row good/bad totals broadcast onto the 10-row decile table
    "ml_woe_iv",
    # 5-row threshold list theta-joined against the degree table
    "graph_rich_club",
    # 1-row true-count x 1-row offset-count scalar product
    "xmatch_offset_false_rate",
    # the shared logrank kernel's 1-row scalar products (same plan as
    # stat_logrank_test, which is windowed-CTE exempt via the kernel)
    "ml_cox_one_step",
    # k(k-1)/2 group pairs x 1-row (N, tie-sum) broadcast (the KW
    # rank-kernel scalar shape)
    "stat_dunn_posthoc",
    # 1-row distinct-type count broadcast (the Friedman kernel shape)
    "stat_page_trend",
    # 3-row 'ALL'-scope estimate rows x 3-row flag-key expansion (the
    # sketch-sized fan-out that lets the data-sized probe stay a
    # broadcast hash EQUI-join)
    "agg_kll_sketch_merge",
    # |days|^2 sign-pair scan over the COLLAPSED daily table plus 1-row
    # S/tie-term broadcasts (the stat_kendall_tau domain-pair shape;
    # docstring documents the O(n log n) merge-count alternative)
    "ts_mann_kendall",
    # 1-row OLS-coefficient and auxiliary-sum broadcasts onto the
    # collapsed |days| table (the residual pass + LM assembly)
    "stat_breusch_pagan",
    # 1-row DF-coefficient broadcast onto the collapsed hourly table
    # (the stat_breusch_pagan residual-pass shape)
    "ts_adf_unitroot",
    # 2-row quantile-forecast broadcast against the collapsed daily
    # table (the pinball scoring join)
    "ml_pinball_loss",
    # 1-row effective-diameter scalar broadcast onto the <=4-row hop
    # histogram
    "graph_effective_diameter",
    # 1-row (N, E) label-total broadcast onto the K-row token shortlist
    "ml_chi2_feature_select",
}


#: keys that deliberately plan a GLOBAL-ORDER Window (unpartitioned
#: ``Window.orderBy``): WindowExec funnels all input rows to ONE
#: partition, so this is only viable on collapsed inputs — per-day/
#: per-group aggregates, bounded shortlists, |distinct-values|-sized
#: relations — and each key's docstring documents the 100-TB
#: alternative (range partitioning + per-partition offsets, two-phase
#: rank, etc.). A NEW operator may not join this list by accident
#: (ADVICE round 3): update it only after checking the window's input
#: is collapsed or the fixture-scale assumption is documented.
_GLOBAL_WINDOW_ALLOWED = {
    "agg_gini_coefficient", "dedup_sorted_neighborhood",
    "dq_volume_anomaly", "interval_open_count", "ml_auc_roc",
    "ml_decision_stump", "rfm_segmentation", "sample_systematic",
    "sky_lognlogs", "skyline_pareto", "slo_burn_rate",
    "stat_ks_test", "stat_mann_whitney", "text_zipf_fit",
    "ts_bollinger_bands", "ts_cusum_alarm", "ts_decompose_residuals",
    # the hour-index ROW_NUMBER runs over the COLLAPSED hourly rollup
    # (|hours| rows) feeding the Viterbi kernel — never raw events
    "ts_burst_viterbi",
    "ts_hampel_filter", "win_pareto_abc", "win_running_distinct",
    "win_decile_spend", "corpus_curriculum_order",
    # BH rank + family-max windows run over |event types| rows (the
    # per-group KS windows are partitioned; only the 5-row step-up is
    # global)
    "stat_benjamini_hochberg",
    # lag window over the daily-counts table (|days| rows, collapsed)
    "ts_granger_lite",
    # lag/lead over the same collapsed per-day table
    "ts_peak_detection",
    # row_number over the collapsed per-day table + lag/lead over the
    # 60-row bucket-stats table
    "ts_downsample_lttb",
    # cumulative windows over the collapsed score-bin table (|bins|
    # bounded by score range, constant in row count)
    "ml_lift_curve",
    # per-round argmax over the collapsed |features|x|bins| histogram
    # (~102 rows, constant in row count)
    "ml_gbt_stump_boost",
    # prefix-sum windows over the collapsed ~20-row score-bin table
    "ml_isotonic_calibration",
    # cumulative window over the collapsed dollar-grid histogram
    # (state bounded by the value domain, constant in SF)
    "agg_grid_quantiles",
    # rank over the ALREADY-BOUNDED k-row TakeOrdered shortlist
    # (k = _DPTK_K = 10 by construction)
    "privacy_dp_topk",
    # cumulative + total windows over the <= _ED_MAX_HOPS(=4)-row hop
    # histogram (bounded by the hop horizon, constant in row count)
    "graph_effective_diameter",
    # two lag windows over the single global event stream — inherent to
    # a whole-process interarrival statistic; the docstring documents
    # the per-series keyed shard (ts_kalman_1d) as the 100-TB form
    "ts_burstiness",
    # same collapsed-histogram cumulative window, $1000 grid
    "privacy_dp_quantile",
    # cumulative-moment prefix sums over the collapsed per-day table
    # (the knot scan input; |days| rows)
    "ts_segmented_trend",
    # LEAD lag-product windows over the same collapsed per-day table
    "ts_pacf_durbin",
    # LAG residual window + cumulative rank window over the collapsed
    # hourly / distinct-value tables (round-8 batch; docstrings carry
    # the 100-TB capping form)
    "stat_durbin_watson", "stat_kruskal_wallis",
    # cumulative decile window over the collapsed score-bin table
    # (the log-factorial window of stat_fisher_exact hides behind its
    # localCheckpoint, so it never reaches this plan audit)
    "ml_brier_decomposition",
    # LAG run-boundary window over the collapsed hourly table
    "stat_runs_test",
    # LAG residual window over the collapsed hourly pair series (x2:
    # the Dickey-Fuller stage re-references it)
    "ts_cointegration_egr",
    # day-index ROW_NUMBER over the collapsed daily rollup (|days|
    # rows) feeding the EWMA kernel — the ts_burst_viterbi shape
    "ts_ewma_crossover",
    # rate-sort + prefix windows over the COLLAPSED |categories| table
    # (7 rows; the data-sized pass is one hash aggregation)
    "ml_categorical_split",
    # day-index ROW_NUMBER over the collapsed nonzero-demand day table
    # feeding the Croston kernel — the ts_ewma_crossover shape
    "ts_croston_intermittent",
    # sequential prefix count over the single global event stream —
    # inherent to a whole-process sequential test; the docstring
    # documents the per-experiment-key shard as the 100-TB form (the
    # ts_burstiness adjudication); the crossing argmin window runs
    # over crossing rows only
    "stat_sprt_sequential",
    # cumulative window over the collapsed distinct-value histogram
    # (the grand-median scan; |distinct deci values| rows)
    "stat_mood_median",
    # cumulative rank window over the merged ~|buckets|-row sketch
    "agg_ddsketch_quantile",
    # two rank windows over the <= |query-term-matching docs| scored
    # tables (IN-filter pruned before any window — the text_bm25 bound)
    "retrieval_rrf_fusion",
    # LAG/FIRST_VALUE forecast features over the collapsed daily table
    # (x3: the method fan-out re-references the window CTE)
    "ts_forecast_backtest",
    # cumulative position window over the COLLAPSED value histogram
    # (pre-bin continuous measures; 2 = cc + the ride-along total)
    "privacy_microaggregation",
    # descending suffix-sum window over the collapsed score-bin table
    # (the lift-curve shape; 2 = suffix + ride-along totals)
    "ml_threshold_sweep",
    # one 5-LEAD window pass over the collapsed hourly table
    "stat_ljung_box",
    # cumulative rank window over the 100-row digit histogram
    "stat_anderson_darling",
    # the KW cumulative rank window over the collapsed ~50-value domain
    "stat_dunn_posthoc",
    # row_number over the k-row treatment table (the j-weights)
    "stat_page_trend",
    # cumulative CDF window over the fixed 9999-row probability grid
    "stat_bayes_ab_posterior",
    # lift-curve-shaped cumulative windows over the collapsed score-bin
    # table (multiplicity = CTE re-expansion of the tiny bin relation)
    "ml_woe_iv",
}


def _global_order_windows(plan: str) -> int:
    """Count Window nodes whose spec is [exprs], [orderSpec] — i.e. an
    ordered window with an EMPTY partition clause. Partition-only
    windows (no order) also print two groups but their second group
    carries no ASC/DESC sort direction. WindowGroupLimit nodes are
    skipped: they print [partition], [order] (two groups even when
    partitioned) and always accompany a Window node that IS
    classified."""
    import re

    n = 0
    for line in plan.splitlines():
        if "WindowGroupLimit" in line:
            continue
        m = re.search(r"\bWindow (\[.*)$", line.strip())
        if not m:
            continue
        groups, depth, cur = [], 0, ""
        for ch in m.group(1):
            if ch == "[":
                if depth == 0:
                    cur = ""
                depth += 1
                if depth == 1:
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(cur)
                    continue
            if depth >= 1:
                cur += ch
        if len(groups) == 2 and (" ASC" in groups[1] or " DESC" in groups[1]):
            n += 1
    return n


def _lint_joins(key: str, plan: str) -> None:
    """No CartesianProduct; a BroadcastNestedLoopJoin exactly when the
    key is allowlisted."""
    assert "CartesianProduct" not in plan, f"{key} plans a cartesian"
    bnl = "BroadcastNestedLoopJoin" in plan
    if bnl and key not in _BNL_ALLOWED:
        pytest.fail(
            f"{key} plans BroadcastNestedLoopJoin but is not in the "
            f"deliberate-BNL whitelist — either fix the join or "
            f"document why the nested loop is bounded"
        )
    if not bnl and key in _BNL_ALLOWED:
        pytest.fail(
            f"{key} no longer plans a BroadcastNestedLoopJoin — drop it "
            f"from _BNL_ALLOWED to keep the inventory exact"
        )


def _lint_windows(key: str, plan: str) -> None:
    """A global-order Window exactly when the key is allowlisted."""
    n = _global_order_windows(plan)
    if n and key not in _GLOBAL_WINDOW_ALLOWED:
        pytest.fail(
            f"{key} plans {n} global-order Window(s) but is not in the "
            f"deliberate allowlist — an unpartitioned ordered window "
            f"funnels every row to one task; partition it, switch to a "
            f"two-phase rank, or document the collapsed-input assumption "
            f"and add the key here"
        )
    if not n and key in _GLOBAL_WINDOW_ALLOWED:
        pytest.fail(
            f"{key} no longer plans a global-order Window — drop it from "
            f"_GLOBAL_WINDOW_ALLOWED to keep the inventory exact"
        )


def _lint_plan(key: str, df) -> None:
    """The three plan lints, on the plan of the frame the test executed.
    The plan is kept in EXECUTED_PLANS for tests/test_plan_sweep.py."""
    plan = EXECUTED_PLANS[key] = plan_of(df, "simple")
    _lint_joins(key, plan)
    _lint_windows(key, plan)


@pytest.mark.parametrize("key", _CHECKED)
def test_matches_oracle(spark, duck, key):
    df = assert_matches_oracle(spark, duck, _QUERIES[key], _ORACLE[key])
    _lint_plan(key, df)


@pytest.mark.parametrize("key", _ROWS_ONLY)
def test_rows_only_runs(spark, key):
    df = _QUERIES[key](spark, SF_DIR)
    rows = df.collect()
    assert rows is not None
    assert len(df.columns) > 0
    _lint_plan(key, df)
