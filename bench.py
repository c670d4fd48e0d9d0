"""Benchmark harness — the driver runs this per-round (BENCH_r{N}.json).

Runs the headline queries (one per BASELINE.md row) from the engine's
registry at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line::

    {"metric": "headline_total", "value": N, "unit": "sec",
     "queries": {"agg_group_basic": sec, ...}, "sf": 0.1,
     "codegen": {"compiles": n, "compile_ms": x}}

Timing = plan construction + execution + collect (warm session, median of
``$SPARK_GRAFT_BENCH_RUNS`` runs, default 3, after 1 warm-up). The first
Spark action in a session pays JVM/codegen startup; the warm-up keeps the
per-query numbers comparable to BASELINE.md, which measured warm medians.
``codegen`` counts the Janino compiles of the timed runs (after the
warm-up): each key's first run compiles its classes, so a count far
above the keys' distinct working set means some key's generated source
changes from build to build, or the codegen class cache evicts.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from analyse_the_sky_with_apache_spark_spark import registry  # noqa: E402
from analyse_the_sky_with_apache_spark_spark.session import get_spark  # noqa: E402

#: headline set — mirrors BASELINE.md's measured rows (same shapes).
#: ``value`` in the output JSON sums ONLY these ten, so it stays
#: comparable to BASELINE.md's total across rounds.
HEADLINE = (
    "agg_group_basic",      # TPC-H Q1 pricing summary
    "join_inner_equi",      # Q3 shipping-priority shape
    "join_multiway",        # Q5 six-table star
    "win_rank_topk",        # window top-N per customer
    "agg_distinct",         # COUNT(DISTINCT) panel
    "agg_tumbling_batch",   # events 1-day tumbling agg
    "fn_json",              # JSON extraction over events.props
    "dedup_exact",          # exact text dedup
    "sim_knn_cosine",       # brute-force cosine kNN (normalized rewrite)
    "set_except",           # EXCEPT over key sets
)

#: one representative per family added after BASELINE.md was measured
#: (VERDICT.md round-1 item 6) — timed and reported in ``queries`` so
#: later rounds see regressions, but excluded from the baseline-
#: comparable ``value`` (their regression reference is BENCH_r02, noted
#: in BASELINE.md's addendum).
EXTENDED = (
    "xmatch_sphere",        # spherical cross-match, binned candidate join
    "dedup_minhash_sql",    # pure-SQL MinHash-LSH near-dup
    "stream_session",       # session windows via streaming replay
    "text_tfidf",           # tf-idf over documents
    # round-3 additions (regression reference: BENCH_r03)
    "q18_large_orders",     # composite workload: semi-join + top-k
    "ts_ohlc_downsample",   # single-agg OHLC downsample over events
    # round-4 additions (regression reference: BENCH_r04)
    "join_bloom_prefilter", # bloom bitmap prefilter before exact semi-join
    "graph_degree_hist",    # co-purchase graph degree distribution
    # round-5 additions (regression reference: BENCH_r05)
    "q6_forecast_revenue",  # the pure-pushdown scan benchmark
    "q21_waiting_suppliers",# double-EXISTS collapsed to one aggregate
    "join_set_similarity",  # prefix-filtered Jaccard set join
    "text_bm25",            # BM25 ranking over documents
    "sky_variability_pipeline",  # shortlist-then-refine variability search
    # round-6 additions (regression reference: BENCH_r03)
    "ml_logreg_irls_stats", # one-agg IRLS sufficient statistics
    "stat_mann_whitney",    # rank-sum test over collapsed value counts
    "graph_label_propagation",  # 2-round deterministic LPA communities
    "text_dup_shingle_fraction",  # cross-doc 8-gram duplication profile
    "emb_matryoshka_recall",  # truncated-dim ANN recall eval
    # round-7 additions (regression reference: BENCH_r04)
    "dedup_incremental_minhash",  # new-batch vs corpus-index band join
    "emb_knn_graph",        # mutual top-3 cosine graph via gemm kernel
    # round-8 additions (regression reference: BENCH_r04)
    "dedup_substring_spans",  # ExactSubstr duplicated-span audit
    "stat_bootstrap_ci",    # deterministic Poisson bootstrap CI
    "corpus_ngram_novelty", # first-occurrence novelty per doc
    # round-9 additions (regression reference: BENCH_r04)
    "dedup_simhash",        # md5 bit-plane fingerprint + pigeonhole bands
    "scan_txn_log_snapshot",# log-replay snapshot scan (txn-log format)
    # driver-round-6 additions (regression reference: BENCH_r06)
    "text_line_dedup",      # corpus-wide repeated-line cut
    "graph_adamic_adar",    # hub-discounted link prediction
    "stat_permutation_test",  # ×200 seeded-coin fan-out, one shuffle
    "text_keyword_rake",    # stopword-delimited phrase keyword scores
    # driver-round-7 additions (regression reference: BENCH_r07)
    "graph_jaccard_similarity",  # wedge-ladder rung, exact-integer score
    "corpus_source_overlap",     # cross-source shingle overlap matrix
    "ml_split_histogram",        # GBT histogram split finding
    "lightcurve_bls_box",        # BLS transit depth scan
    # driver-round-7 session additions (regression reference: BENCH_r07)
    "ts_dtw_distance",           # PAA-reduced integer DTW pair matrix
    "udtf_cogrouped_map",        # cogrouped pandas reconciliation
    "ml_gbt_stump_boost",        # two boosting rounds of histogram stumps
    "lightcurve_pdm_theta",      # PDM variance-ratio period scan
    # driver-round-8 session additions (regression reference: BENCH_r08)
    "sim_rerank_two_stage",      # shortlist-then-rescore retrieval
    "graph_random_walks",        # md5-coin DeepWalk corpus, 3 hops
    "lightcurve_lomb_scargle",   # irregular-sampling periodogram
    "ml_bagged_stumps",          # 8-replica Poisson-bootstrap bagging
    # round-8 late-session additions (regression reference: BENCH_r08)
    "graph_harmonic_closeness",  # 20 BFS trees in one (src,node) frontier
    "dedup_jaro_winkler",        # block-purged JW record linkage kernel
    "stat_bayes_ab_posterior",   # gridded-transcendental Beta integral
    "ml_knn_classify",           # id-capped brute kNN + majority vote
    # driver-round-9 session additions (regression reference: BENCH_r09)
    "graph_betweenness_sampled", # all-integer truncated Brandes
    "agg_kll_sketch_merge",      # quantile sketch merge across a sink
    "scan_fits",                 # pure-Python FITS BINTABLE decode
    "stream_rate_limit",         # maxFilesPerTrigger batch accounting
    "ts_spectral_entropy",       # gridded DFT power entropy
    # round-10 additions (regression reference: BENCH_r10)
    "stream_update_mode_emissions",  # slowest registered key (VERDICT r9)
    # round-11 additions (regression reference: BENCH_r11)
    "sky_healpix_ring",          # RING ang2pix projection + pixel counts
    "kmeans_spherical_round",    # Arrow int64 gemm, per-batch partials
    # round-12 additions (regression reference: BENCH_r12)
    "agg_hll_deterministic",     # engine-owned HLL, register-max merge
    # round-13 additions (regression reference: BENCH_r13) — the top
    # offenders of the r13 full-registry sf0.01 timing sweep (VERDICT
    # r12 item 8), promoted additions-only so they stay visible:
    "stream_join_then_agg",      # stream-stream join -> windowed agg
    "xmatch_mutual_nearest",     # symmetric-best cross-match (r13 rewrite)
    "sky_source_extract",        # FITS threshold + connected components
)


def codegen_totals(spark) -> tuple[int, float]:
    """Janino compiles so far in this JVM and their total milliseconds,
    from Spark's ``CodegenMetrics`` compilation-time histogram (count,
    and mean × count; the mean is over the histogram's sample)."""
    h = (
        spark.sparkContext._jvm.org.apache.spark.metrics.source
        .CodegenMetrics.METRIC_COMPILATION_TIME()
    )
    n = h.getCount()
    return n, h.getSnapshot().getMean() * n


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = None

    spark = get_spark("bench")
    # Silence ONLY WindowExec's single-partition warning: every
    # unpartitioned window in the registry runs over a COLLAPSED
    # aggregate (adjudicated in VERDICT r7 — per-day rollups, ECDF
    # tables, fixed grids), so the ~100 repeats drown real warnings in
    # the driver's captured tail. Other loggers keep their levels.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # noqa: BLE001 — cosmetic; never fail the bench
        pass
    qs = registry.queries()

    # warm-up: JVM + codegen + parquet footer caches
    qs["agg_group_basic"](spark, sf_dir).collect()

    compiles0, compile_ms0 = codegen_totals(spark)
    per_query: dict[str, float] = {}
    for key in HEADLINE + EXTENDED:
        fn = qs[key]
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            samples.append(time.perf_counter() - t0)
        per_query[key] = round(statistics.median(samples), 4)
    compiles, compile_ms = codegen_totals(spark)

    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": round(sum(per_query[k] for k in HEADLINE), 4),
                "unit": "sec",
                "queries": per_query,
                "extended_total": round(
                    sum(per_query[k] for k in EXTENDED), 4
                ),
                "sf": sf,
                "codegen": {
                    "compiles": compiles - compiles0,
                    "compile_ms": round(compile_ms - compile_ms0, 1),
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
