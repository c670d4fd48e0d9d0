"""Data-quality operators: table profiling and statistical outlier flags.

The intake steps of a training-data pipeline before anything else runs:
profile every ingested column (row/null/distinct counts, bounds) and
flag statistical outliers per entity. Both are single-pass relational
plans with exact-integer cores so they hash-verify against the DuckDB
oracle (SURVEY.md §5.3 discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, local_frame
from ..functions.exact import grid, grid_sql, md5_int, md5_int_sql
from ..registry import register

#: profiled columns of ``orders`` and how min/max canonicalize to a
#: string that renders identically in every engine: integers verbatim,
#: doubles via exact cents (never engine float-to-string formatting).
_PROFILE_COLS = (
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "cents"),
)


def _canon_str(col, kind: str):
    c = F.col(col)
    if kind == "cents":
        return F.round(c * 100.0).cast("long").cast("string")
    return c.cast("string")


@register(
    "profile_table",
    oracle="""
SELECT 'o_orderkey' AS column_name, COUNT(*) AS n_rows,
       COUNT(o_orderkey) AS n_nonnull,
       COUNT(DISTINCT o_orderkey) AS n_distinct,
       CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
       CAST(MAX(o_orderkey) AS VARCHAR) AS max_s
FROM orders
UNION ALL
SELECT 'o_custkey', COUNT(*), COUNT(o_custkey), COUNT(DISTINCT o_custkey),
       CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*), COUNT(o_orderstatus),
       COUNT(DISTINCT o_orderstatus),
       CAST(MIN(o_orderstatus) AS VARCHAR),
       CAST(MAX(o_orderstatus) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_totalprice', COUNT(*), COUNT(o_totalprice),
       COUNT(DISTINCT o_totalprice),
       CAST(CAST(ROUND(MIN(o_totalprice)*100.0) AS BIGINT) AS VARCHAR),
       CAST(CAST(ROUND(MAX(o_totalprice)*100.0) AS BIGINT) AS VARCHAR)
FROM orders
""",
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of a table in long format — the ingest health check
    (row count, null count, exact distinct count, bounds per column).

    ONE aggregation over the table computes every metric for every
    profiled column simultaneously (no per-column scans — the oracle's
    UNION-ALL formulation rescans; ours does not), then a literal-array
    ``inline`` unpivots the single metrics row into one row per column.
    Bounds canonicalize to strings via exact integers (cents for
    doubles), never engine float formatting, so the hash is stable.

    Scale: exact COUNT(DISTINCT) over K columns Expand-multiplies input
    ×K before the partial agg — the documented 100-TB swap is
    ``approx_count_distinct`` (HLL++, constant-size partials) with
    everything else unchanged; the plan shape is otherwise one
    partial→final aggregate regardless of table size.
    """
    od = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for col, kind in _PROFILE_COLS:
        aggs += [
            F.count(col).alias(f"nn_{col}"),
            F.countDistinct(col).alias(f"nd_{col}"),
            F.min(col).alias(f"mn_{col}"),
            F.max(col).alias(f"mx_{col}"),
        ]
    one = od.agg(*aggs)
    entries = ", ".join(
        f"struct('{col}' AS column_name, n_rows, nn_{col} AS n_nonnull, "
        f"nd_{col} AS n_distinct, mn_c_{col} AS min_s, mx_c_{col} AS max_s)"
        for col, _ in _PROFILE_COLS
    )
    canon = one.select(
        "*",
        *[
            _canon_str(f"mn_{col}", kind).alias(f"mn_c_{col}")
            for col, kind in _PROFILE_COLS
        ],
        *[
            _canon_str(f"mx_{col}", kind).alias(f"mx_c_{col}")
            for col, kind in _PROFILE_COLS
        ],
    )
    return canon.select(F.expr(f"inline(array({entries}))"))


@register(
    "anomaly_zscore",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, value,
         CAST(ROUND(value*100.0) AS BIGINT) AS cv
  FROM events
), s AS (
  SELECT event_id, user_id, value, cv,
         COUNT(*) OVER w AS n,
         CAST(SUM(cv) OVER w AS BIGINT) AS s,
         CAST(SUM(cv*cv) OVER w AS BIGINT) AS q
  FROM e
  WINDOW w AS (PARTITION BY user_id)
)
SELECT event_id, user_id, value, n,
       (CAST(cv*n - s AS DOUBLE) * SQRT(CAST(n*(n-1) AS DOUBLE)))
       / (CAST(n AS DOUBLE)
          * SQRT(CAST(n AS DOUBLE)*q - CAST(s AS DOUBLE)*s)) AS z
FROM s
WHERE n >= 30 AND CAST(n AS DOUBLE)*q - CAST(s AS DOUBLE)*s > 0
  AND ABS((CAST(cv*n - s AS DOUBLE) * SQRT(CAST(n*(n-1) AS DOUBLE)))
          / (CAST(n AS DOUBLE)
             * SQRT(CAST(n AS DOUBLE)*q - CAST(s AS DOUBLE)*s))) > 3.0
""",
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity statistical outliers: events whose value sits more than
    3 sample standard deviations from the entity's own mean — the
    data-quality flag a pipeline runs before training on a metric.

    The z-score is algebraically rearranged onto an exact-integer core:
    with cents ``cv`` and per-entity exact sums ``s = Σcv``,
    ``q = Σcv²``, the score is
    ``(cv·n − s)·√(n(n−1)) / (n·√(nq − s²))``. The window sums s, q are
    exact BIGINTs; the variance term ``n·q − s²`` is then evaluated in
    DOUBLE (``double(n)·q − double(s)·s``) because the BIGINT product
    n·q overflows 2⁶³ once n·cv² ≳ 9e18 (n ≈ 1e4 entities of 1e4-cent
    values already get close). Every float op is the same deterministic
    IEEE sequence in both engines, so results stay bit-identical; at
    fixture scale the doubles are exact (all inputs < 2⁵³). Remaining
    integer bound, documented not fixed: ``cv·n`` requires
    n·cv < 2⁶³ ≈ 9.2e18 — safe past a trillion rows per entity at
    1e6-cent values.

    Scale: one shuffle on the entity key; the full-partition window
    carries three integer accumulators per entity. Entities with n < 30
    or zero variance are excluded (no z is defined there).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        F.round(F.col("value") * 100.0).cast("long").alias("cv"),
    )
    w = Window.partitionBy("user_id")
    st = ev.select(
        "event_id",
        "user_id",
        "value",
        "cv",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("cv").over(w).alias("s"),
        F.sum(F.col("cv") * F.col("cv")).over(w).alias("q"),
    )
    num = (F.col("cv") * F.col("n") - F.col("s")).cast("double") * F.sqrt(
        (F.col("n") * (F.col("n") - 1)).cast("double")
    )
    var_term = (
        F.col("n").cast("double") * F.col("q")
        - F.col("s").cast("double") * F.col("s")
    )
    den = F.col("n").cast("double") * F.sqrt(var_term)
    z = (num / den).alias("z")
    return (
        st.where((F.col("n") >= 30) & (var_term > 0))
        .select("event_id", "user_id", "value", "n", z)
        .where(F.abs(F.col("z")) > 3.0)
    )


@register(
    "dq_rules_report",
    oracle="""
SELECT 'lineitem.l_quantity.not_null' AS rule,
       CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations, COUNT(*) AS n_checked
FROM lineitem
UNION ALL
SELECT 'lineitem.l_quantity.range_1_50',
       CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                     THEN 1 ELSE 0 END) AS BIGINT), COUNT(*)
FROM lineitem
UNION ALL
SELECT 'lineitem.l_discount.range_0_1',
       CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
                     THEN 1 ELSE 0 END) AS BIGINT), COUNT(*)
FROM lineitem
UNION ALL
SELECT 'lineitem.l_returnflag.domain',
       CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R')
                     THEN 1 ELSE 0 END) AS BIGINT), COUNT(*)
FROM lineitem
UNION ALL
SELECT 'lineitem.l_orderkey.fk_orders',
       CAST(COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT),
       COUNT(*)
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
""",
)
def dq_rules_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality rule report — the dbt-test /
    expectations shape: each rule contributes (rule, n_violations,
    n_checked) and a pipeline gates on violations == 0. The four
    single-table rules (not-null, two ranges, domain membership)
    compile to conditional sums in ONE scan-shaped aggregation each —
    Spark computes them over a single pass via one aggregate with four
    filtered sums, then unpivots to the long report (the oracle states
    the per-rule UNION form); the referential rule is one left-anti
    count against the parent key. Adding a rule adds a column to the
    wide aggregate — never another scan. At 100 TB the report is the
    cheapest full-table pass there is: no shuffle except the 1-row
    aggregates and the FK join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    wide = li.agg(
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("r_null"),
        F.sum(
            ((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).cast(
                "long"
            )
        ).alias("r_qty"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).cast(
                "long"
            )
        ).alias("r_disc"),
        F.sum(
            (~F.col("l_returnflag").isin("A", "N", "R")).cast("long")
        ).alias("r_dom"),
        F.count(F.lit(1)).alias("n"),
    )
    single = wide.selectExpr(
        """stack(4,
           'lineitem.l_quantity.not_null', r_null,
           'lineitem.l_quantity.range_1_50', r_qty,
           'lineitem.l_discount.range_0_1', r_disc,
           'lineitem.l_returnflag.domain', r_dom) AS (rule, n_violations)""",
        "n AS n_checked",
    )
    orphans = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .crossJoin(li.agg(F.count(F.lit(1)).alias("n_checked")))
        .select(
            F.lit("lineitem.l_orderkey.fk_orders").alias("rule"),
            "n_violations",
            "n_checked",
        )
    )
    return single.unionByName(orphans)


@register(
    "table_checksum",
    oracle=f"""
SELECT COUNT(*) AS n_rows,
       CAST(SUM({md5_int_sql(
              "CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|' || "
              f"CAST({grid_sql('o_totalprice', 2)} AS VARCHAR)",
              1, 12)})
            % 4611686018427387904 AS BIGINT) AS content_checksum
FROM orders
""",
)
def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table content checksum — the migration /
    replication validator: serialize each row canonically (exact cents
    for doubles — float formatting is engine-specific), hash it, and
    SUM a 48-bit slice of the digest modulo 2⁶² (addition commutes, so
    any partitioning or row order yields the same checksum). The sum
    accumulates in DECIMAL(38,0) — exact to ~10³⁸, i.e. ~10²³ rows of
    48-bit terms — because a long accumulator overflows past ~32 000
    rows × 2⁴⁸ (the sf0.1 lesson: DuckDB's HUGEINT kept going while a
    BIGINT cast blew up; under ANSI mode Spark's long sum would have
    thrown instead). Two tables agree iff (n_rows, checksum) agree, up
    to astronomically unlikely collisions. This is the engine's own
    oracle-gate idea turned into a first-class operator: at 100 TB the
    checksum is one scan + a 1-row aggregate, the cheapest possible
    cross-system consistency proof.
    """
    o = load_table(spark, sf_dir, "orders")
    row_ser = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        grid("o_totalprice", 2).cast("string"),
    )
    h48 = md5_int(row_ser, 1, 12)
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum(h48.cast("decimal(38,0)")) % F.lit(1 << 62))
        .cast("long")
        .alias("content_checksum"),
    )


@register(
    "dq_referential_integrity",
    oracle="""
SELECT 'orders.o_custkey->customer' AS fk,
       CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans,
       COUNT(*) AS n_checked
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
UNION ALL
SELECT 'lineitem.l_orderkey->orders',
       CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(*)
FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
UNION ALL
SELECT 'lineitem.l_partkey->part',
       CAST(SUM(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(*)
FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
       CAST(SUM(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(*)
FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
""",
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: orphan
    counts for every foreign-key edge (orders→customer,
    lineitem→{orders, part, supplier}) — the check a lakehouse runs
    after every load, because parquet enforces no constraints and a
    broken FK silently turns inner joins into row loss downstream.

    Each edge is ONE left join whose probe side is scanned once, with
    the orphan test as a conditional sum (never a separate anti-join
    pass per edge); dimension sides broadcast. A 100-TB deployment
    runs exactly this plan per edge and alerts on n_orphans > 0; the
    fixture's clean 0s are still hash-verified values, and n_checked
    pins that the whole table was audited.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey")

    def edge(probe, key, dim, dim_key, name):
        j = probe.join(F.broadcast(dim), key == dim_key, "left")
        return j.agg(
            F.lit(name).alias("fk"),
            F.sum(dim_key.isNull().cast("long")).alias("n_orphans"),
            F.count(F.lit(1)).alias("n_checked"),
        ).select("fk", "n_orphans", "n_checked")

    return (
        edge(o, F.col("o_custkey"), c, F.col("c_custkey"),
             "orders.o_custkey->customer")
        .unionAll(edge(li, F.col("l_orderkey"), o.select("o_orderkey"),
                       F.col("o_orderkey"), "lineitem.l_orderkey->orders"))
        .unionAll(edge(li, F.col("l_partkey"), p, F.col("p_partkey"),
                       "lineitem.l_partkey->part"))
        .unionAll(edge(li, F.col("l_suppkey"), s, F.col("s_suppkey"),
                       "lineitem.l_suppkey->supplier"))
    )


@register(
    "emb_drift_monitor",
    oracle=f"""
WITH ex AS (
  SELECT label, vec_id % 2 AS half, i - 1 AS dim,
         CAST(embedding[i::INT] AS DOUBLE) AS v
  FROM embeddings, range(1, 65) t(i)
),
cent AS (
  SELECT label, dim,
         CAST(SUM(CASE WHEN half = 0 THEN
                {grid_sql('v', 6)} ELSE 0 END)
              AS DOUBLE) / 1000000.0
           / SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS ca,
         CAST(SUM(CASE WHEN half = 1 THEN
                {grid_sql('v', 6)} ELSE 0 END)
              AS DOUBLE) / 1000000.0
           / SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS cb
  FROM ex GROUP BY label, dim
)
SELECT label,
       CAST(SUM({grid_sql('(ca - cb) * (ca - cb)', 9)}) AS DOUBLE) / 1000000000.0
         AS drift_sq
FROM cent GROUP BY label
""",
)
def emb_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitoring: per label, the squared distance
    between the class centroid of two snapshot halves (vec_id parity
    plays old-batch vs new-batch) — the production check that an
    upstream encoder or data shift hasn't moved the embedding space
    (retrieval indexes and classifiers silently rot when it does).

    ONE pass computes both centroids: the halves are conditional
    scaled-long sums inside the same (label, dim) aggregation — never
    two scans or a self-join of snapshots. The per-dim squared
    difference is computed from exact-derived doubles and floor-gridded
    to nano-units so the 64-term sum is an exact long (no ordered
    float accumulation). At 100 TB the shuffle carries
    |labels| × 64 partial rows; everything else is map-side.
    """
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("dim", "v"),
    )
    micro = grid(F.col("v").cast("double"), 6)
    half0 = F.when(F.col("half") == 0, micro).otherwise(F.lit(0))
    half1 = F.when(F.col("half") == 1, micro).otherwise(F.lit(0))
    cnt0 = F.sum((F.col("half") == 0).cast("long"))
    cnt1 = F.sum((F.col("half") == 1).cast("long"))
    cent = ex.groupBy("label", "dim").agg(
        (F.sum(half0).cast("double") / F.lit(1e6) / cnt0).alias("ca"),
        (F.sum(half1).cast("double") / F.lit(1e6) / cnt1).alias("cb"),
    )
    diff_sq = (F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))
    nano = grid(diff_sq, 9)
    return cent.groupBy("label").agg(
        (F.sum(nano).cast("double") / F.lit(1e9)).alias("drift_sq")
    )


@register(
    "privacy_k_anonymity",
    oracle="""
WITH eq AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_size
  FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT c_nationkey, c_mktsegment, class_size,
       CASE WHEN class_size < 5 THEN 1 ELSE 0 END AS at_risk
FROM eq
""",
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier pair
    (nation, market segment): every equivalence class with its size,
    flagging classes below k=5 — records in those classes are
    re-identifiable by joining the "anonymized" release against any
    external table carrying the same quasi-identifiers, which is the
    attack k-anonymity measures. The release gate a privacy review
    runs before sharing a dataset; the fix (suppress or generalize the
    flagged classes) is a filter/replace on exactly these rows.

    One hash aggregation on the quasi-identifier tuple — group count
    partials combine map-side, so the audit costs one |classes|-row
    shuffle at any data size; the k threshold is an integer compare.
    """
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("class_size"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "class_size",
            F.when(F.col("class_size") < 5, 1).otherwise(0).alias("at_risk"),
        )
    )


@register(
    "slo_burn_rate",
    oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour,
         COUNT(*) AS n,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_err
  FROM events GROUP BY 1
),
rolled AS (
  SELECT hour, n, n_err,
         CAST(SUM(n) OVER w AS BIGINT) AS n_6h,
         CAST(SUM(n_err) OVER w AS BIGINT) AS err_6h
  FROM hourly
  WINDOW w AS (ORDER BY hour ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
)
SELECT hour, n, n_err,
       CAST(err_6h AS DOUBLE) / n_6h AS rate_6h,
       CASE WHEN err_6h * 5 > n_6h THEN 1 ELSE 0 END AS burn_alert
FROM rolled
""",
)
def slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO burn-rate monitoring (the SRE multiwindow alert shape): per
    hour, the error count and the rolling 6-hour error rate, alerting
    when the 6-hour rate exceeds 20% — i.e. the error budget is
    burning faster than the availability target tolerates.

    Scale: the raw stream collapses to HOURLY partials first (map-side
    combine; the shuffle carries hours, not events), and the rolling
    window runs over that tiny series — a global time-ordered window
    over hours is fine at any data volume because there are only 8 760
    of them a year. The alert cut is the cross-multiplied integer
    inequality `5·err > n`, so membership never touches a float.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("n_err"),
    )
    w = Window.orderBy("hour").rowsBetween(-5, Window.currentRow)
    rolled = hourly.select(
        "hour",
        "n",
        "n_err",
        F.sum("n").over(w).alias("n_6h"),
        F.sum("n_err").over(w).alias("err_6h"),
    )
    return rolled.select(
        "hour",
        "n",
        "n_err",
        (F.col("err_6h").cast("double") / F.col("n_6h")).alias("rate_6h"),
        F.when(F.col("err_6h") * 5 > F.col("n_6h"), 1).otherwise(0).alias(
            "burn_alert"
        ),
    )


@register(
    "anomaly_mad",
    oracle="""
WITH med AS (
  SELECT user_id, quantile_disc(value, 0.5) AS med,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id
),
mad AS (
  SELECT e.user_id, quantile_disc(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m USING (user_id)
  GROUP BY e.user_id
)
SELECT e.event_id, e.user_id, e.value,
       ROUND(abs(e.value - m.med) / (1.4826 * d.mad), 4) AS rob_z
FROM events e
JOIN med m USING (user_id)
JOIN mad d USING (user_id)
WHERE m.n >= 30 AND d.mad > 0
  AND abs(e.value - m.med) / (1.4826 * d.mad) > 3.0
""",
)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier flags by median absolute deviation — the
    breakdown-resistant sibling of `anomaly_zscore` (a mean/stddev
    z-score is itself dragged by the outliers it hunts; the median/MAD
    pair has a 50% breakdown point). Two grouped exact quantiles
    (per-entity median, then median of absolute deviations), joined
    back; a row is anomalous when |v - med| exceeds 3 consistency-
    scaled MADs (1.4826 ≈ 1/Φ⁻¹(3/4) makes MAD estimate σ under
    normality).

    Both medians are DISCRETE (`percentile_disc` ↔ `quantile_disc`,
    the proven `agg_percentile_disc` pairing): each is an actual datum
    (or an exact |difference| of two data), so no interpolated-quantile
    float parity underlies the unrounded ``> 3.0`` accept test — both
    engines divide and compare bit-identical doubles (ADVICE round 3;
    for an odd-sized sample the discrete and continuous medians
    coincide anyway, and MAD's breakdown properties are unchanged).
    Only the reported score is 4dp-rounded. Per-entity quantile buffers
    are bounded by entity cardinality (the `agg_median_exact` scale
    note: huge groups move to the sketch rung). Three passes keyed on
    the same entity column — one exchange, reused.
    """
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("user_id").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
        .alias("med"),
        F.count(F.lit(1)).alias("n"),
    )
    mad = (
        ev.join(med.select("user_id", "med"), "user_id")
        .groupBy("user_id")
        .agg(
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(value - med))"
            ).alias("mad")
        )
    )
    j = (
        ev.join(F.broadcast(med), "user_id")
        .join(F.broadcast(mad), "user_id")
        .where((F.col("n") >= 30) & (F.col("mad") > 0))
    )
    score = F.abs(F.col("value") - F.col("med")) / (
        F.lit(1.4826) * F.col("mad")
    )
    return j.where(score > 3.0).select(
        "event_id",
        "user_id",
        "value",
        F.round(score, 4).alias("rob_z"),
    )


@register(
    "privacy_l_diversity",
    oracle="""
WITH rel AS (
  SELECT c_nationkey, c_mktsegment,
         CASE WHEN c_acctbal < 0 THEN 'debt'
              WHEN c_acctbal < 5000 THEN 'mid'
              ELSE 'high' END AS balance_band
  FROM customer
),
eq AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS class_size,
         CAST(COUNT(DISTINCT balance_band) AS BIGINT) AS l_distinct
  FROM rel GROUP BY c_nationkey, c_mktsegment
)
SELECT c_nationkey, c_mktsegment, class_size, l_distinct,
       CASE WHEN l_distinct < 3 THEN 1 ELSE 0 END AS at_risk
FROM eq
""",
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the attack k-anonymity misses: a class can
    be large (k-anonymous) yet have every member share the SAME
    sensitive value, so membership alone discloses it (homogeneity
    attack). Per quasi-identifier class (nation, segment), count the
    DISTINCT sensitive values (banded account balance) and flag
    classes with fewer than l = 3 — the release gate that runs
    alongside `privacy_k_anonymity` on the same grouping.

    Same single-aggregation shape as the k-audit (the distinct count
    adds one Expand pass over the class key); the sensitive banding is
    a deterministic CASE on exact comparisons, and every output column
    is integer. Generalizing the fix: suppress flagged classes or
    coarsen the band edges until l holds.
    """
    c = load_table(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    eq = (
        c.select("c_nationkey", "c_mktsegment", band.alias("balance_band"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.countDistinct("balance_band").alias("l_distinct"),
        )
    )
    return eq.select(
        "c_nationkey",
        "c_mktsegment",
        "class_size",
        "l_distinct",
        F.when(F.col("l_distinct") < 3, 1).otherwise(0).alias("at_risk"),
    )


@register(
    "dq_volume_anomaly",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
w AS (
  SELECT day, c,
         CAST(SUM(c) OVER tw AS BIGINT) AS s1,
         CAST(SUM(c * c) OVER tw AS BIGINT) AS s2,
         CAST(COUNT(*) OVER tw AS BIGINT) AS n
  FROM daily
  WINDOW tw AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT day, c, n AS n_ref,
       ROUND((c - CAST(s1 AS DOUBLE) / n)
             / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                    / (n - 1.0)), 4) AS vol_z
FROM w
WHERE n >= 5
  AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) > 0
  AND abs((c - CAST(s1 AS DOUBLE) / n)
          / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                 / (n - 1.0))) > 2.0
""",
)
def dq_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-volume anomaly monitor: each day's event count scored
    against the TRAILING week's mean/std (the current day excluded
    from its own reference — the standard leave-one-out monitoring
    window), flagging |z| > 2 days. This is the pipeline-health dual
    of `anomaly_zscore`'s per-entity outliers: a day with doubled or
    halved volume means an upstream feed broke, regardless of whether
    any single record is anomalous.

    The rolling moment sums ride ONE window over the collapsed daily
    table (|days| rows — nothing data-sized is windowed); mean/std are
    closed-form doubles over the exact integer (n, Σc, Σc²) triple per
    row, the accept test runs on the unrounded shared expression, and
    only the reported z is 4dp-rounded.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    tw = Window.orderBy("day").rowsBetween(-7, -1)
    w = daily.select(
        "day",
        "c",
        F.sum("c").over(tw).alias("s1"),
        F.sum(F.col("c") * F.col("c")).over(tw).alias("s2"),
        F.count(F.lit(1)).over(tw).alias("n"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n")
    ) / (F.col("n") - F.lit(1.0))
    z = (F.col("c") - mean) / F.sqrt(var)
    return (
        w.where(
            (F.col("n") >= 5)
            & (
                (
                    F.col("s2").cast("double")
                    - F.col("s1").cast("double") * F.col("s1") / F.col("n")
                )
                > 0
            )
            & (F.abs(z) > 2.0)
        )
        .select(
            "day",
            "c",
            F.col("n").alias("n_ref"),
            F.round(z, 4).alias("vol_z"),
        )
    )


@register(
    "dq_partition_skew",
    oracle="""
WITH p AS (
  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS part_key,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM orders GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_partitions,
       CAST(SUM(n_rows) AS BIGINT) AS total_rows,
       CAST(MIN(n_rows) AS BIGINT) AS min_rows,
       CAST(MAX(n_rows) AS BIGINT) AS max_rows,
       CAST(MAX(n_rows) AS DOUBLE) * COUNT(*) / SUM(n_rows)
         AS skew_factor
FROM p
""",
)
def dq_partition_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-layout skew audit: row counts per would-be partition
    key (order month), summarized as max/mean skew factor — the
    pre-flight a 100-TB pipeline runs BEFORE `sink_partitioned`
    commits to a layout (a skew factor of 8 means the largest
    partition is 8× the average: one straggler task per downstream
    stage, the problem `agg_salted_twophase`/`join_skew_salted` then
    have to fix at read time). Two tiny aggregations; the skew factor
    is a ratio of exact longs.
    """
    o = load_table(spark, sf_dir, "orders")
    p = o.groupBy(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias(
            "part_key"
        )
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    return p.agg(
        F.count(F.lit(1)).alias("n_partitions"),
        F.sum("n_rows").alias("total_rows"),
        F.min("n_rows").alias("min_rows"),
        F.max("n_rows").alias("max_rows"),
        (
            F.max("n_rows").cast("double")
            * F.count(F.lit(1))
            / F.sum("n_rows")
        ).alias("skew_factor"),
    )


#: t-closeness threshold: classes whose ordered-EMD to the global
#: sensitive distribution exceeds this leak attribute information.
_T_CLOSE = 0.2


@register(
    "privacy_t_closeness",
    oracle=f"""
WITH rel AS (
  SELECT c_nationkey, c_mktsegment,
         CASE WHEN c_acctbal < 0 THEN 0
              WHEN c_acctbal < 5000 THEN 1
              ELSE 2 END AS band
  FROM customer
),
cls AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN band <= 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS c0,
         CAST(SUM(CASE WHEN band <= 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS c1
  FROM rel GROUP BY c_nationkey, c_mktsegment
),
gl AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS gn,
         CAST(SUM(CASE WHEN band <= 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS g0,
         CAST(SUM(CASE WHEN band <= 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS g1
  FROM rel
)
SELECT c_nationkey, c_mktsegment, n,
       (abs(CAST(c0 AS DOUBLE) / n - CAST(g0 AS DOUBLE) / gn)
        + abs(CAST(c1 AS DOUBLE) / n - CAST(g1 AS DOUBLE) / gn)) / 2.0
         AS t_emd,
       CASE WHEN (abs(CAST(c0 AS DOUBLE) / n - CAST(g0 AS DOUBLE) / gn)
                  + abs(CAST(c1 AS DOUBLE) / n
                        - CAST(g1 AS DOUBLE) / gn)) / 2.0 > {_T_CLOSE}
            THEN 1 ELSE 0 END AS at_risk
FROM cls CROSS JOIN gl
""",
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third rung of the anonymization ladder
    (`privacy_k_anonymity` counts class sizes, `privacy_l_diversity`
    counts distinct sensitive values; t-closeness bounds how much a
    class's sensitive DISTRIBUTION deviates from the global one — a
    class can be large AND diverse yet still 90% 'debt', leaking
    near-certain inference). For the ordered 3-band balance attribute
    the Earth-Mover's Distance reduces to the mean absolute gap of
    the cumulative distributions over the m-1 interior cuts.

    Cumulative band counts come from the same single aggregation as
    the class sizes (CASE sums — no second pass), the global
    distribution is a 1-row broadcast, and every EMD term is a ratio
    of exact longs through the identical IEEE tree. Classes with
    t > 0.2 flag for suppression/generalization.
    """
    c = load_table(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, 0)
        .when(F.col("c_acctbal") < 5000, 1)
        .otherwise(2)
    )
    rel = c.select("c_nationkey", "c_mktsegment", band.alias("band"))
    cls = rel.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("band") <= 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("band") <= 1, 1).otherwise(0)).alias("c1"),
    )
    glob = rel.agg(
        F.count(F.lit(1)).alias("gn"),
        F.sum(F.when(F.col("band") <= 0, 1).otherwise(0)).alias("g0"),
        F.sum(F.when(F.col("band") <= 1, 1).otherwise(0)).alias("g1"),
    )
    emd = (
        F.abs(
            F.col("c0").cast("double") / F.col("n")
            - F.col("g0").cast("double") / F.col("gn")
        )
        + F.abs(
            F.col("c1").cast("double") / F.col("n")
            - F.col("g1").cast("double") / F.col("gn")
        )
    ) / F.lit(2.0)
    return cls.crossJoin(F.broadcast(glob)).select(
        "c_nationkey",
        "c_mktsegment",
        "n",
        emd.alias("t_emd"),
        F.when(emd > _T_CLOSE, 1).otherwise(0).alias("at_risk"),
    )


#: dq_freshness staleness threshold (minutes behind the newest event).
_FRESH_STALE_MIN = 1440


@register(
    "dq_freshness",
    oracle="""
WITH hw AS (
  SELECT MAX(epoch_us(ts)) AS gmax FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(epoch_us(ts)) AS BIGINT) AS max_ts_us,
       CAST((gmax - MAX(epoch_us(ts))) // 60000000 AS BIGINT)
         AS lag_minutes,
       CAST(SUM(CASE WHEN gmax - epoch_us(ts) < 86400000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_last_day,
       (gmax - MAX(epoch_us(ts))) // 60000000 > """
    + str(_FRESH_STALE_MIN)
    + """ AS stale
FROM events CROSS JOIN hw
GROUP BY event_type, gmax
ORDER BY event_type
""",
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source freshness audit — the first data-ops check on any
    continuously-ingested table: how far behind the newest arrival is
    each event type, and is it still producing? Lag is computed in
    integer microseconds against the global high-water mark
    (`epoch_us` ↔ `unix_micros`, the repo's proven timestamp-parity
    idiom) and floored to whole minutes, so the staleness verdict is
    exact integer arithmetic in both engines.

    One map-side-combinable aggregate over |event_type| groups plus a
    1-row global-max broadcast — at 100 TB the scan is the whole cost,
    and on a partitioned table the high-water mark comes from
    partition/footer stats instead (the scan_parquet_footer_stats
    path), making this a metadata-only query.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("us")
    )
    glob = ev.agg(F.max("us").alias("gmax"))
    lag_min = F.expr("(gmax - max_us) div 60000000")
    return (
        ev.crossJoin(F.broadcast(glob))
        .groupBy("event_type", "gmax")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("us").alias("max_us"),
            F.sum(
                F.when(F.col("gmax") - F.col("us") < 86400000000, 1).otherwise(0)
            ).alias("n_last_day"),
        )
        .select(
            "event_type",
            "n_events",
            F.col("max_us").alias("max_ts_us"),
            lag_min.alias("lag_minutes"),
            "n_last_day",
            (lag_min > _FRESH_STALE_MIN).alias("stale"),
        )
        .orderBy("event_type")
    )


#: privacy_dp_count: Laplace scale b = 1/epsilon (count sensitivity 1).
_DP_EPSILON = 0.5
_DP_SEED = "dp11"


@register(
    "privacy_dp_count",
    oracle=f"""
WITH cnt AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type
),
coin AS (
  SELECT event_type, n,
         ({md5_int_sql(f"event_type || ':{_DP_SEED}'", 1, 8)} + 0.5)
           / 4294967296.0 AS u
  FROM cnt
),
noise AS (
  SELECT event_type, n,
         -(1.0 / {_DP_EPSILON}) * (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
           * ln(1.0 - 2.0 * abs(u - 0.5)) AS lap
  FROM coin
)
SELECT event_type, n,
       {grid_sql('lap', 6)} AS noise_micro,
       CAST(n + {grid_sql('lap', 6)} / 1000000.0 AS DOUBLE)
         AS n_noisy,
       CAST({_DP_EPSILON} AS DOUBLE) AS epsilon
FROM noise
ORDER BY event_type
""",
)
def privacy_dp_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private counts via the Laplace mechanism with a
    SEEDED noise draw: the uniform comes from the first 8 hex chars of
    ``md5(key:seed)`` (portable lowercase hex in every engine — the
    sample_stratified_seeded coin, here read as a 32-bit integer by
    the ``md5_int`` / ``md5_int_sql`` twins), then the
    standard inverse-CDF transform −b·sign(u−½)·ln(1−2|u−½|) with
    b = 1/ε. Seeding makes the release reproducible across engines and
    runs — the property a privacy AUDIT needs (a production release
    would draw fresh randomness; the mechanism is identical). The noise
    lands on a 1e-6 grid before the sum, the adamic_adar ln-grid
    precedent.

    Per-group noise is O(|groups|) scalar math after one
    map-side-combinable count — at 100 TB the count dominates and the
    mechanism is free; sensitivity is 1 per event because each row has
    one event_type.
    """
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    u = (
        md5_int(F.concat(F.col("event_type"), F.lit(f":{_DP_SEED}")), 1, 8)
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    lap = (
        F.lit(-1.0 / _DP_EPSILON)
        * F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)))
    )
    noise_micro = grid(lap, 6)
    return (
        cnt.select(
            "event_type",
            "n",
            noise_micro.alias("noise_micro"),
            (
                F.col("n") + noise_micro.cast("double") / F.lit(1e6)
            ).alias("n_noisy"),
            F.lit(float(_DP_EPSILON)).alias("epsilon"),
        )
        .orderBy("event_type")
    )


@register(
    "dq_reconciliation",
    oracle=f"""
WITH li AS (
  SELECT l_orderkey,
         CAST(SUM({grid_sql('''l_extendedprice * (1.0 - l_discount)
                             * (1.0 + l_tax)''', 2)}) AS BIGINT) AS li_cents,
         CAST(COUNT(*) AS BIGINT) AS n_lines
  FROM lineitem GROUP BY l_orderkey
),
recon AS (
  SELECT o.o_orderkey,
         {grid_sql('o.o_totalprice', 2)} AS o_cents,
         COALESCE(li.li_cents, 0) AS li_cents,
         COALESCE(li.n_lines, 0) AS n_lines
  FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
),
graded AS (
  SELECT CASE
           WHEN n_lines = 0 THEN 'missing_lines'
           WHEN o_cents = li_cents THEN 'exact'
           WHEN abs(o_cents - li_cents) * 100 <= o_cents THEN 'within_1pct'
           ELSE 'mismatch'
         END AS grade,
         abs(o_cents - li_cents) AS adiff
  FROM recon
)
SELECT grade,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(adiff) AS BIGINT) AS total_abs_diff_cents
FROM graded
GROUP BY grade
ORDER BY grade
""",
)
def dq_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table financial reconciliation — does each order header's
    total match the sum of its line items (extended price net of
    discount, plus tax)? The classic closing-the-books audit, graded
    into exact / within-1% / mismatch / missing-lines buckets. Both
    sides land in exact cents before comparison (per-line product is
    one identically-ordered double expression, floored once), and the
    1% tolerance is the cross-multiplied integer test
    ``|Δ|·100 ≤ total`` — no float thresholds anywhere.

    One map-side-combinable aggregate on l_orderkey, one same-key join
    against the header scan (co-partitioned — a single shuffle lane
    each side), and a 4-row grade rollup. At 100 TB this is the
    cheapest possible two-table audit shape; bucketing both tables on
    orderkey (`join_bucketed`) removes even those exchanges.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                grid(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                    * (F.lit(1.0) + F.col("l_tax")),
                    2,
                )
            ).alias("li_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        grid("o_totalprice", 2).alias("o_cents"),
    )
    recon = od.join(
        li, od.o_orderkey == li.l_orderkey, "left"
    ).select(
        "o_cents",
        F.coalesce(F.col("li_cents"), F.lit(0)).alias("li_cents"),
        F.coalesce(F.col("n_lines"), F.lit(0)).alias("n_lines"),
    )
    adiff = F.abs(F.col("o_cents") - F.col("li_cents"))
    grade = (
        F.when(F.col("n_lines") == 0, "missing_lines")
        .when(F.col("o_cents") == F.col("li_cents"), "exact")
        .when(adiff * 100 <= F.col("o_cents"), "within_1pct")
        .otherwise("mismatch")
    )
    return (
        recon.select(grade.alias("grade"), adiff.alias("adiff"))
        .groupBy("grade")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("adiff").alias("total_abs_diff_cents"),
        )
        .orderBy("grade")
    )


#: privacy_dp_mean: value clamp (cents) and per-release epsilon split.
_DPM_CAP_CENTS = 50000
_DPM_EPS_SUM = 0.25
_DPM_EPS_CNT = 0.25
_DPM_SEED = "dpm3"


def _dp_lap_duckdb(key_expr: str, tag: str, scale: float) -> str:
    """DuckDB expression: Laplace(scale) noise from the md5 coin of
    ``key_expr || tag`` — same inverse-CDF transform as
    privacy_dp_count, factored for the two draws this key needs."""
    u = f"({md5_int_sql(f'{key_expr} || {tag!r}', 1, 8)} + 0.5) / 4294967296.0"
    return (
        f"(-{scale} * (CASE WHEN {u} >= 0.5 THEN 1.0 ELSE -1.0 END)"
        f" * ln(1.0 - 2.0 * abs({u} - 0.5)))"
    )


@register(
    "privacy_dp_mean",
    oracle=f"""
WITH agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(LEAST({grid_sql('value', 2)},
                        {_DPM_CAP_CENTS})) AS BIGINT) AS s
  FROM events GROUP BY event_type
),
noised AS (
  SELECT event_type, n, s,
         {grid_sql(f'''{_dp_lap_duckdb("event_type", f":{_DPM_SEED}:s",
                                    _DPM_CAP_CENTS / _DPM_EPS_SUM)}''', 0)} AS ns,
         {grid_sql(f'''{_dp_lap_duckdb("event_type", f":{_DPM_SEED}:c",
                                    1.0 / _DPM_EPS_CNT)}''', 0)} AS nc
  FROM agg
)
SELECT event_type, n,
       {grid_sql('CAST(s AS DOUBLE) / n', 6)}
         AS true_mean_micro,
       {grid_sql('''CAST(s + ns AS DOUBLE)
                  / GREATEST(n + nc, 1)''', 6)}
         AS dp_mean_micro,
       CAST({_DPM_EPS_SUM + _DPM_EPS_CNT} AS DOUBLE) AS epsilon
FROM noised
ORDER BY event_type
""",
)
def privacy_dp_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private MEAN via the standard noisy-sum /
    noisy-count composition: values clamp to [0, cap] (that clamp IS
    the sensitivity bound — without it one outlier reveals itself),
    each aggregate gets an independent seeded Laplace draw
    (ε/2 each, Laplace scale cap/ε for the sum, 1/ε for the count),
    and the released mean is their ratio. Extends `privacy_dp_count`
    to the mechanism real DP deployments compose from; the seeded
    coins make the release auditable across engines and runs. Noise
    lands on integer cents before the ratio; the ratio's two divisions
    are correctly-rounded doubles on a 1e-6 grid.

    One map-side-combinable clamp+sum aggregate; noise is O(|groups|)
    scalar math. At 100 TB the scan dominates and the mechanism is
    free — the same shape as every production DP aggregation layer.
    """
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.least(
                grid("value", 2),
                F.lit(_DPM_CAP_CENTS).cast("long"),
            )
        ).alias("s"),
    )

    def _lap(tag: str, scale: float):
        u = (
            md5_int(
                F.concat(F.col("event_type"), F.lit(f":{_DPM_SEED}:{tag}")), 1, 8
            )
            + F.lit(0.5)
        ) / F.lit(4294967296.0)
        return (
            F.lit(-scale)
            * F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
            * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)))
        )

    ns = grid(_lap("s", _DPM_CAP_CENTS / _DPM_EPS_SUM), 0)
    nc = grid(_lap("c", 1.0 / _DPM_EPS_CNT), 0)
    return (
        agg.select(
            "event_type",
            "n",
            grid(F.col("s").cast("double") / F.col("n"), 6).alias("true_mean_micro"),
            grid(
                (F.col("s") + ns).cast("double")
                / F.greatest(F.col("n") + nc, F.lit(1).cast("long")),
                6,
            )
            .alias("dp_mean_micro"),
            F.lit(float(_DPM_EPS_SUM + _DPM_EPS_CNT)).alias("epsilon"),
        )
        .orderBy("event_type")
    )


#: DP histogram: equi-width buckets over the event value domain.
_DPH_WIDTH, _DPH_MAX_BUCKET = 50, 9


@register(
    "privacy_dp_histogram",
    oracle=f"""
WITH b AS (
  SELECT LEAST(CAST(FLOOR(value / {_DPH_WIDTH}.0) AS BIGINT),
               {_DPH_MAX_BUCKET}) AS bucket
  FROM events
),
cnt AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY bucket
),
coin AS (
  SELECT bucket, n,
         ({md5_int_sql(f"'hist:' || CAST(bucket AS VARCHAR) || ':{_DP_SEED}'",
                       1, 8)} + 0.5)
           / 4294967296.0 AS u
  FROM cnt
),
noise AS (
  SELECT bucket, n,
         -(1.0 / {_DP_EPSILON}) * (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
           * ln(1.0 - 2.0 * abs(u - 0.5)) AS lap
  FROM coin
)
SELECT bucket, n,
       {grid_sql('lap', 6)} AS noise_micro,
       CAST(n + {grid_sql('lap', 6)} / 1000000.0 AS DOUBLE)
         AS n_noisy,
       CAST({_DP_EPSILON} AS DOUBLE) AS epsilon
FROM noise
ORDER BY bucket
""",
)
def privacy_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private histogram release — the third Laplace
    mechanism next to `privacy_dp_count` / `privacy_dp_mean`, and the
    canonical one: disjoint equi-width buckets mean EVERY bucket can
    be released under the same ε (parallel composition — one row lands
    in exactly one bucket, so sensitivity is 1 per bucket, not 1 per
    release). The top bucket clamps the open tail so the domain is
    public knowledge, as a DP release requires.

    Same seeded discipline as its siblings: the uniform is the first 8
    hex chars of ``md5('hist:' || bucket || ':seed')``, the Laplace
    draw is the inverse-CDF transform, and the noise lands on the 1e-6
    grid before the sum — reproducible across engines (the audit
    property), swapped for fresh randomness in a production release.
    At 100 TB: one map-side-combinable bucket count; the mechanism is
    O(|buckets|) scalar math after the reduce.
    """
    ev = load_table(spark, sf_dir, "events")
    cnt = (
        ev.select(
            F.least(
                F.floor(F.col("value") / _DPH_WIDTH).cast("long"),
                F.lit(_DPH_MAX_BUCKET).cast("long"),
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    u = (
        md5_int(
            F.concat(
                F.lit("hist:"), F.col("bucket").cast("string"), F.lit(f":{_DP_SEED}")
            ),
            1,
            8,
            dtype="double",
        )
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    lap = (
        F.lit(-1.0 / _DP_EPSILON)
        * F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)))
    )
    noise_micro = grid(lap, 6)
    return (
        cnt.select(
            "bucket",
            "n",
            noise_micro.alias("noise_micro"),
            (F.col("n") + noise_micro.cast("double") / F.lit(1e6)).alias(
                "n_noisy"
            ),
            F.lit(float(_DP_EPSILON)).alias("epsilon"),
        )
        .orderBy("bucket")
    )


#: Benford first-digit probabilities log10(1 + 1/d), hardcoded to 17
#: significant digits so both engines parse the identical double (no
#: runtime log10 — transcendentals are not cross-engine-exact, §5.3).
#: E-notation is load-bearing: a bare decimal literal routes through
#: DECIMAL in DuckDB and the decimal->double conversion can land an
#: ulp away from the direct string->double parse.
_BENFORD_P = (
    (1, "0.30102999566398120"), (2, "0.17609125905568124"),
    (3, "0.12493873660829993"), (4, "0.09691001300805642"),
    (5, "0.07918124604762482"), (6, "0.06694678963061322"),
    (7, "0.05799194697768673"), (8, "0.05115252244738129"),
    (9, "0.04575749056067514"),
)


def _benford_sql(tbl: str, mat: str) -> str:
    """Benford first-digit audit, one template for both dialects (both
    accept STRING casts and the VALUES table; the only token is the
    DuckDB MATERIALIZED hint). First digits come from the CENTS
    integer's decimal string — never from log10 — and the expected
    count is MATERIALIZED before the chi-square step: with it inlined,
    DuckDB contracts ``n - nt*pb`` to an FMA (one rounding instead of
    two) and drifts an ulp from Spark/python — fuzzer-found on digit 3
    at sf0.01. No cross-row float summation anywhere, so every row
    hashes bit-for-bit."""
    vals = ", ".join(f"({d}, {p}e0)" for d, p in _BENFORD_P)
    return f"""
WITH d AS (
  SELECT CAST(substr(CAST({grid_sql('o_totalprice', 2)} AS STRING), 1, 1)
              AS BIGINT) AS digit
  FROM {tbl}
  WHERE o_totalprice > 0),
c AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit),
p AS (SELECT * FROM (VALUES {vals}) AS t(digit, pb)),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM c),
ex AS {mat} (
  SELECT p.digit, COALESCE(c.n, 0) AS n, p.pb,
         CAST(tot.nt AS DOUBLE) * p.pb AS expected
  FROM p LEFT JOIN c ON c.digit = p.digit, tot)
SELECT digit, n, pb AS p_benford, expected,
       (CAST(n AS DOUBLE) - expected) * (CAST(n AS DOUBLE) - expected)
         / expected AS chi2_term
FROM ex
ORDER BY digit
"""


@register(
    "dq_benford_firstdigit",
    oracle=_benford_sql("orders", "MATERIALIZED"),
)
def dq_benford_firstdigit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit — the classic fraud/synthetic-
    data detector for multiplicative quantities (amounts, populations,
    fluxes): natural data follows P(d) = log10(1 + 1/d); fabricated or
    uniformly generated data does not. The output is the per-digit
    contingency row (observed, expected, chi-square term) a DQ monitor
    thresholds on. On these synthetic fixtures the test FAILS loudly
    (uniform totalprice piles digits 1-4) — which is precisely the
    correct answer, and the per-digit rows show exactly how.

    Scale: one map-side-combinable 9-key aggregation over the scan;
    the Benford table and grand total are literal/1-row broadcasts.
    Chi-square terms stay per-row doubles mirrored operand-for-operand
    (the engine never sums doubles across rows), so all 9 rows
    hash-match bit-for-bit. Spark builds the kernel through the
    DataFrame API (converted from the shared-SQL form, the VERDICT r9
    task-4 hygiene applied beyond stats.py); the JVM never contracts
    n - nt*pb to an FMA, so only the DuckDB side needs the
    MATERIALIZED guard documented in `_benford_sql`.
    """
    o = load_table(spark, sf_dir, "orders")
    d = o.filter(F.col("o_totalprice") > 0).select(
        F.expr(
            f"CAST(substr(CAST(CAST({grid_sql('o_totalprice', 2)}"
            " AS BIGINT) AS STRING), 1, 1) AS BIGINT)"
        ).alias("digit")
    )
    # 9 rows; localCheckpoint so the tot rollup and the left join don't
    # each replay the orders scan (2 scans -> 1 in the executed plan).
    c = d.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).localCheckpoint(eager=True)
    p = local_frame(
        spark,
        [(dg, float(f"{pb}e0")) for dg, pb in _BENFORD_P],
        "digit INT, pb DOUBLE",
    )
    tot = c.agg(F.sum("n").cast("long").alias("nt"))
    ex = (
        p.join(c, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            "pb",
            (F.col("nt").cast("double") * F.col("pb")).alias("expected"),
        )
    )
    nd = F.col("n").cast("double")
    return ex.select(
        "digit", "n", F.col("pb").alias("p_benford"), "expected",
        (
            (nd - F.col("expected")) * (nd - F.col("expected"))
            / F.col("expected")
        ).alias("chi2_term"),
    ).orderBy("digit")


#: DP quantile via the exponential mechanism: $1000 candidate grid,
#: per-quantile privacy budget, md5-seeded Gumbel-max selection.
_DPQ_EPS = 1.0
_DPQ_SEED = "dpq5"
_DPQ_GRID = 1000
_DPQ_QUANTILES = (250_000, 500_000, 750_000)


@register(
    "privacy_dp_quantile",
    oracle=f"""
WITH hist AS (
  SELECT CAST(FLOOR(o_totalprice / {_DPQ_GRID}) AS BIGINT) AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1
),
cum AS (
  SELECT b, SUM(c) OVER (ORDER BY b) AS cw,
         (SELECT CAST(SUM(c) AS BIGINT) FROM hist) AS n
  FROM hist
),
spec AS (SELECT unnest([{", ".join(str(q) for q in _DPQ_QUANTILES)}]) AS q_micro),
scored AS (
  SELECT s.q_micro, c.b, c.n, c.cw,
         CEIL(CAST(s.q_micro AS DOUBLE) * 1e-6 * c.n) AS target,
         {_DPQ_EPS} / 2.0
           * (0.0 - ABS(c.cw - CEIL(CAST(s.q_micro AS DOUBLE) * 1e-6 * c.n)))
         - LN(0.0 - LN(
             ({md5_int_sql(f"'{_DPQ_SEED}:' || CAST(s.q_micro AS VARCHAR)"
                           " || ':' || CAST(c.b AS VARCHAR)", 1, 8)}
              + 0.5) / 4294967296.0))
           AS score
  FROM spec s CROSS JOIN cum c
),
winner AS (
  SELECT q_micro, b, n,
         ROW_NUMBER() OVER (PARTITION BY q_micro ORDER BY score DESC, b) AS rn
  FROM scored
),
truth AS (
  SELECT s.q_micro,
         CAST(MIN(CASE WHEN c.cw >= CEIL(CAST(s.q_micro AS DOUBLE) * 1e-6 * c.n)
                       THEN c.b END) AS BIGINT) AS true_b
  FROM spec s CROSS JOIN cum c
  GROUP BY s.q_micro
)
SELECT w.q_micro, w.n,
       CAST(t.true_b * {_DPQ_GRID} AS BIGINT) AS true_q_dollars,
       CAST(w.b * {_DPQ_GRID} AS BIGINT) AS dp_q_dollars,
       CAST({_DPQ_EPS} AS DOUBLE) AS epsilon
FROM winner w JOIN truth t ON t.q_micro = w.q_micro
WHERE w.rn = 1
ORDER BY w.q_micro
""",
)
def privacy_dp_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially private quantiles via the EXPONENTIAL MECHANISM —
    the third member of the DP family (`privacy_dp_count` / `_mean`
    add Laplace noise to sums; quantiles need utility-weighted
    candidate SELECTION instead, because noising a rank statistic
    directly destroys it). Candidates are the $1000 value grid;
    utility u(c) = −|rank(c) − ⌈q·n⌉| has sensitivity 1, and the
    mechanism samples c with probability ∝ exp(ε·u/2) — realized here
    through the Gumbel-max identity (argmax of ε·u/2 + Gumbel noise is
    exactly that sample), with the Gumbel draw derived from an md5
    coin keyed by (quantile, candidate) so both engines select the
    same winner (the repo's deterministic-noise discipline:
    reproducible pipelines, NOT a production privacy deployment —
    swap the coin for a real RNG to deploy).

    Plan: one data-sized histogram pass; the cumulative window and the
    3×|grid| scoring run over the COLLAPSED candidate table (bounded
    by the value domain, constant in SF); the quantile spec fans out
    as a broadcast VALUES table. At 100 TB only the histogram
    aggregation touches data.
    """
    o = load_table(spark, sf_dir, "orders")
    hist = (
        o.select(
            F.floor(F.col("o_totalprice") / _DPQ_GRID).cast("long").alias("b")
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cum = hist.select(
        "b", F.sum("c").over(Window.orderBy("b")).alias("cw")
    ).crossJoin(F.broadcast(hist.agg(F.sum("c").cast("long").alias("n"))))
    spec = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(q) for q in _DPQ_QUANTILES])
        ).alias("q_micro")
    )
    target = F.ceil(F.col("q_micro").cast("double") * 1e-6 * F.col("n"))
    u01 = (
        md5_int(
            F.concat(
                F.lit(f"{_DPQ_SEED}:"),
                F.col("q_micro").cast("string"),
                F.lit(":"),
                F.col("b").cast("string"),
            ),
            1,
            8,
        )
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    score = (
        F.lit(_DPQ_EPS) / F.lit(2.0)
        * (F.lit(0.0) - F.abs(F.col("cw") - target))
        - F.log(F.lit(0.0) - F.log(u01))
    )
    scored = cum.crossJoin(F.broadcast(spec)).select(
        "q_micro", "b", "n", "cw", score.alias("score")
    )
    w = Window.partitionBy("q_micro").orderBy(F.col("score").desc(), "b")
    winner = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("q_micro", F.col("b").alias("win_b"), "n")
    )
    truth = (
        cum.crossJoin(F.broadcast(spec))
        .groupBy("q_micro")
        .agg(
            F.min(
                F.when(F.col("cw") >= target, F.col("b"))
            ).alias("true_b")
        )
    )
    return (
        winner.join(truth, "q_micro")
        .select(
            "q_micro",
            "n",
            (F.col("true_b") * _DPQ_GRID).cast("long").alias("true_q_dollars"),
            (F.col("win_b") * _DPQ_GRID).cast("long").alias("dp_q_dollars"),
            F.lit(float(_DPQ_EPS)).alias("epsilon"),
        )
        .orderBy("q_micro")
    )


#: randomized response: truth-coin threshold 0.75 of 32-bit space.
_RR_SEED = "rr5"
_RR_THRESH = 3_221_225_472  # 0.75 * 2^32


@register(
    "privacy_rr_aggregate",
    oracle=f"""
WITH resp AS (
  SELECT event_type,
         CASE WHEN value > 500.0 THEN 1 ELSE 0 END AS truth,
         CASE WHEN {md5_int_sql(f"CAST(event_id AS VARCHAR) || ':{_RR_SEED}'", 1, 8)}
                   < {_RR_THRESH}
              THEN CASE WHEN value > 500.0 THEN 1 ELSE 0 END
              ELSE 1 - CASE WHEN value > 500.0 THEN 1 ELSE 0 END END
           AS reported
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       {grid_sql('CAST(SUM(truth) AS DOUBLE) / COUNT(*)', 6)} AS true_frac_micro,
       {grid_sql('CAST(SUM(reported) AS DOUBLE) / COUNT(*)', 6)} AS reported_frac_micro,
       {grid_sql('(CAST(SUM(reported) AS DOUBLE) / COUNT(*) - 0.25) / 0.5', 6)}
         AS debiased_frac_micro
FROM resp GROUP BY event_type ORDER BY event_type
""",
)
def privacy_rr_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomized response (Warner 1965) — LOCAL differential privacy,
    completing the privacy family's central-DP keys (`privacy_dp_*`
    noise the AGGREGATES; RR noises each RECORD before it ever reaches
    the aggregator, ε = ln(p/(1−p)) ≈ ln 3 here): every row reports
    its sensitive bit truthfully with p = 3/4 and flipped otherwise,
    and the collector DEBIASES the observed frequency with
    π̂ = (f̂ − (1−p)) / (2p − 1). The true per-group fraction rides
    along so the key doubles as the estimator-accuracy audit.

    The flip coin is the repo's md5 hash-coin (deterministic for the
    oracle and for replayable pipelines — a production LDP deployment
    swaps in client-side RNG). One row-local projection and one
    aggregate; debiasing is scalar double math on exact counts, so
    cost at 100 TB is the scan. The estimator variance shrinks as
    1/n — the usual LDP trade, visible in the small-group rows.
    """
    ev = load_table(spark, sf_dir, "events")
    truth = F.when(F.col("value") > 500.0, 1).otherwise(0)
    coin = md5_int(
        F.concat(F.col("event_id").cast("string"), F.lit(f":{_RR_SEED}")), 1, 8
    )
    reported = F.when(coin < _RR_THRESH, truth).otherwise(1 - truth)
    resp = ev.select(
        "event_type", truth.alias("truth"), reported.alias("reported")
    )
    n = F.count(F.lit(1))
    return (
        resp.groupBy("event_type")
        .agg(
            n.alias("n"),
            grid(F.sum("truth").cast("double") / n, 6).alias("true_frac_micro"),
            grid(F.sum("reported").cast("double") / n, 6).alias("reported_frac_micro"),
            grid((F.sum("reported").cast("double") / n - F.lit(0.25)) / F.lit(0.5), 6)
            .alias("debiased_frac_micro"),
        )
        .orderBy("event_type")
    )


#: audit_cross_run_determinism: the two shuffle-partition settings the
#: audited query is executed under (driver default 200 sits between).
_AUDIT_CONFS = (7, 29)


@register(
    "audit_cross_run_determinism",
    oracle=f"""
WITH agg AS (
  SELECT l_returnflag || '|' || l_linestatus || '|'
         || CAST(CAST(SUM({grid_sql('l_quantity', 2)})
                 AS BIGINT) AS VARCHAR) AS rowstr
  FROM lineitem GROUP BY l_returnflag, l_linestatus
),
h AS (SELECT md5(string_agg(rowstr, '#' ORDER BY rowstr)) AS result_hash
      FROM agg)
SELECT 'run_a' AS run, CAST({_AUDIT_CONFS[0]} AS BIGINT)
         AS shuffle_partitions, result_hash FROM h
UNION ALL
SELECT 'run_b', CAST({_AUDIT_CONFS[1]} AS BIGINT), result_hash FROM h
ORDER BY run
""",
)
def audit_cross_run_determinism(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run determinism audit AS A QUERY — the reproducibility
    property tests/test_determinism.py pins, promoted to a registered
    key so the external driver re-certifies it every sampling round:
    the SAME aggregation executed under two different
    ``spark.sql.shuffle.partitions`` settings (different physical
    shuffles, different task counts, different reduce orders) must
    produce the identical canonical result hash, and that hash must
    ALSO equal the one DuckDB computes from the same rows — two
    engines x two configs all agreeing cell-for-cell.

    The canonical hash is md5 over '#'-joined, lexicographically
    sorted 'flag|status|gridded-sum' row strings — integer-exact, so
    no float summation order can leak into it. Each run collects ONE
    hash row (bounded driver-side scalar, the house collect
    discipline); the conf is restored in a finally block.

    100-TB posture: the audited aggregate shuffles one pre-aggregated
    row per (partition x group); the hash reduction is a single-row
    collect_list over |groups| strings (6 here; re-sketch
    hierarchically by group range if |groups| ever approaches driver
    memory).
    """
    li = load_table(spark, sf_dir, "lineitem")
    rowstr = F.concat_ws(
        "|",
        F.col("l_returnflag"),
        F.col("l_linestatus"),
        F.sum(grid("l_quantity", 2)).cast("long").cast("string"),
    )

    def run_hash(n_parts: int) -> str:
        spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
        agg = (
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(rowstr.alias("rowstr"))
            .agg(
                F.md5(
                    F.concat_ws("#", F.sort_array(F.collect_list("rowstr")))
                ).alias("h")
            )
        )
        return agg.collect()[0]["h"]

    original = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        hashes = [run_hash(n) for n in _AUDIT_CONFS]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", original)
    return local_frame(
        spark,
        [
            ("run_a", _AUDIT_CONFS[0], hashes[0]),
            ("run_b", _AUDIT_CONFS[1], hashes[1]),
        ],
        "run string, shuffle_partitions long, result_hash string",
    ).orderBy("run")


#: privacy_dp_topk: selection size, per-candidate Laplace scale
#: (sensitivity-k budget split: b = 2k/epsilon, the one-shot noisy
#: top-k mechanism), release threshold in noisy-count units, and the
#: coin seed.
_DPTK_K = 10
_DPTK_EPSILON = 1.0
_DPTK_THRESHOLD = 50.0
_DPTK_SEED = "dptk7"


@register(
    "privacy_dp_topk",
    oracle=f"""
WITH cnt AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id
),
coin AS (
  SELECT user_id, n,
         ({md5_int_sql(f"CAST(user_id AS VARCHAR) || ':{_DPTK_SEED}'", 1, 8)}
          + 0.5) / 4294967296.0 AS u
  FROM cnt
),
noise AS (
  SELECT user_id, n,
         {grid_sql(f'''
           -(2.0 * {_DPTK_K} / {_DPTK_EPSILON})
             * (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
             * ln(1.0 - 2.0 * abs(u - 0.5))''', 6)} AS noise_micro
  FROM coin
),
ranked AS (
  SELECT user_id, n, noise_micro,
         n * 1000000 + noise_micro AS noisy_micro,
         ROW_NUMBER() OVER (
           ORDER BY n * 1000000 + noise_micro DESC, user_id
         ) AS rank
  FROM noise
)
SELECT CAST(rank AS BIGINT) AS rank, user_id, n, noise_micro,
       noisy_micro,
       noisy_micro >= {_DPTK_THRESHOLD} * 1000000 AS released
FROM ranked WHERE rank <= {_DPTK_K}
ORDER BY rank
""",
)
def privacy_dp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private top-k selection (one-shot noisy top-k
    with a release threshold) — the heavy-hitter release the plain
    Laplace family (`privacy_dp_count`/`privacy_dp_histogram`) cannot
    do over a HIGH-CARDINALITY domain: every user's count gets seeded
    Laplace noise at the top-k budget split b = 2k/epsilon, the k
    highest NOISY counts are selected (selection itself is the private
    step), and a threshold suppresses candidates too rare to release
    safely. The seeded md5 coin (the privacy_dp_count audit idiom)
    makes the release reproducible across engines; noise grids to
    micro so the noisy ranking key n*1e6 + noise_micro is an exact
    integer — no float order anywhere.

    100-TB posture: one map-side-combinable count over the domain;
    noise is O(|domain|) scalar math on the collapsed table; the
    top-k is a TakeOrdered heap (per-partition k-row heaps + a k-row
    driver merge), and the only global-order window ranks the
    ALREADY-BOUNDED k-row shortlist.
    """
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    u = (
        md5_int(
            F.concat(F.col("user_id").cast("string"), F.lit(f":{_DPTK_SEED}")), 1, 8
        )
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    lap = (
        F.lit(-2.0 * _DPTK_K / _DPTK_EPSILON)
        * F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)))
    )
    noise = cnt.select(
        "user_id", "n",
        grid(lap, 6).alias("noise_micro"),
    ).withColumn(
        "noisy_micro",
        F.col("n") * F.lit(1_000_000) + F.col("noise_micro"),
    )
    # TakeOrderedAndProject shortlist FIRST (a k-row heap per partition
    # + k-row driver merge), then rank the bounded k-row result — a
    # row_number over the full domain would funnel every user to one
    # window task.
    shortlist = noise.orderBy(
        F.col("noisy_micro").desc(), "user_id"
    ).limit(_DPTK_K)
    w = Window.orderBy(F.col("noisy_micro").desc(), "user_id")
    return (
        shortlist.withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            "rank", "user_id", "n", "noise_micro", "noisy_micro",
            (
                F.col("noisy_micro")
                >= F.lit(_DPTK_THRESHOLD) * F.lit(1_000_000)
            ).alias("released"),
        )
        .orderBy("rank")
    )
