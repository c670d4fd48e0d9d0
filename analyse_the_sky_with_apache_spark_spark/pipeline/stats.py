"""Distributed statistics / classical-ML training operators.

The model-training side of a data pipeline that never leaves SQL:
Naive-Bayes token likelihoods, one logistic-regression IRLS step's
sufficient statistics, a Pearson correlation matrix, a chi-squared
independence test, and a two-sample Kolmogorov-Smirnov statistic. Each
is a pure aggregation plan whose float core is made hash-deterministic
by the repo's integer-grid discipline (SURVEY.md §5.3): transcendental
per-row terms are floored onto a fixed grid BEFORE any sum, so the
aggregation itself is exact long arithmetic; scale-free doubles (corr,
KS) are computed by the identical IEEE expression tree in both engines
from those exact longs.

Scale notes ride each docstring; the common shape is "sums are monoid
longs → mergeable, partition-invariant, AQE-friendly" — the same
algebra `agg_higher_moments` and `ml_linreg_suffstats` use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import fan_out, load_table
from ..functions.exact import (
    grid,
    grid_sql,
    md5_int,
    md5_int_sql,
    sky_radec,
    sky_radec_sql,
)
from ..registry import register


@register(
    "ml_naive_bayes_train",
    oracle=f"""
WITH toks AS (
  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
),
c AS (SELECT lang, w, COUNT(*) AS c FROM toks GROUP BY lang, w),
t AS (SELECT lang, COUNT(*) AS tot FROM toks GROUP BY lang),
v AS (SELECT COUNT(DISTINCT w) AS v FROM toks)
SELECT c.lang, c.w AS token, c.c AS c,
       CAST({grid_sql('ln((c.c + 1.0) / (t.tot + v.v))', 6)} AS DOUBLE) / 1000000.0
         AS loglik
FROM c JOIN t USING (lang) CROSS JOIN v
WHERE c.c >= 5
""",
)
def ml_naive_bayes_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive-Bayes training as three aggregations: per
    (class, token) counts, per-class token totals, and the global
    vocabulary size — the add-one-smoothed log-likelihood
    ln((c+1)/(tot+V)) is then one expression per model row. Training a
    count-based classifier IS a groupBy; there is no iterative phase.

    The model is token-keyed (a fraction of corpus size), the class
    totals broadcast, and the vocab scalar rides a 1-row cross join —
    at 100 TB the only data-sized pass is the token explode, which
    shares its shuffle key with every other text_* aggregate. The ln
    is floored onto a 1e-6 grid per MODEL ROW (not per token
    occurrence), so the hash-checked output is exact; c >= 5 bounds
    the emitted model to informative features (the same min-count cut
    production NB trainers apply).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("w")
    )
    c = toks.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("c"))
    t = toks.groupBy("lang").agg(F.count(F.lit(1)).alias("tot"))
    v = toks.agg(F.countDistinct("w").alias("v"))
    loglik = (
        grid(
            F.log((F.col("c") + F.lit(1.0)) / (F.col("tot") + F.col("v"))), 6
        ).cast("double")
        / F.lit(1e6)
    )
    return (
        c.join(F.broadcast(t), "lang")
        .crossJoin(F.broadcast(v))
        .where(F.col("c") >= 5)
        .select("lang", F.col("w").alias("token"), "c", loglik.alias("loglik"))
    )


#: fixed logistic coefficients for the IRLS step (a mid-training
#: iterate; any β works — the point is the sufficient-stat algebra).
_LR_B0, _LR_B1, _LR_B2 = -1.0, 0.02, 3.0


@register(
    "ml_logreg_irls_stats",
    oracle=f"""
WITH r AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         {grid_sql('l_quantity', 2)} AS x1g,
         {grid_sql('l_discount', 4)} AS x2g,
         1.0 / (1.0 + exp(-(-1.0 + 0.02 * l_quantity + 3.0 * l_discount)))
           AS p
  FROM lineitem
),
g AS (
  SELECT y, x1g, x2g,
         {grid_sql('p * (1.0 - p)', 4)} AS wg,
         {grid_sql('y - p', 6)} AS rg
  FROM r
)
SELECT COUNT(*) AS n,
       CAST(SUM(wg) AS BIGINT) AS h00,
       CAST(SUM(x1g * wg) AS BIGINT) AS h01,
       CAST(SUM(x2g * wg) AS BIGINT) AS h02,
       CAST(SUM(x1g * x1g * wg) AS BIGINT) AS h11,
       CAST(SUM(x1g * x2g * wg) AS BIGINT) AS h12,
       CAST(SUM(x2g * x2g * wg) AS BIGINT) AS h22,
       CAST(SUM(rg) AS BIGINT) AS g0,
       CAST(SUM(x1g * rg) AS BIGINT) AS g1,
       CAST(SUM(x2g * rg) AS BIGINT) AS g2
FROM g
""",
)
def ml_logreg_irls_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed half of one logistic-regression Newton/IRLS
    step: at the current coefficients β (fixed literals here), each row
    contributes weight w = p(1-p) and residual y-p; the step solves
    H·δ = g where H = Xᵀ·diag(w)·X and g = Xᵀ(y-p). This operator
    computes ALL ten sufficient statistics (the 3×3 symmetric Hessian,
    the 3-gradient, n) in ONE map-side-combinable aggregation — the
    O(d³) solve is a driver-side triviality on a 3×3, exactly how
    Spark MLlib's own L-BFGS/IRLS treeAggregates per-partition Gram
    matrices (`ml_linreg_suffstats` is the identity-link sibling).

    Determinism: the sigmoid is per-row floored — w onto a 1e-4 grid,
    the residual onto 1e-6 — so every SUM is exact long arithmetic
    (engines' exp() agree far beyond grid resolution; a boundary hit
    would need an exact half-ulp tie). Magnitude bound: x1g≤5e3,
    wg≤2.5e3 → h11 ≤ 6.25e10/row, safe past 10⁸ rows per partition-
    tree; at larger scale drop the w grid to 1e3. One shuffle of ONE
    10-long row per partition; nothing else moves.
    """
    li = load_table(spark, sf_dir, "lineitem")
    y = F.when(F.col("l_returnflag") == "R", F.lit(1)).otherwise(F.lit(0))
    z = (
        F.lit(_LR_B0)
        + F.lit(_LR_B1) * F.col("l_quantity")
        + F.lit(_LR_B2) * F.col("l_discount")
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    g = li.select(
        y.alias("y"),
        grid("l_quantity", 2).alias("x1g"),
        grid("l_discount", 4).alias("x2g"),
        grid(p * (F.lit(1.0) - p), 4).alias("wg"),
        grid(y - p, 6).alias("rg"),
    )
    return g.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("wg").alias("h00"),
        F.sum(F.col("x1g") * F.col("wg")).alias("h01"),
        F.sum(F.col("x2g") * F.col("wg")).alias("h02"),
        F.sum(F.col("x1g") * F.col("x1g") * F.col("wg")).alias("h11"),
        F.sum(F.col("x1g") * F.col("x2g") * F.col("wg")).alias("h12"),
        F.sum(F.col("x2g") * F.col("x2g") * F.col("wg")).alias("h22"),
        F.sum("rg").alias("g0"),
        F.sum(F.col("x1g") * F.col("rg")).alias("g1"),
        F.sum(F.col("x2g") * F.col("rg")).alias("g2"),
    )


@register(
    "stat_corr_matrix",
    oracle=f"""
WITH g AS (
  SELECT {grid_sql('l_quantity', 2)} AS q,
         {grid_sql('l_extendedprice', 0)} AS p,
         {grid_sql('l_discount', 4)} AS d
  FROM lineitem
),
s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(p) AS BIGINT) AS sp,
         CAST(SUM(d) AS BIGINT) AS sd,
         CAST(SUM(q * q) AS BIGINT) AS sqq,
         CAST(SUM(p * p) AS BIGINT) AS spp,
         CAST(SUM(d * d) AS BIGINT) AS sdd,
         CAST(SUM(q * p) AS BIGINT) AS sqp,
         CAST(SUM(q * d) AS BIGINT) AS sqd,
         CAST(SUM(p * d) AS BIGINT) AS spd
  FROM g
)
SELECT 'l_quantity' AS var_x, 'l_extendedprice' AS var_y,
       (CAST(n AS DOUBLE) * sqp - CAST(sq AS DOUBLE) * sp)
       / (sqrt(CAST(n AS DOUBLE) * sqq - CAST(sq AS DOUBLE) * sq)
          * sqrt(CAST(n AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp))
         AS corr
FROM s
UNION ALL
SELECT 'l_quantity', 'l_discount',
       (CAST(n AS DOUBLE) * sqd - CAST(sq AS DOUBLE) * sd)
       / (sqrt(CAST(n AS DOUBLE) * sqq - CAST(sq AS DOUBLE) * sq)
          * sqrt(CAST(n AS DOUBLE) * sdd - CAST(sd AS DOUBLE) * sd))
FROM s
UNION ALL
SELECT 'l_extendedprice', 'l_discount',
       (CAST(n AS DOUBLE) * spd - CAST(sp AS DOUBLE) * sd)
       / (sqrt(CAST(n AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp)
          * sqrt(CAST(n AS DOUBLE) * sdd - CAST(sd AS DOUBLE) * sd))
FROM s
""",
)
def stat_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over three lineitem
    measures from ONE aggregation pass: all 9 cross/square sums plus n
    in a single map-side-combinable agg (how DataFrameStatFunctions'
    `corr` would look if it batched all pairs), then each coefficient
    is a closed-form double expression over the exact longs. Pearson
    is scale-invariant, so the integer grids (quantity 1e-2, price
    whole units, discount 1e-4) need no descaling — they cancel.

    Determinism: the sums are exact long monoids (partition-invariant);
    the final doubles come from the IDENTICAL expression tree in both
    engines over identical integers, and sqrt/± are correctly-rounded
    IEEE ops. Magnitude bound: p² ≤ ~1.2e10/row → safe to ~7×10⁸ rows
    of 2⁶³ headroom at sf-growth; past that, center on a first-pass
    mean or widen to DECIMAL(38). One 10-long row shuffles; the long
    form (3 rows) is driver-side arithmetic.
    """
    li = load_table(spark, sf_dir, "lineitem")
    g = li.select(
        grid("l_quantity", 2).alias("q"),
        grid("l_extendedprice", 0).alias("p"),
        grid("l_discount", 4).alias("d"),
    )
    s = g.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sq"),
        F.sum("p").alias("sp"),
        F.sum("d").alias("sd"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("p") * F.col("p")).alias("spp"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("q") * F.col("p")).alias("sqp"),
        F.sum(F.col("q") * F.col("d")).alias("sqd"),
        F.sum(F.col("p") * F.col("d")).alias("spd"),
    )

    def corr(sxy, sx, sy, sxx, syy):
        n = F.col("n").cast("double")
        num = n * F.col(sxy) - F.col(sx).cast("double") * F.col(sy)
        den = F.sqrt(
            n * F.col(sxx) - F.col(sx).cast("double") * F.col(sx)
        ) * F.sqrt(n * F.col(syy) - F.col(sy).cast("double") * F.col(sy))
        return num / den

    pairs = (
        ("l_quantity", "l_extendedprice", corr("sqp", "sq", "sp", "sqq", "spp")),
        ("l_quantity", "l_discount", corr("sqd", "sq", "sd", "sqq", "sdd")),
        ("l_extendedprice", "l_discount", corr("spd", "sp", "sd", "spp", "sdd")),
    )
    out = None
    for vx, vy, c in pairs:
        row = s.select(
            F.lit(vx).alias("var_x"), F.lit(vy).alias("var_y"), c.alias("corr")
        )
        out = row if out is None else out.unionAll(row)
    return out


@register(
    "stat_chi2_independence",
    oracle=f"""
WITH obs AS (
  SELECT l_returnflag AS rf, l_linestatus AS ls, COUNT(*) AS o
  FROM lineitem GROUP BY l_returnflag, l_linestatus
),
rt AS (SELECT rf, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY rf),
ct AS (SELECT ls, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY ls),
n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
cells AS (
  SELECT {grid_sql('''
           (o - CAST(r AS DOUBLE) * c / n)
           * (o - CAST(r AS DOUBLE) * c / n)
           / (CAST(r AS DOUBLE) * c / n)''', 6)}
         AS chi_g
  FROM obs JOIN rt USING (rf) JOIN ct USING (ls) CROSS JOIN n
),
dims AS (
  SELECT (COUNT(DISTINCT rf) - 1) * (COUNT(DISTINCT ls) - 1) AS dof
  FROM obs
)
SELECT (SELECT n FROM n) AS n, dof,
       CAST(CAST(SUM(chi_g) AS BIGINT) AS DOUBLE) / 1000000.0 AS chi2
FROM cells CROSS JOIN dims
GROUP BY dof
""",
)
def stat_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared test of independence on the returnflag×linestatus
    contingency table: the table is one groupBy, the marginals are
    re-aggregations of those CELLS (never the fact table — the same
    partials-reuse trick as `time_rollup_cascade`), and each cell's
    (O-E)²/E lands on a 1e-6 grid before the final sum so the
    statistic hash-matches despite being a sum of doubles.

    At 100 TB: one data-sized aggregation; everything after operates
    on R×C rows. Marginals broadcast back onto the cells.
    """
    li = load_table(spark, sf_dir, "lineitem")
    obs = li.groupBy(
        F.col("l_returnflag").alias("rf"), F.col("l_linestatus").alias("ls")
    ).agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("rf").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("ls").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").alias("n"))
    e = F.col("r").cast("double") * F.col("c") / F.col("n")
    cells = (
        obs.join(F.broadcast(rt), "rf")
        .join(F.broadcast(ct), "ls")
        .crossJoin(F.broadcast(n))
        .select(
            "n",
            grid((F.col("o") - e) * (F.col("o") - e) / e, 6).alias("chi_g"),
        )
    )
    dims = obs.agg(
        ((F.countDistinct("rf") - 1) * (F.countDistinct("ls") - 1)).alias(
            "dof"
        )
    )
    return (
        cells.crossJoin(F.broadcast(dims))
        .groupBy("n", "dof")
        .agg((F.sum("chi_g").cast("double") / F.lit(1e6)).alias("chi2"))
    )


@register(
    "stat_ks_test",
    oracle="""
WITH s AS (
  SELECT o_totalprice AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS a
  FROM orders
),
g AS (
  SELECT v, CAST(SUM(a) AS BIGINT) AS ca,
         CAST(SUM(1 - a) AS BIGINT) AS cb
  FROM s GROUP BY v
),
c AS (
  SELECT CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cua,
         CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cub
  FROM g
),
t AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
  FROM g
)
SELECT na, nb,
       MAX(ABS(CAST(cua AS DOUBLE) / na - CAST(cub AS DOUBLE) / nb)) AS ks_d
FROM c CROSS JOIN t
GROUP BY na, nb
""",
)
def stat_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic (urgent vs non-urgent
    order value distributions): group to per-distinct-value counts
    first (the natural binning — prices are exact cents), cumulative-
    sum both samples' ECDFs in one window, and D = MAX of the ECDF
    gap. MAX over doubles is order-insensitive, and each gap comes
    from the identical division tree over exact longs, so the stat
    hash-matches without any grid.

    The ECDF window is deliberately run over the per-VALUE aggregate
    (|distinct values| rows, not |orders|); it is still a global-order
    window — the documented 100-TB form caps the domain by pre-binning
    values onto a fixed grid (KS on a 1e4-cell histogram bounds D's
    error by the bin mass) exactly like `ts_interarrival_hist`'s
    log-grid. The two totals ride a 1-row cross join.
    """
    o = load_table(spark, sf_dir, "orders")
    s = o.select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", F.lit(1))
        .otherwise(F.lit(0))
        .alias("a"),
    )
    g = s.groupBy("v").agg(
        F.sum("a").alias("ca"), F.sum(F.lit(1) - F.col("a")).alias("cb")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(
        F.sum("ca").over(w).alias("cua"), F.sum("cb").over(w).alias("cub")
    )
    t = g.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    gap = F.abs(
        F.col("cua").cast("double") / F.col("na")
        - F.col("cub").cast("double") / F.col("nb")
    )
    return (
        c.crossJoin(F.broadcast(t))
        .groupBy("na", "nb")
        .agg(F.max(gap).alias("ks_d"))
    )


@register(
    "stat_mann_whitney",
    oracle="""
WITH s AS (
  SELECT o_totalprice AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS a
  FROM orders
),
g AS (
  SELECT v, CAST(SUM(a) AS BIGINT) AS ca,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM s GROUP BY v
),
r AS (
  SELECT v, ca, c,
         CAST(COALESCE(SUM(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS below
  FROM g
),
t AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na,
         CAST(SUM(c - ca) AS BIGINT) AS nb,
         CAST(SUM(ca * (2 * below + c + 1)) AS BIGINT) AS ra2,
         CAST(SUM(c * c * c - c) AS BIGINT) AS ties3
  FROM r
)
SELECT na, nb,
       (CAST(ra2 AS DOUBLE) - na * (na + 1.0)) / 2.0 AS u_a,
       ((CAST(ra2 AS DOUBLE) - na * (na + 1.0)) / 2.0
        - CAST(na AS DOUBLE) * nb / 2.0)
       / sqrt(CAST(na AS DOUBLE) * nb / 12.0
              * ((na + nb + 1.0)
                 - CAST(ties3 AS DOUBLE)
                   / ((na + nb) * (na + nb - 1.0)))) AS z
FROM t
""",
)
def stat_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (urgent vs non-urgent order
    values) — the nonparametric mean-shift test that pairs with
    `stat_ks_test`'s shape test: rank the pooled sample, sum sample
    A's ranks, U = R_A - n_a(n_a+1)/2, normal-approximate with the
    tie-corrected variance.

    The entire rank computation collapses to per-distinct-value counts
    (ties share the midrank): with `below` = count of strictly smaller
    values, the DOUBLED rank-sum Σ c_a·(2·below + c + 1) is exact long
    arithmetic — no per-row ranking, no float until the final closed-
    form z (identical IEEE tree both engines). The cumulative window
    again runs over |distinct values| rows; the tie-correction term
    Σ(t³-t) rides the same aggregate. The 100-TB form pre-bins values
    exactly like the KS note.
    """
    o = load_table(spark, sf_dir, "orders")
    s = o.select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", F.lit(1))
        .otherwise(F.lit(0))
        .alias("a"),
    )
    g = s.groupBy("v").agg(
        F.sum("a").alias("ca"), F.count(F.lit(1)).alias("c")
    )
    wb = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    r = g.select(
        "v",
        "ca",
        "c",
        F.coalesce(F.sum("c").over(wb), F.lit(0)).alias("below"),
    )
    t = r.agg(
        F.sum("ca").alias("na"),
        F.sum(F.col("c") - F.col("ca")).alias("nb"),
        F.sum(
            F.col("ca") * (F.lit(2) * F.col("below") + F.col("c") + 1)
        ).alias("ra2"),
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        ).alias("ties3"),
    )
    na, nb = F.col("na"), F.col("nb")
    u_a = (F.col("ra2").cast("double") - na * (na + F.lit(1.0))) / F.lit(2.0)
    var = (
        na.cast("double")
        * nb
        / F.lit(12.0)
        * (
            (na + nb + F.lit(1.0))
            - F.col("ties3").cast("double")
            / ((na + nb) * (na + nb - F.lit(1.0)))
        )
    )
    z = (u_a - na.cast("double") * nb / F.lit(2.0)) / F.sqrt(var)
    return t.select("na", "nb", u_a.alias("u_a"), z.alias("z"))


@register(
    "stat_welch_ttest",
    oracle=f"""
WITH g AS (
  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'a' ELSE 'b' END
           AS grp,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM({grid_sql('o_totalprice', 0)})
              AS BIGINT) AS s1,
         CAST(SUM({grid_sql('o_totalprice', 0)}
                  * {grid_sql('o_totalprice', 0)})
              AS BIGINT) AS s2
  FROM orders GROUP BY 1
),
w AS (
  SELECT MAX(CASE WHEN grp = 'a' THEN n END) AS n1,
         MAX(CASE WHEN grp = 'b' THEN n END) AS n2,
         MAX(CASE WHEN grp = 'a' THEN s1 END) AS a1,
         MAX(CASE WHEN grp = 'b' THEN s1 END) AS b1,
         MAX(CASE WHEN grp = 'a' THEN s2 END) AS a2,
         MAX(CASE WHEN grp = 'b' THEN s2 END) AS b2
  FROM g
)
SELECT n1, n2,
       CAST(a1 AS DOUBLE) / n1 - CAST(b1 AS DOUBLE) / n2 AS mean_diff,
       (CAST(a1 AS DOUBLE) / n1 - CAST(b1 AS DOUBLE) / n2)
       / sqrt((CAST(a2 AS DOUBLE) - CAST(a1 AS DOUBLE) * a1 / n1)
                / (n1 - 1.0) / n1
              + (CAST(b2 AS DOUBLE) - CAST(b1 AS DOUBLE) * b1 / n2)
                / (n2 - 1.0) / n2) AS t_stat
FROM w
""",
)
def stat_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t statistic for the same A/B split —
    the parametric rung next to `stat_mann_whitney`: group means and
    sample variances come from exact cent-long (n, Σx, Σx²) triples
    (the `agg_higher_moments` monoid — WHOLE-UNIT grid: the cent grid
    squares past 2⁶³ on this column), t = Δmean/√(v₁/n₁ + v₂/n₂) is
    one closed-form double expression over the exact longs.

    ONE pass over the data computing both groups' triples in a single
    aggregation; the 2-row pivot and the t formula are driver-
    trivial. Mergeable, partition-invariant, and the A/B test
    harness every experimentation platform runs at 100 TB — the
    sufficient stats per (experiment, arm) are a tiny keyed aggregate.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = grid("o_totalprice", 0)
    g = o.groupBy(
        F.when(F.col("o_orderpriority") == "1-URGENT", "a")
        .otherwise("b")
        .alias("grp")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s1"),
        F.sum(cents * cents).alias("s2"),
    )
    w = g.agg(
        F.max(F.when(F.col("grp") == "a", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == "b", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("grp") == "a", F.col("s1"))).alias("a1"),
        F.max(F.when(F.col("grp") == "b", F.col("s1"))).alias("b1"),
        F.max(F.when(F.col("grp") == "a", F.col("s2"))).alias("a2"),
        F.max(F.when(F.col("grp") == "b", F.col("s2"))).alias("b2"),
    )
    mean_diff = (
        F.col("a1").cast("double") / F.col("n1")
        - F.col("b1").cast("double") / F.col("n2")
    )
    va = (
        (
            F.col("a2").cast("double")
            - F.col("a1").cast("double") * F.col("a1") / F.col("n1")
        )
        / (F.col("n1") - F.lit(1.0))
        / F.col("n1")
    )
    vb = (
        (
            F.col("b2").cast("double")
            - F.col("b1").cast("double") * F.col("b1") / F.col("n2")
        )
        / (F.col("n2") - F.lit(1.0))
        / F.col("n2")
    )
    t_stat = mean_diff / F.sqrt(va + vb)
    return w.select(
        "n1", "n2", mean_diff.alias("mean_diff"), t_stat.alias("t_stat")
    )


@register(
    "ml_auc_roc",
    oracle="""
WITH s AS (
  SELECT o_totalprice AS score,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders
),
g AS (
  SELECT score, CAST(SUM(y) AS BIGINT) AS cp,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM s GROUP BY score
),
r AS (
  SELECT cp, c,
         CAST(COALESCE(SUM(c) OVER (ORDER BY score
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS below
  FROM g
),
t AS (
  SELECT CAST(SUM(cp) AS BIGINT) AS np,
         CAST(SUM(c - cp) AS BIGINT) AS nn,
         CAST(SUM(cp * (2 * below + c + 1)) AS BIGINT) AS rp2
  FROM r
)
SELECT np AS n_pos, nn AS n_neg,
       ((CAST(rp2 AS DOUBLE) - np * (np + 1.0)) / 2.0)
       / (CAST(np AS DOUBLE) * nn) AS auc
FROM t
""",
)
def ml_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of a score column against a binary label WITHOUT
    enumerating thresholds: AUC = U/(n₊·n₋) — the probability a random
    positive outranks a random negative — computed by the exact
    rank-sum identity (`stat_mann_whitney`'s midrank algebra wearing
    its ML-evaluation hat; ties get 0.5 credit automatically via the
    midrank). This is how AUC is evaluated at 100 TB: one collapse to
    per-distinct-score counts, one cumulative window over the
    collapsed aggregate, one closed-form division of exact longs — no
    per-threshold scan, no sort of raw rows.
    """
    o = load_table(spark, sf_dir, "orders")
    s = o.select(
        F.col("o_totalprice").alias("score"),
        F.when(F.col("o_orderpriority") == "1-URGENT", F.lit(1))
        .otherwise(F.lit(0))
        .alias("y"),
    )
    g = s.groupBy("score").agg(
        F.sum("y").alias("cp"), F.count(F.lit(1)).alias("c")
    )
    wb = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    r = g.select(
        "cp", "c", F.coalesce(F.sum("c").over(wb), F.lit(0)).alias("below")
    )
    t = r.agg(
        F.sum("cp").alias("np"),
        F.sum(F.col("c") - F.col("cp")).alias("nn"),
        F.sum(
            F.col("cp") * (F.lit(2) * F.col("below") + F.col("c") + 1)
        ).alias("rp2"),
    )
    auc = (
        (F.col("rp2").cast("double") - F.col("np") * (F.col("np") + F.lit(1.0)))
        / F.lit(2.0)
    ) / (F.col("np").cast("double") * F.col("nn"))
    return t.select(
        F.col("np").alias("n_pos"), F.col("nn").alias("n_neg"),
        auc.alias("auc"),
    )


#: decision-stump candidate thresholds are the feature's distinct
#: values; the split test is `feature <= v`.
def _gini_splits(cum: DataFrame, *keys: str) -> DataFrame:
    """Every ``x <= threshold`` split of the cumulative class counts
    ``(keys..., x, lp, lc, tp, tc)`` that leaves both children non-empty,
    with its weighted Gini impurity on the 1e-12 grid:
    ``(keys..., threshold, n_left, n_right, gini_g)``. Spark twin of
    :func:`_gini_splits_sql`."""
    lp, lc = F.col("lp").cast("double"), F.col("lc")
    tp, tc = F.col("tp").cast("double"), F.col("tc")
    rp = tp - lp
    rc = (tc - lc).cast("double")
    pl = lp / lc
    pr = rp / rc
    gini = (lc.cast("double") / tc) * (
        F.lit(1.0) - pl * pl - (F.lit(1.0) - pl) * (F.lit(1.0) - pl)
    ) + (rc / tc) * (
        F.lit(1.0) - pr * pr - (F.lit(1.0) - pr) * (F.lit(1.0) - pr)
    )
    return cum.where(
        (F.col("lc") > 0) & (F.col("tc") - F.col("lc") > 0)
    ).select(
        *keys,
        F.col("x").alias("threshold"),
        F.col("lc").alias("n_left"),
        (F.col("tc") - F.col("lc")).alias("n_right"),
        grid(gini, 12).alias("gini_g"),
    )


def _gini_splits_sql(keys: str) -> str:
    """The ``splits`` CTE over ``cum``: the SQL twin of :func:`_gini_splits`;
    ``keys`` is the select-list prefix of the key columns (``"b, "``)."""
    return f"""splits AS (
  SELECT {keys}x AS threshold, lc AS n_left, tc - lc AS n_right,
         {grid_sql('''(
           (CAST(lc AS DOUBLE) / tc)
             * (1.0 - (CAST(lp AS DOUBLE) / lc) * (CAST(lp AS DOUBLE) / lc)
                    - (1.0 - CAST(lp AS DOUBLE) / lc)
                      * (1.0 - CAST(lp AS DOUBLE) / lc))
           + (CAST(tc - lc AS DOUBLE) / tc)
             * (1.0 - (CAST(tp - lp AS DOUBLE) / (tc - lc))
                      * (CAST(tp - lp AS DOUBLE) / (tc - lc))
                    - (1.0 - CAST(tp - lp AS DOUBLE) / (tc - lc))
                      * (1.0 - CAST(tp - lp AS DOUBLE) / (tc - lc)))
         )''', 12)} AS gini_g
  FROM cum WHERE lc > 0 AND tc - lc > 0
)"""


@register(
    "ml_decision_stump",
    oracle=f"""
WITH s AS (
  SELECT l_quantity AS x,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem
),
g AS (
  SELECT x, CAST(SUM(y) AS BIGINT) AS p, CAST(COUNT(*) AS BIGINT) AS c
  FROM s GROUP BY x
),
cum AS (
  SELECT x,
         CAST(SUM(p) OVER (ORDER BY x) AS BIGINT) AS lp,
         CAST(SUM(c) OVER (ORDER BY x) AS BIGINT) AS lc,
         CAST(SUM(p) OVER () AS BIGINT) AS tp,
         CAST(SUM(c) OVER () AS BIGINT) AS tc
  FROM g
),
{_gini_splits_sql("")}
SELECT threshold, n_left, n_right,
       CAST(gini_g AS DOUBLE) / 1000000000000.0 AS gini
FROM splits
ORDER BY gini_g, threshold
LIMIT 1
""",
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a depth-1 decision tree (stump) relationally: every
    distinct feature value is a candidate `x <= v` split, and ONE
    cumulative window over the per-value (positives, count) aggregate
    yields both children's class counts for every candidate at once —
    the weighted-Gini argmin is then a top-1 selection. This is
    exactly how distributed tree learners (XGBoost's exact mode,
    Spark MLlib trees) evaluate split candidates: histogram → prefix
    sums → impurity scan, never a per-candidate pass over the data.

    The Gini expression is closed-form over exact longs, floored onto
    a 1e-12 grid so the argmin (ORDER BY the GRIDDED integer, then
    threshold) cannot flip on a float ulp; ties break toward the
    smaller threshold in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = li.select(
        F.col("l_quantity").alias("x"),
        F.when(F.col("l_returnflag") == "R", F.lit(1))
        .otherwise(F.lit(0))
        .alias("y"),
    )
    g = s.groupBy("x").agg(
        F.sum("y").alias("p"), F.count(F.lit(1)).alias("c")
    )
    wc = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    cum = g.select(
        "x",
        F.sum("p").over(wc).alias("lp"),
        F.sum("c").over(wc).alias("lc"),
        F.sum("p").over(wt).alias("tp"),
        F.sum("c").over(wt).alias("tc"),
    )
    splits = _gini_splits(cum)
    return (
        splits.orderBy("gini_g", "threshold")
        .limit(1)
        .select(
            "threshold",
            "n_left",
            "n_right",
            (F.col("gini_g").cast("double") / F.lit(1e12)).alias("gini"),
        )
    )


#: classifier operating point for the confusion matrix.
_CONF_THRESHOLD = 250000.0


@register(
    "ml_confusion_matrix",
    oracle=f"""
WITH s AS (
  SELECT CASE WHEN o_totalprice > {_CONF_THRESHOLD} THEN 1 ELSE 0 END
           AS yhat,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders
),
m AS (
  SELECT CAST(SUM(y * yhat) AS BIGINT) AS tp,
         CAST(SUM((1 - y) * yhat) AS BIGINT) AS fp,
         CAST(SUM(y * (1 - yhat)) AS BIGINT) AS fn,
         CAST(SUM((1 - y) * (1 - yhat)) AS BIGINT) AS tn
  FROM s
)
SELECT tp, fp, fn, tn,
       CAST(tp AS DOUBLE) / (tp + fp) AS precision,
       CAST(tp AS DOUBLE) / (tp + fn) AS recall,
       2.0 * tp / (2.0 * tp + fp + fn) AS f1
FROM m
""",
)
def ml_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + precision/recall/F1 at a fixed operating
    point — the evaluation companion to `ml_auc_roc` (AUC ranks the
    score; this scores ONE threshold): all four cells come from a
    single aggregation of indicator products (no joins, no
    conditionals beyond the two CASE columns), and the metrics are
    exact-integer ratios. The F1 uses the joinless 2tp/(2tp+fp+fn)
    identity so no intermediate precision/recall float feeds another
    division. Per-(experiment, model, threshold) at scale this is one
    tiny keyed aggregate — the eval-harness shape.
    """
    o = load_table(spark, sf_dir, "orders")
    s = o.select(
        F.when(F.col("o_totalprice") > _CONF_THRESHOLD, F.lit(1))
        .otherwise(F.lit(0))
        .alias("yhat"),
        F.when(F.col("o_orderpriority") == "1-URGENT", F.lit(1))
        .otherwise(F.lit(0))
        .alias("y"),
    )
    m = s.agg(
        F.sum(F.col("y") * F.col("yhat")).alias("tp"),
        F.sum((F.lit(1) - F.col("y")) * F.col("yhat")).alias("fp"),
        F.sum(F.col("y") * (F.lit(1) - F.col("yhat"))).alias("fn"),
        F.sum(
            (F.lit(1) - F.col("y")) * (F.lit(1) - F.col("yhat"))
        ).alias("tn"),
    )
    return m.select(
        "tp",
        "fp",
        "fn",
        "tn",
        (F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))).alias(
            "precision"
        ),
        (F.col("tp").cast("double") / (F.col("tp") + F.col("fn"))).alias(
            "recall"
        ),
        (
            F.lit(2.0)
            * F.col("tp")
            / (F.lit(2.0) * F.col("tp") + F.col("fp") + F.col("fn"))
        ).alias("f1"),
    )


@register(
    "ml_calibration_bins",
    oracle=f"""
WITH s AS (
  SELECT CAST(FLOOR(o_totalprice / 60000.0) AS BIGINT) AS bin,
         o_totalprice AS score,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders
)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM({grid_sql('score', 0)}) AS DOUBLE)
         / COUNT(*) AS mean_score,
       CAST(SUM(y) AS DOUBLE) / COUNT(*) AS pos_rate
FROM s GROUP BY bin
HAVING COUNT(*) >= 50
""",
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability / calibration table: scores bucketed onto a fixed
    grid, each bin reporting its mean (whole-unit-exact) score and the
    observed positive rate — the x/y pairs of a calibration plot, and
    the input to expected-calibration-error. Fixed-width binning (not
    quantile) keeps the operator a single hash aggregation with a
    deterministic bin id at any scale; sparse bins are pruned at a
    row-count threshold. Ratios of exact longs throughout.
    """
    o = load_table(spark, sf_dir, "orders")
    s = o.select(
        F.floor(F.col("o_totalprice") / F.lit(60000.0)).cast("long").alias(
            "bin"
        ),
        F.col("o_totalprice").alias("score"),
        F.when(F.col("o_orderpriority") == "1-URGENT", F.lit(1))
        .otherwise(F.lit(0))
        .alias("y"),
    )
    return (
        s.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(grid("score", 0)).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_score"),
            (F.sum("y").cast("double") / F.count(F.lit(1))).alias(
                "pos_rate"
            ),
        )
        .where(F.col("n") >= 50)
    )


def _ranked_neighbours(
    spark: SparkSession, sf_dir: str, n_queries: int
) -> DataFrame:
    """Exact squared-Euclidean neighbour ranks of the embeddings with
    ``vec_id < n_queries`` against every other embedding, on the 1e-6
    component grid: ``(q, ql, m, ml, dist, rn)``, ``rn`` by ``(dist, m)``.
    The queries are a bounded broadcast batch against the member scan.
    Spark twin of :func:`_ranked_neighbours_sql`."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: grid(x.cast("double"), 6),
        ).alias("g"),
    )
    q = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q"), F.col("label").alias("ql"),
        F.col("g").alias("qg"),
    )
    m = e.select(
        F.col("vec_id").alias("m"), F.col("label").alias("ml"),
        F.col("g").alias("mg"),
    )
    dist = F.aggregate(
        F.zip_with("qg", "mg", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pair = (
        F.broadcast(q)
        .join(m, F.col("q") != F.col("m"))
        .select("q", "ql", "m", "ml", dist.alias("dist"))
    )
    w = Window.partitionBy("q").orderBy("dist", "m")
    return pair.withColumn("rn", F.row_number().over(w))


def _ranked_neighbours_sql(n_queries: int) -> str:
    """The ``dims``, ``pair`` and ``ranked`` CTEs: the SQL twin of
    :func:`_ranked_neighbours`."""
    return f"""dims AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
         {grid_sql('CAST(unnest(embedding) AS DOUBLE)', 6)} AS g
  FROM embeddings
),
pair AS (
  SELECT a.vec_id AS q, MIN(a.label) AS ql, b.vec_id AS m,
         MIN(b.label) AS ml,
         CAST(SUM((a.g - b.g) * (a.g - b.g)) AS BIGINT) AS dist
  FROM dims a JOIN dims b ON a.i = b.i AND a.vec_id != b.vec_id
  WHERE a.vec_id < {n_queries}
  GROUP BY a.vec_id, b.vec_id
),
ranked AS (
  SELECT q, ql, ml,
         ROW_NUMBER() OVER (PARTITION BY q ORDER BY dist, m) AS rn
  FROM pair
)"""


#: NDCG evaluation: query batch size, cutoff, integer-grid components.
_NDCG_QUERIES = 50
_NDCG_K = 10


@register(
    "ml_ndcg_at_k",
    oracle=f"""
WITH {_ranked_neighbours_sql(_NDCG_QUERIES)},
dcg AS (
  SELECT q,
         CAST(SUM(CASE WHEN ml = ql AND rn <= {_NDCG_K}
           THEN {grid_sql('1000000000.0 / ln(rn + 1.0)', 0)}
           ELSE 0 END) AS BIGINT) AS dcg_g,
         CAST(SUM(CASE WHEN ml = ql THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rel,
         CAST(SUM(CASE WHEN ml = ql AND rn <= {_NDCG_K} THEN 1 ELSE 0 END)
              AS BIGINT) AS hits_at_k
  FROM ranked GROUP BY q
),
ideal AS (
  SELECT q, dcg_g, hits_at_k,
         CAST(SUM({grid_sql('1000000000.0 / ln(r + 1.0)', 0)})
              AS BIGINT) AS idcg_g
  FROM dcg
  JOIN (SELECT CAST(unnest(generate_series(1, {_NDCG_K})) AS BIGINT)
          AS r) ON r <= LEAST(n_rel, {_NDCG_K})
  GROUP BY q, dcg_g, hits_at_k
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM({grid_sql('CAST(dcg_g AS DOUBLE) / idcg_g', 6)}) AS DOUBLE)
         / 1000000.0 / COUNT(*) AS mean_ndcg,
       CAST(SUM(hits_at_k) AS DOUBLE) / ({_NDCG_K} * COUNT(*))
         AS precision_at_k
FROM ideal
""",
)
def ml_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation: NDCG@10 and precision@10 of
    nearest-neighbor search against label relevance (a result is
    relevant iff it shares the query's class label) — the eval-harness
    operator that grades every ANN rung (`sim_knn_*`, `ann_ivf*`,
    `emb_matryoshka_recall`) on the SAME labeled fixture. Rankings use
    exact integer squared-Euclidean distances with total tie-breaks
    (the `emb_matryoshka_recall` discipline), the per-rank discount
    1/ln(r+1) lands on a 1e-9 grid, each query's NDCG ratio on 1e-6 —
    the mean is exact-integer arithmetic end to end.

    The ideal-DCG joins each query against a literal 1..k rank table
    capped by its relevant count — no second ranking pass. Queries are
    a bounded broadcast batch against the member scan (serving shape);
    at 100 TB the member side is the index-pruned candidate list.
    """
    ranked = _ranked_neighbours(spark, sf_dir, _NDCG_QUERIES)
    zero = F.lit(0).cast("long")
    disc = grid(F.lit(1e9) / F.log(F.col("rn") + F.lit(1.0)), 0)
    rel = F.col("ml") == F.col("ql")
    dcg = ranked.groupBy("q").agg(
        F.sum(
            F.when(rel & (F.col("rn") <= _NDCG_K), disc).otherwise(zero)
        ).alias("dcg_g"),
        F.sum(rel.cast("long")).alias("n_rel"),
        F.sum(
            (rel & (F.col("rn") <= _NDCG_K)).cast("long")
        ).alias("hits_at_k"),
    )
    ranks = F.explode(F.sequence(F.lit(1), F.lit(_NDCG_K))).alias("r")
    ideal = (
        dcg.select("q", "dcg_g", "hits_at_k", "n_rel", ranks)
        .where(F.col("r") <= F.least(F.col("n_rel"), F.lit(_NDCG_K)))
        .groupBy("q", "dcg_g", "hits_at_k")
        .agg(
            F.sum(grid(F.lit(1e9) / F.log(F.col("r") + F.lit(1.0)), 0)).alias("idcg_g")
        )
    )
    ndcg_g = grid(F.col("dcg_g").cast("double") / F.col("idcg_g"), 6)
    return ideal.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (
            F.sum(ndcg_g).cast("double") / F.lit(1e6) / F.count(F.lit(1))
        ).alias("mean_ndcg"),
        (
            F.sum("hits_at_k").cast("double")
            / (F.lit(_NDCG_K) * F.count(F.lit(1)))
        ).alias("precision_at_k"),
    )


@register(
    "agg_gini_coefficient",
    oracle=f"""
WITH g AS (
  SELECT {grid_sql('o_totalprice', 2)} AS cents
  FROM orders
),
v AS (
  SELECT cents, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY cents
),
cum AS (
  SELECT cents, c,
         CAST(COALESCE(SUM(c) OVER (ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS below
  FROM v
),
s AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(cents * c) AS BIGINT) AS tot,
         CAST(SUM(cents * c * (2 * below + c + 1)) AS HUGEINT) AS wsum
  FROM cum
)
SELECT n,
       (CAST(wsum AS DOUBLE) / (CAST(n AS DOUBLE) * tot))
         - (n + 1.0) / n AS gini
FROM s
""",
)
def agg_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the order-value distribution — the
    inequality/concentration metric (0 = equal, →1 = one whale):
    G = (2·Σᵢ i·xᵢ)/(n·Σx) − (n+1)/n over ascending-sorted values,
    computed WITHOUT materializing per-row ranks: collapse to
    per-distinct-value counts, then Σᵢ i·xᵢ for a run of c equal
    values starting above `below` others is x·c·(2·below+c+1)/2 in
    closed form — the `stat_mann_whitney` midrank trick applied to a
    weighted rank-sum.

    The doubled weighted sum can exceed 2⁶³ on this column (cents ×
    count × rank), so BOTH engines accumulate it in wide exact
    integers — HUGEINT in the oracle, DECIMAL(38,0) in the engine
    (the decimal(38,s)-accumulator remedy of functions/exact.py) — and convert
    the identical exact integer to double once at the end (round-to-
    nearest of the same value in both engines). Each per-row product
    stays under 2⁶³, only the accumulator widens. One collapse + one
    cumulative window over |distinct values| rows.
    """
    o = load_table(spark, sf_dir, "orders")
    g = o.select(
        grid("o_totalprice", 2).alias("cents")
    )
    v = g.groupBy("cents").agg(F.count(F.lit(1)).alias("c"))
    wb = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = v.select(
        "cents",
        "c",
        F.coalesce(F.sum("c").over(wb), F.lit(0)).alias("below"),
    )
    s = cum.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("cents") * F.col("c")).alias("tot"),
        F.sum(
            (
                F.col("cents")
                * F.col("c")
                * (F.lit(2) * F.col("below") + F.col("c") + 1)
            ).cast("decimal(38,0)")
        ).alias("wsum"),
    )
    gini = (
        F.col("wsum").cast("double")
        / (F.col("n").cast("double") * F.col("tot"))
    ) - (F.col("n") + F.lit(1.0)) / F.col("n")
    return s.select("n", gini.alias("gini"))


@register(
    "stat_anova_oneway",
    oracle=f"""
WITH g AS (
  SELECT o_orderpriority AS grp,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM({grid_sql('o_totalprice', 0)}) AS BIGINT)
           AS s1,
         CAST(SUM({grid_sql('o_totalprice', 0)}
                  * {grid_sql('o_totalprice', 0)}) AS BIGINT)
           AS s2
  FROM orders GROUP BY o_orderpriority
),
t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_tot,
         CAST(SUM(s1) AS BIGINT) AS s1_tot,
         CAST(SUM(s2) AS BIGINT) AS s2_tot,
         CAST(SUM({grid_sql('CAST(s1 AS DOUBLE) * s1 / n', 0)}) AS BIGINT) AS group_sq_g
  FROM g
)
SELECT k, n_tot,
       (CAST(group_sq_g AS DOUBLE)
        - CAST(s1_tot AS DOUBLE) * s1_tot / n_tot) / (k - 1)
       / ((CAST(s2_tot AS DOUBLE) - CAST(group_sq_g AS DOUBLE))
          / (n_tot - k)) AS f_stat
FROM t
""",
)
def stat_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic across the five order priorities —
    the k-group generalization of `stat_welch_ttest`: between-group
    mean square over within-group mean square, entirely from each
    group's exact (n, Σx, Σx²) triple. SSB = Σ(S_g²/n_g) − S²/N and
    SSW = ΣΣx² − Σ(S_g²/n_g) are closed-form doubles over the exact
    longs (whole-unit grid — the Welch overflow note applies).

    One data-sized aggregation producing k triples; the F assembly is
    a second aggregate over k rows, with each group's S_g²/n_g term
    FLOORED to a whole unit before the cross-group sum (measured:
    the un-gridded 5-double sum differed between engines at the
    1e-11 level purely from summation order — the chi-squared cell
    discipline applies to ANY cross-group float sum, even a 5-term
    one). The whole-unit truncation perturbs F by < 1e-13 relative.
    """
    o = load_table(spark, sf_dir, "orders")
    units = grid("o_totalprice", 0)
    g = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(units).alias("s1"),
        F.sum(units * units).alias("s2"),
    )
    t = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_tot"),
        F.sum("s1").alias("s1_tot"),
        F.sum("s2").alias("s2_tot"),
        F.sum(
            grid(F.col("s1").cast("double") * F.col("s1") / F.col("n"), 0)
        ).alias("group_sq_g"),
    )
    group_sq = F.col("group_sq_g").cast("double")
    ssb = (
        group_sq
        - F.col("s1_tot").cast("double") * F.col("s1_tot") / F.col("n_tot")
    )
    ssw = F.col("s2_tot").cast("double") - group_sq
    f_stat = (ssb / (F.col("k") - F.lit(1))) / (
        ssw / (F.col("n_tot") - F.col("k"))
    )
    return t.select("k", "n_tot", f_stat.alias("f_stat"))


#: feature-hashing dimensionality (the "hashing trick" bucket count).
_FH_DIM = 256


@register(
    "ml_feature_hashing",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents WHERE doc_id < 50
),
hashed AS (
  SELECT doc_id,
         CAST({md5_int_sql("w", 2, 8)} % {_FH_DIM} AS BIGINT) AS bucket,
         CASE WHEN substr(md5(w), 1, 1) IN ('8','9','a','b','c','d',
                                            'e','f')
              THEN -1 ELSE 1 END AS sign
  FROM toks
)
SELECT doc_id, bucket,
       CAST(SUM(sign) AS BIGINT) AS feature_value,
       CAST(COUNT(*) AS BIGINT) AS n_tokens
FROM hashed GROUP BY doc_id, bucket
HAVING SUM(sign) != 0
""",
)
def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al.): vocabulary-free sparse
    feature vectors — each token maps to one of 256 buckets by a hash
    of its text, with a second hash BIT deciding ±1 sign (the signed
    variant that makes collisions cancel in expectation instead of
    biasing upward). No vocabulary table, no fitting pass, identical
    features on any data split — why streaming/online learners use it.

    Cross-engine determinism comes from md5 (the `dedup_minhash_sql`
    parity): hex chars 2-9 parse as a 32-bit bucket index, the first
    hex digit's high bit is the sign. One explode + one hash aggregate
    keyed (doc, bucket) — the output is the sparse CSR content,
    bounded by min(doc tokens, 256) rows per document. Zero-sum
    buckets (exact collision cancellation) drop, matching sparse
    semantics.
    """
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 50
    )
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    h = F.md5("w")
    bucket = (md5_int("w", 2, 8) % _FH_DIM).alias("bucket")
    sign = (
        F.when(
            F.substring(h, 1, 1).isin(
                "8", "9", "a", "b", "c", "d", "e", "f"
            ),
            F.lit(-1),
        )
        .otherwise(F.lit(1))
        .alias("sign")
    )
    hashed = toks.select("doc_id", bucket, sign)
    return (
        hashed.groupBy("doc_id", "bucket")
        .agg(
            F.sum("sign").alias("feature_value"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .where(F.col("feature_value") != 0)
    )


#: target-encoding smoothing strength (pseudo-observations of the
#: global prior blended into each category mean).
_TE_SMOOTH = 20


@register(
    "ml_target_encoding",
    oracle=f"""
WITH s AS (
  SELECT c_mktsegment AS category,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
),
g AS (
  SELECT category, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS pos
  FROM s GROUP BY category
),
t AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_tot, CAST(SUM(pos) AS BIGINT)
           AS pos_tot
  FROM g
)
SELECT category, n, pos,
       CAST(pos AS DOUBLE) / n AS raw_rate,
       (pos + {_TE_SMOOTH}.0 * pos_tot / n_tot) / (n + {_TE_SMOOTH})
         AS encoded
FROM g CROSS JOIN t
""",
)
def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding of a categorical feature: each
    category's urgent-order rate shrunk toward the global prior by
    m = 20 pseudo-observations — the additive-smoothing estimator
    (n·rate + m·prior)/(n + m) that keeps rare categories from
    memorizing their few labels (the leakage vector naive target
    encoding is infamous for; at training time the same formula runs
    per CV fold). The encoding table IS the model artifact: category-
    keyed, joined back onto features at serving time.

    One fact-sized join+aggregate (customer dimension broadcast), a
    1-row global prior broadcast back, and every reported number is a
    ratio of exact longs — the identical IEEE tree in both engines.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    s = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("category"),
        F.when(F.col("o_orderpriority") == "1-URGENT", F.lit(1))
        .otherwise(F.lit(0))
        .alias("y"),
    )
    g = s.groupBy("category").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    t = g.agg(
        F.sum("n").alias("n_tot"), F.sum("pos").alias("pos_tot")
    )
    prior = F.col("pos_tot").cast("double") / F.col("n_tot")
    return g.crossJoin(F.broadcast(t)).select(
        "category",
        "n",
        "pos",
        (F.col("pos").cast("double") / F.col("n")).alias("raw_rate"),
        (
            (F.col("pos") + F.lit(float(_TE_SMOOTH)) * prior)
            / (F.col("n") + F.lit(_TE_SMOOTH))
        ).alias("encoded"),
    )


@register(
    "stat_ratio_delta_method",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY user_id
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM per_user
)
SELECT n AS n_users,
       CAST(sy AS DOUBLE) / sx AS ratio,
       sqrt(
         ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / (n - 1.0)
          - 2.0 * (CAST(sy AS DOUBLE) / sx)
            * ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
               / (n - 1.0))
          + (CAST(sy AS DOUBLE) / sx) * (CAST(sy AS DOUBLE) / sx)
            * ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
               / (n - 1.0)))
         / n) / (CAST(sx AS DOUBLE) / n) AS ratio_se
FROM s
""",
)
def stat_ratio_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard error of a RATIO metric by the delta method — the
    experimentation-platform staple for per-user ratio metrics
    (purchases-per-event here; sessions-per-user, revenue-per-session
    in general): the naive binomial SE is WRONG because both numerator
    and denominator vary per user and correlate. The delta-method SE
    uses var(Y), var(X), cov(X,Y) of the PER-USER totals:
    SE(ΣY/ΣX) ≈ √[(var_y − 2r·cov + r²·var_x)/n] / mean_x.

    One pass to per-user (x, y) pairs, one pass to the five moment
    sums (the `stat_corr_matrix` algebra — exact longs), one
    closed-form double. An A/B harness computes this per (experiment,
    arm) as a tiny keyed aggregate; without it, ratio-metric
    "significance" is overstated whenever heavy users dominate both
    sides.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
    )
    s = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    r = F.col("sy").cast("double") / F.col("sx")
    var_y = (
        F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy") / n
    ) / (n - F.lit(1.0))
    var_x = (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx") / n
    ) / (n - F.lit(1.0))
    cov = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy") / n
    ) / (n - F.lit(1.0))
    se = F.sqrt(
        (var_y - F.lit(2.0) * r * cov + r * r * var_x) / n
    ) / (F.col("sx").cast("double") / n)
    return s.select(
        F.col("n").alias("n_users"), r.alias("ratio"), se.alias("ratio_se")
    )


@register(
    "ml_psi_drift",
    oracle=f"""
WITH base AS (
  SELECT CAST(FLOOR(o_totalprice / 60000.0) AS BIGINT) AS bin,
         CASE WHEN CAST(o_orderdate AS DATE) < DATE '2022-01-01'
              THEN 'ref' ELSE 'cur' END AS period
  FROM orders
),
c AS (
  SELECT bin,
         CAST(SUM(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ref,
         CAST(SUM(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_cur
  FROM base GROUP BY bin
),
t AS (
  SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref,
         CAST(SUM(n_cur) AS BIGINT) AS t_cur
  FROM c
),
terms AS (
  SELECT {grid_sql('''
           ((CAST(n_cur AS DOUBLE) + 0.5) / (t_cur + 0.5)
            - (CAST(n_ref AS DOUBLE) + 0.5) / (t_ref + 0.5))
           * ln(((CAST(n_cur AS DOUBLE) + 0.5) / (t_cur + 0.5))
                / ((CAST(n_ref AS DOUBLE) + 0.5) / (t_ref + 0.5)))''', 9)} AS term_g
  FROM c CROSS JOIN t
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(CAST(SUM(term_g) AS BIGINT) AS DOUBLE) / 1000000000.0 AS psi
FROM terms
""",
)
def ml_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-value distribution,
    reference period vs current — THE tabular feature-drift gate
    model-monitoring stacks run per feature per day (PSI < 0.1 stable,
    0.1–0.25 investigate, > 0.25 retrain; `emb_drift_monitor` is the
    embedding-space sibling, `corpus_kl_divergence` the one-sided
    divergence): PSI = Σ_bins (p_cur − p_ref)·ln(p_cur/p_ref), the
    SYMMETRIZED KL that penalizes drift in either direction.

    Both periods bin in ONE aggregation (CASE sums — the
    `privacy_t_closeness` shape), +0.5 additive smoothing keeps
    empty-bin logs finite in both engines identically, and each bin's
    term is floored onto a 1e-9 grid before the final sum (the
    KL/entropy discipline). At 100 TB this is one map-combining pass
    per (feature, day) — the whole drift dashboard is a handful of
    tiny keyed aggregates.
    """
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.floor(F.col("o_totalprice") / F.lit(60000.0)).cast("long").alias(
            "bin"
        ),
        F.when(
            F.col("o_orderdate").cast("date") < F.lit("2022-01-01").cast("date"),
            "ref",
        )
        .otherwise("cur")
        .alias("period"),
    )
    c = base.groupBy("bin").agg(
        F.sum(F.when(F.col("period") == "ref", 1).otherwise(0)).alias(
            "n_ref"
        ),
        F.sum(F.when(F.col("period") == "cur", 1).otherwise(0)).alias(
            "n_cur"
        ),
    )
    t = c.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p_cur = (F.col("n_cur").cast("double") + F.lit(0.5)) / (
        F.col("t_cur") + F.lit(0.5)
    )
    p_ref = (F.col("n_ref").cast("double") + F.lit(0.5)) / (
        F.col("t_ref") + F.lit(0.5)
    )
    term_g = grid((p_cur - p_ref) * F.log(p_cur / p_ref), 9)
    return (
        c.crossJoin(F.broadcast(t))
        .select(term_g.alias("term_g"))
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            (F.sum("term_g").cast("double") / F.lit(1e9)).alias("psi"),
        )
    )


@register(
    "stat_spearman_corr",
    oracle="""
WITH r AS (
  SELECT l_returnflag AS rf,
         2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
           + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1 AS rx,
         2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
           + COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1
           AS ry
  FROM lineitem
),
s AS (
  SELECT rf, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
         CAST(SUM(rx * rx) AS BIGINT) AS sxx,
         CAST(SUM(ry * ry) AS BIGINT) AS syy,
         CAST(SUM(rx * ry) AS BIGINT) AS sxy
  FROM r GROUP BY rf
)
SELECT rf AS l_returnflag, n,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
             6) AS spearman_rho
FROM s
""",
)
def stat_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per group — the robust, monotone-
    invariant sibling of `stat_corr_matrix`'s Pearson: Pearson computed
    over AVERAGE ranks (the standard tie treatment). The trick that
    keeps it hash-exact: work with DOUBLED average ranks,
    ``2·minrank + ties − 1`` — an INTEGER (correlation is invariant to
    the 2× scaling), so all six sufficient sums are exact long monoid
    aggregates and the final ρ is one identical IEEE expression from
    exact operands in both engines.

    Plan: two rank windows partitioned by the group key (+ a per-value
    tie count each), then one hash aggregate. At 100 TB the per-group
    sort is the cost — for bounded-domain columns (quantity: 50 values)
    the same doubled-average-ranks come shuffle-free from a per-value
    count grid (the `stat_mann_whitney` collapse); the three product sums run in
    the DECIMAL(38,0) lane (int64 overflows past ~10⁶ rows/group —
    hit in the tools/scaleup.py 10× stress run), same plan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    wq = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    wqt = Window.partitionBy("l_returnflag", "l_quantity")
    wp = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wpt = Window.partitionBy("l_returnflag", "l_extendedprice")
    r = li.select(
        F.col("l_returnflag").alias("rf"),
        (2 * F.rank().over(wq) + F.count(F.lit(1)).over(wqt) - 1).alias("rx"),
        (2 * F.rank().over(wp) + F.count(F.lit(1)).over(wpt) - 1).alias("ry"),
    )
    # the three product sums exceed int64 past ~10⁶ rows/group (rank
    # products reach (2n)²·n ≈ 10²⁰ at sf1 — caught by the tools/
    # scaleup.py 10× stress run), so they accumulate in DECIMAL(38,0):
    # still exact, still a map-side-combinable monoid, and the final
    # ratio casts to double either way. sx/sy stay longs (≤ 2n²).
    d38 = "decimal(38,0)"
    s = r.groupBy("rf").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum((F.col("rx") * F.col("rx")).cast(d38)).alias("sxx"),
        F.sum((F.col("ry") * F.col("ry")).cast(d38)).alias("syy"),
        F.sum((F.col("rx") * F.col("ry")).cast(d38)).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    ) * F.sqrt(nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    return s.select(
        F.col("rf").alias("l_returnflag"),
        "n",
        F.round(num / den, 6).alias("spearman_rho"),
    )


@register(
    "stat_kendall_tau",
    oracle="""
WITH cells AS (
  SELECT l_quantity AS x, CAST(ROUND(l_discount * 100) AS INT) AS y,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
),
cd AS (
  SELECT
    CAST(SUM(CASE WHEN b.y > a.y THEN a.c * b.c ELSE 0 END) AS BIGINT) AS nc,
    CAST(SUM(CASE WHEN b.y < a.y THEN a.c * b.c ELSE 0 END) AS BIGINT) AS nd
  FROM cells a JOIN cells b ON b.x > a.x
),
tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(c * (c - 1)) AS BIGINT) / 2 AS tie_xy
  FROM cells
),
tx AS (
  SELECT CAST(SUM(cx * (cx - 1)) AS BIGINT) / 2 AS tie_x
  FROM (SELECT CAST(SUM(c) AS BIGINT) AS cx FROM cells GROUP BY x)
),
ty AS (
  SELECT CAST(SUM(cy * (cy - 1)) AS BIGINT) / 2 AS tie_y
  FROM (SELECT CAST(SUM(c) AS BIGINT) AS cy FROM cells GROUP BY y)
)
SELECT n, nc, nd,
       ROUND((CAST(nc AS DOUBLE) - nd)
             / sqrt((CAST(n AS DOUBLE) * (n - 1) / 2 - tie_x)
                    * (CAST(n AS DOUBLE) * (n - 1) / 2 - tie_y)),
             6) AS kendall_tau_b
FROM cd CROSS JOIN tot CROSS JOIN tx CROSS JOIN ty
""",
)
def stat_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b between quantity and discount — the concordance-based
    rank correlation, computed the ONLY way it scales: both columns have
    bounded domains (50 quantities × 11 discount cents), so collapse to
    the |domain-x|·|domain-y| contingency grid FIRST, then count
    concordant/discordant PAIRS OF CELLS (weight = c_a·c_b) instead of
    pairs of rows — O(cells²) work that is independent of row count,
    the same collapse `stat_mann_whitney` and `stat_ks_test` ride.
    Tie corrections (τ-b) come from the same grid's row/column margins.

    Everything before the final formula is exact long arithmetic
    (counts, products of counts, exact triangular numbers); the τ-b
    ratio is one identical IEEE expression from those exact operands.
    The cell-pair join is a broadcast of a few-hundred-row grid — no
    shuffle grows with data; only the initial grid groupBy scans rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_quantity").alias("x"),
        F.round(F.col("l_discount") * 100).cast("int").alias("y"),
    ).agg(F.count(F.lit(1)).alias("c"))
    cells = cells.localCheckpoint(eager=True)  # grid feeds 4 consumers
    a, b = cells.alias("a"), cells.alias("b")
    cd = (
        a.join(F.broadcast(b), F.col("b.x") > F.col("a.x"))
        .agg(
            F.sum(
                F.when(
                    F.col("b.y") > F.col("a.y"), F.col("a.c") * F.col("b.c")
                ).otherwise(F.lit(0))
            ).alias("nc"),
            F.sum(
                F.when(
                    F.col("b.y") < F.col("a.y"), F.col("a.c") * F.col("b.c")
                ).otherwise(F.lit(0))
            ).alias("nd"),
        )
    )
    tot = cells.agg(
        F.sum("c").alias("n"),
        (F.sum(F.col("c") * (F.col("c") - 1)) / 2).cast("long").alias("tie_xy"),
    )
    tx = (
        cells.groupBy("x")
        .agg(F.sum("c").alias("cx"))
        .agg(
            (F.sum(F.col("cx") * (F.col("cx") - 1)) / 2)
            .cast("long")
            .alias("tie_x")
        )
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("c").alias("cy"))
        .agg(
            (F.sum(F.col("cy") * (F.col("cy") - 1)) / 2)
            .cast("long")
            .alias("tie_y")
        )
    )
    nd_ = F.col("n").cast("double")
    half = nd_ * (F.col("n") - 1) / 2
    return (
        cd.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .select(
            "n",
            "nc",
            "nd",
            F.round(
                (F.col("nc").cast("double") - F.col("nd"))
                / F.sqrt((half - F.col("tie_x")) * (half - F.col("tie_y"))),
                6,
            ).alias("kendall_tau_b"),
        )
    )


#: Poisson(1) inverse-CDF thresholds on a 16-bit integer uniform:
#: T_k = ceil(P(X<=k) * 65536), so ``w = #{k : u16 >= T_k}`` draws
#: Poisson(1) (k=0..6; the >6 tail truncates to w=7; grid distortion of
#: the pmf is <= 2^-16 per class). Integer thresholds, integer uniform:
#: NO float literal or libm call enters the draw, so cross-engine
#: parity is exact by construction (the ADVICE round-3 transcendental-
#: grid hazard class is structurally absent here).
import math as _math

_POIS_T16 = [
    _math.ceil(
        sum(_math.exp(-1.0) / _math.factorial(j) for j in range(k + 1))
        * 65536
    )
    for k in range(7)
]
_BOOT_B = 32  # replicas: 4 salted md5 digests x 8 16-bit slices


def _boot_w(u16: str) -> str:
    """Poisson(1) inverse CDF of 16-bit uniform ``u16`` as the
    comparison sum ``w = Σ_k (u16 ≥ T_k)`` — branch-free and narrow."""
    arms = " + ".join(f"CAST({u16} >= {t} AS INT)" for t in _POIS_T16)
    return f"({arms})"


#: row key for the bootstrap draws — the FULL unique lineitem key
#: (FIXTURES.md: (l_orderkey, l_linenumber) alone duplicates in the
#: round-4 fixtures, and duplicate keys would draw correlated weights).
_BOOT_KEY_SPARK = (
    "concat(CAST(l_orderkey AS STRING), ':', CAST(l_linenumber AS STRING), "
    "':', CAST(l_partkey AS STRING), ':', CAST(l_suppkey AS STRING))"
)
_BOOT_KEY_DUCK = (
    "l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR || ':' || "
    "l_partkey::VARCHAR || ':' || l_suppkey::VARCHAR"
)

_BOOT_ORACLE = f"""
WITH u AS (
  SELECT {grid_sql('l_extendedprice', 2)} AS cents,
         s.s * 8 + i.i AS b,
         {md5_int_sql(f"{_BOOT_KEY_DUCK} || ':' || s.s::VARCHAR",
                      "4 * i.i::INT + 1", 4)} AS u16
  FROM lineitem, range(0, 4) s(s), range(0, 8) i(i)
),
rep AS (
  SELECT b,
         CAST(SUM({_boot_w("u16")}) AS BIGINT) AS sw,
         CAST(SUM({_boot_w("u16")} * cents) AS BIGINT) AS swc
  FROM u GROUP BY b
),
means AS (
  SELECT list_sort(list(ROUND(swc / sw / 100.0, 4))) AS ms FROM rep
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM({grid_sql('l_extendedprice', 2)})
              AS BIGINT) AS sc
  FROM lineitem
)
SELECT n,
       ROUND(sc / n / 100.0, 4) AS est_mean,
       ms[2] AS ci_lo,
       ms[31] AS ci_hi
FROM tot, means
"""


@register("stat_bootstrap_ci", oracle=_BOOT_ORACLE)
def stat_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean — the
    resampling scheme that actually distributes (Chamandy et al.,
    "Estimating Uncertainty for Massive Data Streams", Google 2012):
    instead of drawing B resamples WITH replacement (which needs global
    coordination), every row independently contributes a
    Poisson(1)-distributed integer weight to each of B=32 replicas.
    One pass over the data, no shuffle of data rows, embarrassingly
    mergeable — the canonical 100-TB uncertainty estimate.

    Determinism across engines: the weight is the Poisson inverse-CDF
    of a 16-bit integer uniform sliced from a salted md5 of the row key
    (8 replicas per digest × 4 salts — all 128 digest bits used),
    compared against PRECOMPUTED integer thresholds — no seed, no RNG,
    no float literal, so Spark and DuckDB draw bit-identical weights
    and the draw is reproducible under retries/speculation. The
    statistic is exact long arithmetic (cent-floored prices, integer
    weights); each replica mean is one double division of two exact
    longs; the CI is the [2nd, 31st] order statistic of the 32 replica
    means (93.75% coverage).

    Plan-shape lessons (all timings fresh-DataFrame at sf0.1 —
    re-collecting the SAME DataFrame reuses AQE's materialized shuffle
    stages and reads ~0.1 s for every variant, a trap when
    benchmarking): one Generate fans each row to its 4 digests — md5
    runs exactly once per digest — then the 8 slice-weights are FLAT
    narrow expressions and groupBy(s) is a 17-wide aggregate over 4
    groups (map-side combined; the shuffle is 4 rows/task): ~2 s.
    Rejected forms: 65 flat aggregates inlining the digest into every
    comparison arm (42 s — project-level CSE does not share md5
    subtrees at that width), 64 conditional sums over one Generate
    (104 s — the 66-wide aggregate of guarded branches defeats both
    CSE and JIT budgets), and a second posexplode to fully-skinny
    (row, b, u16) rows (8 s — 19M-row Generate bookkeeping swamps the
    cheap math). Stay wide enough to amortize per-row overhead, narrow
    enough that codegen still JITs — and fan the input out first (see
    the repartition note below).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_extendedprice",
    )
    cents = F.expr(
        f"{grid_sql('l_extendedprice', 2)}"
    ).alias("cents")
    dgs = F.array(
        *[
            F.md5(F.expr(f"concat({_BOOT_KEY_SPARK}, ':', '{s}')"))
            for s in range(4)
        ]
    )
    # the bench fixture is ONE parquet file -> one input split; without
    # this explicit fan-out the md5/conv projection (the op's entire
    # cost) runs in a single task (measured 7.9 s single-task vs 0.9 s
    # repartitioned at sf0.1). fan_out skips the exchange when the scan
    # arrives pre-split (>= cores partitions) — r13, ADVICE r12: an
    # unconditional repartition would shuffle all rows AND cap a 100-TB
    # stage at core-count partitions.
    ex1 = fan_out(li).select(
        cents, F.posexplode(dgs).alias("s", "dg")
    )
    proj = ex1.select(
        "cents",
        "s",
        *[
            F.expr(
                _boot_w(f"CAST(conv(substr(dg, {4 * i + 1}, 4), 16, 10) AS INT)")
            ).alias(f"w{i}")
            for i in range(8)
        ],
    )
    aggs = []
    for i in range(8):
        aggs.append(F.sum(f"w{i}").alias(f"sw{i}"))
        aggs.append(F.sum(F.col(f"w{i}") * F.col("cents")).alias(f"swc{i}"))
    rep = proj.groupBy("s").agg(*aggs)
    per_s_means = F.array(
        *[
            F.round(
                F.col(f"swc{i}").cast("double")
                / F.col(f"sw{i}").cast("double")
                / 100.0,
                4,
            )
            for i in range(8)
        ]
    )
    means = rep.select(per_s_means.alias("m8")).agg(
        F.sort_array(F.flatten(F.collect_list("m8"))).alias("ms")
    )
    tot = li.agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("sc"))
    return tot.crossJoin(means).select(
        "n",
        F.round(
            F.col("sc").cast("double") / F.col("n").cast("double") / 100.0, 4
        ).alias("est_mean"),
        F.element_at("ms", 2).alias("ci_lo"),
        F.element_at("ms", 31).alias("ci_hi"),
    )


@register(
    "stat_benjamini_hochberg",
    oracle="""
WITH s AS (
  SELECT event_type AS g, value AS v,
         CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS a
  FROM events
),
gv AS (
  SELECT g, v, CAST(SUM(a) AS BIGINT) AS ca, CAST(SUM(1 - a) AS BIGINT) AS cb
  FROM s GROUP BY g, v
),
c AS (
  SELECT g,
         CAST(SUM(ca) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cua,
         CAST(SUM(cb) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cub
  FROM gv
),
t AS (
  SELECT g, CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
  FROM gv GROUP BY g
),
d AS (
  SELECT c.g, t.na, t.nb,
         MAX(ABS(cua * t.nb - cub * t.na)) AS dnum
  FROM c JOIN t ON c.g = t.g
  GROUP BY c.g, t.na, t.nb
),
p AS (
  SELECT g, na, nb,
         ROUND(CAST(dnum AS DOUBLE) /
               (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS ks_d,
         CAST(FLOOR(LEAST(
           1.0,
           2.0 * EXP(-2.0
             * (CAST(dnum AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
             * (CAST(dnum AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
             * (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))))
         ) * 1e12) AS BIGINT) AS p_micro
  FROM d
),
r AS (
  SELECT g, na, nb, ks_d, p_micro,
         CAST(ROW_NUMBER() OVER (ORDER BY p_micro, g) AS BIGINT) AS rnk,
         CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM p
)
SELECT g AS event_type, na, nb, ks_d, p_micro, rnk,
       rnk <= COALESCE(MAX(CASE WHEN p_micro * m <= rnk * 50000000000
                           THEN rnk END) OVER (), 0) AS rejected
FROM r
""",
)
def stat_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing-corrected drift screen: per event type, a
    two-sample KS test of ``value`` between user-id-parity arms (the
    A/B split every experimentation platform runs), then a
    Benjamini–Hochberg step-up over the family of event types at
    q = 0.05 — the FDR control that keeps a thousand-metric screen from
    alarming on 5% of healthy metrics.

    Exactness ladder: the KS distance max runs over EXACT integers
    (|cua·nb − cub·na|, the cross-multiplied CDF gap — no float enters
    the argmax; overflow bound na·nb < 2⁶³ holds to ~3·10⁹ rows per
    arm per group, past which the DECIMAL(38,0) lane applies as in
    stat_spearman_corr); the one-term Kolmogorov tail
    p = 2·exp(−2·D²·n_eff) is the single libm call, floored onto the
    1e-12 grid (perplexity/NB discipline), and every BH comparison is
    then integer: p_micro·m ≤ rank·q·1e12 cross-multiplied, so the
    step-up threshold never touches a float. Both final windows
    (rank by p, family max) run over |event types| rows — collapsed
    input, the documented global-window exemption. Per-group CDF
    windows are PARTITIONED BY group. The whole plan is two hash
    aggregations + two partitioned windows + one 5-row window: at
    100 TB the value-level aggregate carries |group × distinct value|
    rows, everything after is per-group scalars.
    """
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        F.col("event_type").alias("g"),
        F.col("value").alias("v"),
        (F.col("user_id") % 2 == 0).cast("int").alias("a"),
    )
    gv = s.groupBy("g", "v").agg(
        F.sum("a").cast("long").alias("ca"),
        F.sum(1 - F.col("a")).cast("long").alias("cb"),
    )
    wc = Window.partitionBy("g").orderBy("v")
    c = gv.select(
        "g",
        F.sum("ca").over(wc).cast("long").alias("cua"),
        F.sum("cb").over(wc).cast("long").alias("cub"),
    )
    t = gv.groupBy("g").agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
    )
    d = (
        c.join(t, "g")
        .groupBy("g", "na", "nb")
        .agg(
            F.max(
                F.abs(F.col("cua") * F.col("nb") - F.col("cub") * F.col("na"))
            ).alias("dnum")
        )
    )
    dd = F.col("dnum").cast("double")
    nad, nbd = F.col("na").cast("double"), F.col("nb").cast("double")
    ks = dd / (nad * nbd)
    p_raw = F.least(
        F.lit(1.0),
        F.lit(2.0) * F.exp(F.lit(-2.0) * ks * ks * (nad * nbd / (nad + nbd))),
    )
    p = d.select(
        "g", "na", "nb",
        F.round(ks, 6).alias("ks_d"),
        F.floor(p_raw * F.lit(1e12)).cast("long").alias("p_micro"),
    )
    wr = Window.orderBy("p_micro", "g")
    r = p.select(
        "g", "na", "nb", "ks_d", "p_micro",
        F.row_number().over(wr).cast("long").alias("rnk"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("m"),
    )
    wall = Window.partitionBy()
    imax = F.coalesce(
        F.max(
            F.when(
                F.col("p_micro") * F.col("m") <= F.col("rnk") * F.lit(50000000000),
                F.col("rnk"),
            )
        ).over(wall),
        F.lit(0).cast("long"),
    )
    return r.select(
        F.col("g").alias("event_type"), "na", "nb", "ks_d", "p_micro", "rnk",
        (F.col("rnk") <= imax).alias("rejected"),
    )


@register(
    "stat_wilson_ci",
    oracle="""
WITH c AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN value > 75.0 THEN 1 ELSE 0 END) AS BIGINT) AS s
  FROM events GROUP BY event_type
)
SELECT event_type, n, s,
       ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_hat,
       ROUND(
         ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
          + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE))
          - (1.96 / (2.0 * CAST(n AS DOUBLE)))
            * SQRT(4.0 * CAST(s AS DOUBLE)
                   * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                   + 1.96 * 1.96))
         / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)), 6) AS ci_lo,
       ROUND(
         ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
          + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE))
          + (1.96 / (2.0 * CAST(n AS DOUBLE)))
            * SQRT(4.0 * CAST(s AS DOUBLE)
                   * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                   + 1.96 * 1.96))
         / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)), 6) AS ci_hi
FROM c
""",
)
def stat_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval for per-segment conversion rates (success
    = event value > 75): the binomial CI that stays inside [0, 1] and
    behaves at small n and extreme p̂, where the naive Wald interval
    collapses — the per-metric uncertainty a large-scale A/B readout
    attaches to every proportion before anyone compares arms (the
    multiplicity layer on top is `stat_benjamini_hochberg`).

    One map-side-combinable counting aggregate per segment is the
    entire distributed plan — at 100 TB this is scan bandwidth plus a
    |segments|-row shuffle, nothing else. The interval arithmetic runs
    on per-group scalars: exact-long counts, exact-operand divisions,
    and SQRT (IEEE correctly rounded, not libm), with the expression
    tree mirrored operation-for-operation in the oracle so both
    engines round the same doubles (the √(4s(1−p̂)+z²) form keeps one
    sqrt and no pow). Rounded to 1e-6 for display.
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("value") > 75.0, 1).otherwise(0)).cast("long").alias("s"),
    )
    nd, sd = F.col("n").cast("double"), F.col("s").cast("double")
    p_hat = sd / nd
    z2 = F.lit(1.96) * F.lit(1.96)
    root = F.sqrt(F.lit(4.0) * sd * (F.lit(1.0) - sd / nd) + F.lit(1.96) * F.lit(1.96))
    denom = F.lit(1.0) + (F.lit(1.96) * F.lit(1.96)) / nd
    half = F.lit(1.96) / (F.lit(2.0) * nd)
    center = (sd / nd) + z2 / (F.lit(2.0) * nd)
    return c.select(
        "event_type", "n", "s",
        F.round(p_hat, 6).alias("p_hat"),
        F.round((center - half * root) / denom, 6).alias("ci_lo"),
        F.round((center + half * root) / denom, 6).alias("ci_hi"),
    )


@register(
    "ml_average_precision",
    oracle="""
WITH ranked AS (
  SELECT user_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS k,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id
                    ORDER BY value DESC, event_id) AS BIGINT) AS cum_rel
  FROM events
),
per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN rel = 1 THEN
           CAST(FLOOR(1e12 * CAST(cum_rel AS DOUBLE) / CAST(k AS DOUBLE))
                AS BIGINT) ELSE 0 END) AS BIGINT) AS terms,
         CAST(SUM(rel) AS BIGINT) AS n_rel
  FROM ranked GROUP BY user_id
),
ap AS (
  SELECT user_id, terms // n_rel AS ap_micro
  FROM per_user WHERE n_rel > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(ap_micro) AS BIGINT) AS sum_ap_micro,
       ROUND(CAST(SUM(ap_micro) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e12,
             6) AS map
FROM ap
""",
)
def ml_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean Average Precision over per-user ranked recommendations
    (rank = event value desc, relevant = purchase) — the
    order-sensitive ranking metric that `ml_auc_roc` (pairwise) and
    `ml_ndcg_at_k` (graded, top-k) don't cover: AP integrates
    precision exactly at each relevant hit, so it rewards putting
    relevant items EARLY, not just above irrelevant ones.

    Exactness: precision@k = cum_rel/k is an exact-operand division
    floored onto the 1e-12 grid per relevant hit BEFORE any sum; each
    user's AP then divides two exact longs with INTEGER division
    (``terms // n_rel``), so the corpus-level mean sums longs — no
    float accumulates across rows anywhere, which is what makes the
    metric partition-order-independent (a MAP that averages rounded
    doubles is not). Windows are PARTITIONED BY USER (ties broken by
    event_id): per-user state only, the distributed-ranking-eval shape
    — at 100 TB the shuffle carries (user, k) rows and nothing is
    global until the final 1-row aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    rel = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    ranked = ev.select(
        "user_id",
        rel.alias("rel"),
        F.row_number().over(w).alias("k"),
        F.sum(rel).over(w).cast("long").alias("cum_rel"),
    )
    term = F.floor(
        F.lit(1e12) * F.col("cum_rel").cast("double") / F.col("k").cast("double")
    ).cast("long")
    per_user = ranked.groupBy("user_id").agg(
        F.sum(F.when(F.col("rel") == 1, term).otherwise(0)).cast("long").alias("terms"),
        F.sum("rel").cast("long").alias("n_rel"),
    )
    ap = per_user.filter(F.col("n_rel") > 0).select(
        "user_id", F.expr("terms div n_rel").alias("ap_micro")
    )
    return ap.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("ap_micro").cast("long").alias("sum_ap_micro"),
        F.round(
            F.sum("ap_micro").cast("double")
            / F.count(F.lit(1)).cast("double") / F.lit(1e12),
            6,
        ).alias("map"),
    )


@register(
    "stat_effect_sizes",
    oracle="""
WITH c AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN user_id % 2 = 0
              THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS s1,
         CAST(SUM(CASE WHEN user_id % 2 <> 0
              THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS s0,
         CAST(SUM(CASE WHEN user_id % 2 = 0
              THEN CAST(ROUND(value * 100) AS BIGINT)
                   * CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS q1,
         CAST(SUM(CASE WHEN user_id % 2 <> 0
              THEN CAST(ROUND(value * 100) AS BIGINT)
                   * CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS q0
  FROM events GROUP BY event_type
)
SELECT event_type, n1, n0,
       ROUND((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
              - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / 100.0, 6) AS mean_diff,
       ROUND(((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
               - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / 100.0)
             / SQRT((((CAST(q1 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                         / CAST(n1 AS DOUBLE))
                      + (CAST(q0 AS DOUBLE)
                         - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)
                           / CAST(n0 AS DOUBLE)))
                     / CAST(n1 + n0 - 2 AS DOUBLE)) / 10000.0), 6) AS cohens_d,
       ROUND((((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / 100.0)
              / SQRT((((CAST(q1 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                          / CAST(n1 AS DOUBLE))
                       + (CAST(q0 AS DOUBLE)
                          - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)
                            / CAST(n0 AS DOUBLE)))
                      / CAST(n1 + n0 - 2 AS DOUBLE)) / 10000.0))
             * (1.0 - 3.0 / (4.0 * CAST(n1 + n0 - 2 AS DOUBLE) - 1.0)), 6)
         AS hedges_g
FROM c
""",
)
def stat_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect sizes per segment between user-id-parity
    arms: Cohen's d (pooled-SD mean difference) and the Hedges g
    small-sample correction — the magnitude readout an A/B platform
    reports NEXT TO its p-values (`stat_benjamini_hochberg` says
    "significant"; this says "by how much"), because at 100-TB sample
    sizes everything is significant and only effect size ranks what
    matters.

    The cents lane keeps the distributed pass exact: values are
    2-decimal by fixture contract, so sums and sums-of-squares
    accumulate as exact cent-longs (q fits int64 to ~6·10¹⁴ rows per
    group; past that the DECIMAL(38,0) lane). The per-group scalar
    math mirrors the oracle operation-for-operation — exact-operand
    divisions, one SQRT (IEEE correctly rounded), s² computed in
    double (exact: cent sums stay under 2⁵³ to ~10¹² rows/group) —
    then rounds to 1e-6. One counting aggregate is the whole
    distributed plan.
    """
    ev = load_table(spark, sf_dir, "events")
    arm1 = F.col("user_id") % 2 == 0
    cents = F.round(F.col("value") * 100).cast("long")
    c = ev.groupBy("event_type").agg(
        F.sum(F.when(arm1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(~arm1, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(arm1, cents).otherwise(0)).cast("long").alias("s1"),
        F.sum(F.when(~arm1, cents).otherwise(0)).cast("long").alias("s0"),
        F.sum(F.when(arm1, cents * cents).otherwise(0)).cast("long").alias("q1"),
        F.sum(F.when(~arm1, cents * cents).otherwise(0)).cast("long").alias("q0"),
    )
    n1d, n0d = F.col("n1").cast("double"), F.col("n0").cast("double")
    s1d, s0d = F.col("s1").cast("double"), F.col("s0").cast("double")
    q1d, q0d = F.col("q1").cast("double"), F.col("q0").cast("double")
    dfd = (F.col("n1") + F.col("n0") - 2).cast("double")
    mean_diff = (s1d / n1d - s0d / n0d) / F.lit(100.0)
    sp2 = ((q1d - s1d * s1d / n1d) + (q0d - s0d * s0d / n0d)) / dfd / F.lit(10000.0)
    d = mean_diff / F.sqrt(sp2)
    g = d * (F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * dfd - F.lit(1.0)))
    return c.select(
        "event_type", "n1", "n0",
        F.round(mean_diff, 6).alias("mean_diff"),
        F.round(d, 6).alias("cohens_d"),
        F.round(g, 6).alias("hedges_g"),
    )


#: decision thresholds for ml_pr_curve (event value units).
_PR_THRESHOLDS = (10, 20, 30, 40, 50, 60, 70, 80, 90)


@register(
    "ml_pr_curve",
    oracle="""
WITH t(thr) AS (SELECT UNNEST([10, 20, 30, 40, 50, 60, 70, 80, 90])),
c AS (
  SELECT thr,
         CAST(SUM(CASE WHEN value > thr
              AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN value > thr
              AND event_type <> 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN value <= thr
              AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM events CROSS JOIN t GROUP BY thr
)
SELECT CAST(thr AS BIGINT) AS threshold, tp, fp, fn,
       ROUND(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) AS precision_,
       ROUND(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) AS recall_,
       ROUND(2.0 * CAST(tp AS DOUBLE)
             / CAST(2 * tp + fp + fn AS DOUBLE), 6) AS f1
FROM c ORDER BY threshold
""",
)
def ml_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall curve at fixed decision thresholds (score =
    event value, positive = purchase): the operating-point table a
    model report prints next to its scalar metrics — `ml_auc_roc`
    integrates over ALL thresholds, `ml_average_precision` over the
    ranking; this answers "what do I get at the threshold I'll
    actually deploy".

    Plan: ONE pass over events with 27 conditional counting sums (3
    counters × 9 thresholds — map-side combinable longs), unpivoted to
    9 rows afterward with ``stack`` — no 9× row explosion before the
    shuffle, no second scan (the oracle's CROSS JOIN form is the
    readable equivalent; the engine keeps the blowup OUT of the
    distributed pass, which at 100 TB is the difference between one
    table scan and nine). Counts are exact longs; precision/recall/F1
    divide exact operands and round to 1e-6. TN is derivable
    (n − tp − fp − fn) and omitted, as in every PR table.
    """
    ev = load_table(spark, sf_dir, "events")
    pos = F.col("event_type") == "purchase"
    aggs = []
    for t in _PR_THRESHOLDS:
        hi = F.col("value") > float(t)
        aggs += [
            F.sum(F.when(hi & pos, 1).otherwise(0)).cast("long").alias(f"tp_{t}"),
            F.sum(F.when(hi & ~pos, 1).otherwise(0)).cast("long").alias(f"fp_{t}"),
            F.sum(F.when(~hi & pos, 1).otherwise(0)).cast("long").alias(f"fn_{t}"),
        ]
    wide = ev.agg(*aggs)
    stack = ", ".join(
        f"{t}L, tp_{t}, fp_{t}, fn_{t}" for t in _PR_THRESHOLDS
    )
    rows = wide.select(
        F.expr(
            f"stack({len(_PR_THRESHOLDS)}, {stack})"
        ).alias("threshold", "tp", "fp", "fn")
    )
    return rows.select(
        "threshold", "tp", "fp", "fn",
        F.round(
            F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double"), 6
        ).alias("precision_"),
        F.round(
            F.col("tp").cast("double") / (F.col("tp") + F.col("fn")).cast("double"), 6
        ).alias("recall_"),
        F.round(
            F.lit(2.0) * F.col("tp").cast("double")
            / (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double"),
            6,
        ).alias("f1"),
    ).orderBy("threshold")


_MRR_QUERIES = 50
_MRR_K = 10


@register(
    "ml_mrr",
    oracle=f"""
WITH {_ranked_neighbours_sql(_MRR_QUERIES)},
firsts AS (
  SELECT q,
         MIN(CASE WHEN ml = ql AND rn <= {_MRR_K} THEN rn END) AS first_rel
  FROM ranked GROUP BY q
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN first_rel IS NOT NULL
             THEN {grid_sql('1000000000.0 / first_rel', 0)}
             ELSE 0 END) AS DOUBLE) / 1000000000.0 / COUNT(*) AS mrr,
       CAST(SUM(CASE WHEN first_rel IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) AS hit_rate_at_k
FROM firsts
""",
)
def ml_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank @10 of nearest-neighbor retrieval against
    label relevance — the companion metric to `ml_ndcg_at_k` on the
    SAME exact-integer ranking (squared-Euclidean grid distances,
    total tie-break on member id), so the two evals are comparable
    row-for-row. Per query the only statistic is the rank of the FIRST
    relevant hit within k; 1/rank lands on a 1e-9 grid before the
    mean, making the aggregate exact long arithmetic. Queries with no
    relevant result in the top k contribute 0 (standard MRR@k).

    The query side is a bounded broadcast batch (serving shape) against
    the member scan — the deliberate per-query brute rung, same as
    `ml_ndcg_at_k`; at 100 TB the member side is the index-pruned
    candidate list, and the groupBy(q) min() is a tiny hash aggregate
    over |queries|×|candidates| ranked rows.
    """
    ranked = _ranked_neighbours(spark, sf_dir, _MRR_QUERIES)
    zero = F.lit(0).cast("long")
    rel_in_k = (F.col("ml") == F.col("ql")) & (F.col("rn") <= _MRR_K)
    firsts = ranked.groupBy("q").agg(
        F.min(F.when(rel_in_k, F.col("rn"))).alias("first_rel")
    )
    hit = F.col("first_rel").isNotNull()
    rr_g = F.when(
        hit,
        grid(F.lit(1e9) / F.col("first_rel"), 0),
    ).otherwise(zero)
    return firsts.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (
            F.sum(rr_g).cast("double")
            / F.lit(1e9)
            / F.count(F.lit(1))
        ).alias("mrr"),
        (
            F.sum(hit.cast("long")).cast("double") / F.count(F.lit(1))
        ).alias("hit_rate_at_k"),
    )


@register(
    "stat_cohens_kappa",
    oracle="""
WITH rated AS (
  SELECT l_returnflag AS a,
         CASE WHEN l_linestatus = 'O' THEN 'N'
              WHEN l_shipdate < TIMESTAMP '1995-06-17' THEN 'R'
              ELSE 'A' END AS b
  FROM lineitem
),
cells AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c FROM rated GROUP BY a, b
),
marg AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS diag
  FROM cells
),
prods AS (
  SELECT CAST(SUM(ra.r * cb.cl) AS BIGINT) AS rc
  FROM (SELECT a, CAST(SUM(c) AS BIGINT) AS r FROM cells GROUP BY a) ra
  JOIN (SELECT b, CAST(SUM(c) AS BIGINT) AS cl FROM cells GROUP BY b) cb
    ON ra.a = cb.b
)
SELECT n, diag,
       CAST(diag AS DOUBLE) / n AS po,
       CAST(rc AS DOUBLE) / n / n AS pe,
       CAST(n * diag - rc AS DOUBLE) / CAST(n * n - rc AS DOUBLE)
         AS kappa
FROM marg CROSS JOIN prods
""",
)
def stat_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa inter-rater agreement between the recorded return
    flag and a deterministic rule-based re-rating of the same lines
    (the classic label-audit shape: human label vs heuristic
    re-labeler over one category space {A, N, R}). The whole statistic
    reduces to three exact integers — n, the diagonal count, and
    Σ_k row_k·col_k — because κ = (n·diag − Σrc) / (n² − Σrc): the
    observed/expected-agreement ratio is an EXACT integer ratio, no
    grid needed; only the final division is floating point, and it is
    the identical IEEE expression in both engines.

    One data-sized aggregation builds the |A|×|B| contingency cells;
    marginals re-aggregate those CELLS (the `stat_chi2_independence`
    partials-reuse trick) and the scalars ride 1-row broadcasts. At
    100 TB: n² for a 1e11-row table overflows BIGINT — promote the two
    products to DECIMAL(38,0) (Spark) / HUGEINT (DuckDB); the plan
    shape is unchanged.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rated = li.select(
        F.col("l_returnflag").alias("a"),
        F.when(F.col("l_linestatus") == "O", F.lit("N"))
        .when(
            F.col("l_shipdate") < F.lit("1995-06-17").cast("timestamp"),
            F.lit("R"),
        )
        .otherwise(F.lit("A"))
        .alias("b"),
    )
    cells = rated.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c"))
    marg = cells.agg(
        F.sum("c").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("c")).otherwise(0))
        .alias("diag"),
    )
    ra = cells.groupBy("a").agg(F.sum("c").alias("r"))
    cb = cells.groupBy("b").agg(F.sum("c").alias("cl"))
    prods = (
        ra.join(F.broadcast(cb), F.col("a") == F.col("b"))
        .agg(F.sum(F.col("r") * F.col("cl")).alias("rc"))
    )
    return (
        marg.crossJoin(F.broadcast(prods))
        .select(
            "n",
            "diag",
            (F.col("diag").cast("double") / F.col("n")).alias("po"),
            (
                F.col("rc").cast("double") / F.col("n") / F.col("n")
            ).alias("pe"),
            (
                (F.col("n") * F.col("diag") - F.col("rc")).cast("double")
                / (F.col("n") * F.col("n") - F.col("rc")).cast("double")
            ).alias("kappa"),
        )
    )


@register(
    "stat_cramers_v",
    oracle=f"""
WITH obs AS (
  SELECT o_orderpriority AS sm, o_orderstatus AS rf,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM orders GROUP BY o_orderpriority, o_orderstatus
),
rt AS (SELECT sm, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY sm),
ct AS (SELECT rf, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY rf),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
cells AS (
  SELECT n,
         {grid_sql('''(o - CAST(r AS DOUBLE) * c / n)
                    * (o - CAST(r AS DOUBLE) * c / n)
                    / (CAST(r AS DOUBLE) * c / n)''', 6)} AS chi_g
  FROM obs JOIN rt USING (sm) JOIN ct USING (rf) CROSS JOIN tot
),
dims AS (
  SELECT CAST(LEAST(COUNT(DISTINCT sm) - 1, COUNT(DISTINCT rf) - 1)
              AS BIGINT) AS mindim
  FROM obs
)
SELECT n, mindim,
       CAST(SUM(chi_g) AS DOUBLE) / 1000000.0 AS chi2,
       sqrt(CAST(SUM(chi_g) AS DOUBLE) / 1000000.0 / (n * mindim))
         AS cramers_v
FROM cells CROSS JOIN dims
GROUP BY n, mindim
""",
)
def stat_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association strength for the order
    priority×status contingency table: the chi-squared core reuses the
    `stat_chi2_independence` recipe (cells → broadcast marginals →
    per-cell (O−E)²/E on a 1e-6 grid → exact long sum), then
    V = √(χ²/(n·min(r−1,c−1))) normalizes it onto [0,1]. The √ input
    is grid-exact, so the double result is deterministic across
    engines (same IEEE sqrt of the same value).

    At 100 TB: one data-sized groupBy; everything downstream operates
    on the 5×3 cell table with 1-row scalar broadcasts.
    """
    od = load_table(spark, sf_dir, "orders")
    obs = od.groupBy(
        F.col("o_orderpriority").alias("sm"),
        F.col("o_orderstatus").alias("rf"),
    ).agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("sm").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("rf").agg(F.sum("o").alias("c"))
    tot = obs.agg(F.sum("o").alias("n"))
    e = F.col("r").cast("double") * F.col("c") / F.col("n")
    cells = (
        obs.join(F.broadcast(rt), "sm")
        .join(F.broadcast(ct), "rf")
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            grid((F.col("o") - e) * (F.col("o") - e) / e, 6).alias("chi_g"),
        )
    )
    dims = obs.agg(
        F.least(
            F.countDistinct("sm") - 1, F.countDistinct("rf") - 1
        ).alias("mindim")
    )
    chi2 = F.sum("chi_g").cast("double") / F.lit(1e6)
    return (
        cells.crossJoin(F.broadcast(dims))
        .groupBy("n", "mindim")
        .agg(
            chi2.alias("chi2"),
            F.sqrt(chi2 / (F.col("n") * F.col("mindim"))).alias(
                "cramers_v"
            ),
        )
    )


#: ml_kfold_assign: fold count and md5 seed tag.
_KFOLD_K = 5
_KFOLD_SEED = "kf7"


def _kfold_thresholds() -> list[str]:
    """Fold boundaries as 8-hex-char strings at i/K of 32-bit space —
    fixed-length lowercase hex compares like the integer it encodes
    (the sample_stratified_seeded trick), so the fold id needs only
    string comparisons, portable to any engine with md5."""
    return [format(int(i * 2**32 / _KFOLD_K), "08x") for i in range(1, _KFOLD_K)]


_KFOLD_CASE = (
    "CASE "
    + " ".join(
        f"WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':{_KFOLD_SEED}'), 1, 8)"
        f" < '{t}' THEN {i}"
        for i, t in enumerate(_kfold_thresholds())
    )
    + f" ELSE {_KFOLD_K - 1} END"
)


@register(
    "ml_kfold_assign",
    oracle=f"""
WITH assigned AS (
  SELECT {_KFOLD_CASE} AS fold, n_chars, doc_id
  FROM documents
)
SELECT CAST(fold AS INT) AS fold,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       {grid_sql('CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)', 6)} AS avg_chars_micro,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM assigned
GROUP BY fold
ORDER BY fold
""",
)
def ml_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold split for training/eval — every engine and
    every run must put each document in the SAME fold or cross-
    validation leaks. The fold id is a banded md5 coin
    (`md5(doc_id:seed)` first 8 hex chars against K−1 fixed-length hex
    thresholds — string comparison IS integer comparison on
    fixed-length lowercase hex), so the assignment is a stateless
    map-side expression: no shuffle, no stored split table, and a new
    document joins its fold without touching the others.

    The per-fold balance audit (count, mean length on a 1e-6 grid,
    id range) is one map-side-combinable aggregate over K groups. At
    100 TB the split costs nothing beyond the scan — the property that
    makes hash-folds the standard over random-shuffle splits.
    """
    d = load_table(spark, sf_dir, "documents")
    coin = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{_KFOLD_SEED}"))),
        1,
        8,
    )
    fold = F.lit(_KFOLD_K - 1)
    for i, t in reversed(list(enumerate(_kfold_thresholds()))):
        fold = F.when(coin < t, F.lit(i)).otherwise(fold)
    return (
        d.select(fold.cast("int").alias("fold"), "n_chars", "doc_id")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            grid(F.sum("n_chars").cast("double") / F.count(F.lit(1)), 6)
            .alias("avg_chars_micro"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("fold")
    )


#: stat_permutation_test: permutation count and md5 seed tag.
_PERM_P = 200
_PERM_SEED = "pt3"


def _perm_chunks_duckdb() -> str:
    """The 6 packed 60-bit coin chunks of the two per-row digests."""
    cols = []
    for d in (0, 1):
        key = f"CAST(o_orderkey AS VARCHAR) || ':{_PERM_SEED}:{d}'"
        for i in range(3):
            cols.append(f"{md5_int_sql(key, 1 + 15 * i, 15)} AS c{d * 3 + i}")
    return ", ".join(cols)


@register(
    "stat_permutation_test",
    oracle=f"""
WITH base AS (
  SELECT o_orderkey,
         {grid_sql('o_totalprice', 2)} AS cents,
         o_orderpriority IN ('1-URGENT', '2-HIGH') AS grp_a
  FROM orders
),
obs AS (
  SELECT {grid_sql('''(CAST(SUM(CASE WHEN grp_a THEN cents END) AS DOUBLE)
                     / SUM(CASE WHEN grp_a THEN 1 ELSE 0 END)
                     - CAST(SUM(CASE WHEN NOT grp_a THEN cents END)
                            AS DOUBLE)
                     / SUM(CASE WHEN NOT grp_a THEN 1 ELSE 0 END))''', 4)} AS d0
  FROM base
),
digs AS (
  SELECT cents, {{_PERM_CHUNKS}}
  FROM base
),
perms AS (
  SELECT p.p, d.cents,
         ((CASE p.p // 60 WHEN 0 THEN d.c0 WHEN 1 THEN d.c1
                          WHEN 2 THEN d.c2 WHEN 3 THEN d.c3
                          WHEN 4 THEN d.c4 ELSE d.c5 END
           >> CAST(p.p % 60 AS INT)) & 1) = 1 AS coin
  FROM digs d CROSS JOIN (SELECT unnest(range({_PERM_P})) AS p) p
),
perm_stats AS (
  SELECT p,
         {grid_sql('''(CAST(SUM(CASE WHEN coin THEN cents END) AS DOUBLE)
                     / SUM(CASE WHEN coin THEN 1 ELSE 0 END)
                     - CAST(SUM(CASE WHEN NOT coin THEN cents END)
                            AS DOUBLE)
                     / SUM(CASE WHEN NOT coin THEN 1 ELSE 0 END))''', 4)} AS d
  FROM perms GROUP BY p
)
SELECT CAST({_PERM_P} AS BIGINT) AS n_perms,
       CAST(d0 AS DOUBLE) / 1000000.0 AS obs_diff,
       CAST(1 + SUM(CASE WHEN abs(d) >= abs(d0) THEN 1 ELSE 0 END)
            AS DOUBLE) / {_PERM_P + 1}.0 AS p_value,
       CAST(1 + SUM(CASE WHEN abs(d) >= abs(d0) THEN 1 ELSE 0 END)
            AS DOUBLE) / {_PERM_P + 1}.0 < 0.05 AS significant
FROM perm_stats CROSS JOIN obs
GROUP BY d0
""".replace("{_PERM_CHUNKS}", _perm_chunks_duckdb()),
)
def stat_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for a difference in mean order value between
    priority classes — resampling inference with NO distributional
    assumption, the bootstrap_ci sibling for hypothesis testing. Each
    of the P=200 permutations reassigns rows by a seeded md5 coin BIT:
    two digests per row pack 6×60-bit chunks, and permutation p reads
    bit p%60 of chunk p div 60 — so the md5 cost is 2 digests PER ROW,
    not per (row, permutation). The digest projection sits BELOW the
    explode in its own select (expressions placed alongside an explode
    are evaluated per GENERATED row — measured 19.2 s → 1.8 s at
    sf0.1, the plan-shape lesson this key exists to pin). The test
    statistic lands on a 1e-4-cent grid (sums/counts exact longs, two
    correctly-rounded IEEE divisions), and the p-value is the exact
    add-one count fraction (1 + #{|d_p| >= |d_obs|}) / (P+1).

    The plan is ONE shuffle: rows fan out ×P map-side, partial
    aggregates combine per (p, coin) before the exchange, and the
    reduce side sees 2P rows. At 100 TB the fan-out factor is the
    knob — P scales down as n scales up because the null distribution
    tightens; the shape stays a single map-combined pass either way.
    """
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        grid("o_totalprice", 2).alias("cents"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("grp_a"),
    )

    def _mean_diff_grid(flag):
        return grid(
            F.sum(F.when(flag, F.col("cents"))).cast("double")
            / F.sum(F.when(flag, 1).otherwise(0))
            - F.sum(F.when(~flag, F.col("cents"))).cast("double")
            / F.sum(F.when(~flag, 1).otherwise(0)),
            4,
        )

    obs = od.agg(_mean_diff_grid(F.col("grp_a")).alias("d0"))
    chunk_cols = [
        md5_int(
            F.concat(F.col("o_orderkey").cast("string"), F.lit(f":{_PERM_SEED}:{d}")),
            1 + 15 * i,
            15,
        ).alias(f"c{d * 3 + i}")
        for d in (0, 1)
        for i in range(3)
    ]
    # separate select: keeps the digest projection BELOW the Generate.
    # r12: fan the scan out FIRST — the bench fixture is one parquet
    # split, so without this the two md5 digests per row AND the ×200
    # Generate + map-side partial aggregate all ran in a single task
    # (the stat_bootstrap_ci single-split lesson; measured ~2.6 s → the
    # fan-out spreads the op's entire cost across executors). fan_out
    # skips the exchange when the scan arrives pre-split (r13, ADVICE
    # r12 — an unconditional repartition would shuffle every row and cap
    # the stage at core-count partitions).
    digs = fan_out(od).select(
        "cents", *chunk_cols
    )
    perms = digs.select(
        "cents",
        *[f"c{i}" for i in range(6)],
        F.explode(F.sequence(F.lit(0), F.lit(_PERM_P - 1))).alias("p"),
    ).select(
        "p",
        "cents",
        F.expr(
            "shiftright(element_at(array(c0, c1, c2, c3, c4, c5),"
            " cast(p div 60 as int) + 1), cast(p % 60 as int)) & 1 = 1"
        ).alias("coin"),
    )
    perm_stats = perms.groupBy("p").agg(
        _mean_diff_grid(F.col("coin")).alias("d")
    )
    return (
        perm_stats.crossJoin(F.broadcast(obs))
        .groupBy("d0")
        .agg(
            F.lit(_PERM_P).cast("long").alias("n_perms"),
            (
                F.lit(1)
                + F.sum(
                    F.when(F.abs(F.col("d")) >= F.abs(F.col("d0")), 1).otherwise(0)
                )
            )
            .cast("double")
            .alias("exceed1"),
        )
        .select(
            "n_perms",
            (F.col("d0").cast("double") / F.lit(1e6)).alias("obs_diff"),
            (F.col("exceed1") / F.lit(float(_PERM_P + 1))).alias("p_value"),
            (F.col("exceed1") / F.lit(float(_PERM_P + 1)) < 0.05).alias(
                "significant"
            ),
        )
    )


@register(
    "stat_levene",
    oracle=f"""
WITH base AS (
  SELECT o_orderpriority AS grp,
         {grid_sql('o_totalprice', 2)} AS cents
  FROM orders
),
meds AS (
  SELECT grp, quantile_cont(cents, 0.5) * 2.0 AS m2 FROM base GROUP BY grp
),
z AS (
  SELECT b.grp, CAST(abs(2 * b.cents - m.m2) AS BIGINT) AS z2
  FROM base b JOIN meds m ON b.grp = m.grp
),
gs AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS nj,
         CAST(SUM(z2) AS BIGINT) AS sj,
         SUM(CAST(z2 AS DECIMAL(18,0)) * CAST(z2 AS DECIMAL(18,0))) AS qj
  FROM z GROUP BY grp
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(nj) AS BIGINT) AS n,
         CAST(SUM(sj) AS BIGINT) AS s,
         SUM(qj) AS q,
         SUM(CAST(sj AS DECIMAL(28,0)) * CAST(sj AS DECIMAL(28,0))
             / CAST(nj AS DECIMAL(18,0))) AS bsum
  FROM gs
)
SELECT k, n,
       CAST({grid_sql('''(CAST(n AS DOUBLE) - k) / (k - 1)
                  * (CAST(bsum AS DOUBLE)
                     - CAST(s AS DOUBLE) * s / n)
                  / (CAST(q AS DOUBLE) - CAST(bsum AS DOUBLE))''', 6)} / 1000000.0
                AS DOUBLE) AS f_stat,
       (CAST(n AS DOUBLE) - k) / (k - 1)
         * (CAST(bsum AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
         / (CAST(q AS DOUBLE) - CAST(bsum AS DOUBLE)) > 2.37 AS unequal_spread
FROM tot
""",
)
def stat_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe test (Levene with MEDIAN centers) for equality of
    spread across order-priority groups — the robust pre-check before
    any equal-variance assumption (`stat_anova_oneway`,
    `stat_welch_ttest` siblings). Each value's deviation from its group
    median stays exact: medians of integer cents are half-integers, so
    ``z2 = |2·cents − 2·median|`` is an exact integer and the one-way
    ANOVA on z runs on exact long/decimal sums (Σz², Σz per group,
    squared-sum/size in DECIMAL lanes); the F statistic is assembled
    from those exact scalars with correctly-rounded double ops and
    landed on a 1e-6 grid. 2.37 ≈ F(4,∞) at α=0.05.

    The plan: one grouped exact-median pass (reducer-buffered per
    group — |priority| groups, the agg_median_exact caveat), a
    broadcast join of 5 medians back onto the scan, one aggregate.
    At 100 TB swap the exact median for the two-pass CDF refinement;
    the z-aggregate shape is unchanged.
    """
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        grid("o_totalprice", 2).alias("cents"),
    )
    meds = base.groupBy("grp").agg(
        (F.expr("percentile(cents, 0.5D)") * 2.0).alias("m2")
    )
    z = base.join(F.broadcast(meds), "grp").select(
        "grp",
        F.abs(F.lit(2) * F.col("cents") - F.col("m2")).cast("long").alias("z2"),
    )
    zdec = F.col("z2").cast("decimal(18,0)")
    gs = z.groupBy("grp").agg(
        F.count(F.lit(1)).alias("nj"),
        F.sum("z2").alias("sj"),
        F.sum(zdec * zdec).alias("qj"),
    )
    tot = gs.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("nj").alias("n"),
        F.sum("sj").alias("s"),
        F.sum("qj").alias("q"),
        F.sum(
            F.col("sj").cast("decimal(28,0)")
            * F.col("sj").cast("decimal(28,0)")
            / F.col("nj").cast("decimal(18,0)")
        ).alias("bsum"),
    )
    f_raw = (
        (F.col("n").cast("double") - F.col("k"))
        / (F.col("k") - 1)
        * (
            F.col("bsum").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n")
        )
        / (F.col("q").cast("double") - F.col("bsum").cast("double"))
    )
    return tot.select(
        "k",
        "n",
        (grid(f_raw, 6) / F.lit(1e6))
        .cast("double")
        .alias("f_stat"),
        (f_raw > F.lit(2.37)).alias("unequal_spread"),
    )


#: Score bins shared by ml_lift_curve, ml_brier_decomposition,
#: ml_threshold_sweep and ml_woe_iv: order price in bins of this many
#: grid cents, the urgent/high-priority orders as the positives.
_SCORE_BIN_CENTS = 1000


def _score_bins(spark: SparkSession, sf_dir: str, pos: str) -> DataFrame:
    """Per score bin, ``(bin, n, <pos>)``: the order count and the
    positive count. Spark twin of :func:`_score_bins_sql`; ``floor`` of
    the quotient mirrors DuckDB's ``//`` (the cents are positive here,
    but floor keeps the two aligned if the measure ever goes signed)."""
    scored = load_table(spark, sf_dir, "orders").select(
        F.floor(grid("o_totalprice", 2) / F.lit(_SCORE_BIN_CENTS))
        .cast("long").alias("bin"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("pos"),
    )
    return scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias(pos)
    )


def _score_bins_sql(pos: str) -> str:
    """The ``scored`` and ``bins`` CTEs: the SQL twin of :func:`_score_bins`."""
    return f"""scored AS (
  SELECT {grid_sql('o_totalprice', 2)} // {_SCORE_BIN_CENTS} AS bin,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS pos
  FROM orders
),
bins AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS {pos}
  FROM scored GROUP BY bin
)"""


#: ml_lift_curve: decile count.
_LIFT_DECILES = 10


@register(
    "ml_lift_curve",
    oracle=f"""
WITH {_score_bins_sql("p")},
cum AS (
  SELECT bin, n, p,
         CAST(COALESCE(SUM(n) OVER (ORDER BY bin DESC
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS BIGINT)
           AS cn_before,
         CAST(SUM(n) OVER () AS BIGINT) AS tn,
         CAST(SUM(p) OVER () AS BIGINT) AS tp
  FROM bins
),
deciled AS (
  SELECT (cn_before * {_LIFT_DECILES}) // tn AS decile, n, p, tn, tp
  FROM cum
),
rolled AS (
  SELECT decile,
         CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(p) AS BIGINT) AS p,
         MAX(tn) AS tn, MAX(tp) AS tp
  FROM deciled GROUP BY decile
),
cum2 AS (
  SELECT decile, n, p, tn, tp,
         CAST(SUM(n) OVER (ORDER BY decile
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
         CAST(SUM(p) OVER (ORDER BY decile
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp
  FROM rolled
)
SELECT CAST(decile AS INT) AS decile, n, p, cn, cp,
       {grid_sql('''CAST(cp AS DOUBLE) * tn
                  / (CAST(cn AS DOUBLE) * tp)''', 6)} AS lift_micro,
       {grid_sql('CAST(cp AS DOUBLE) / tp', 6)}
         AS gain_micro
FROM cum2
ORDER BY decile
""",
)
def ml_lift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lift & gains at deciles — the campaign-targeting eval
    (companion to `ml_pr_curve`/`ml_auc_roc`): treat order value as the
    model score, high priority as the positive label, and report how
    concentrated the positives are in the top-scored deciles. Built
    SCALE-RIGHT: scores collapse to fixed-width bins FIRST (one hash
    aggregate), so every window after runs on |bins| rows — deciles
    come from the binned cumulative count (`cn_before·10 // total`),
    never from an ntile over raw rows (a global sort of the data).
    Lift/gain are assembled from exact longs with correctly-rounded
    double division onto a 1e-6 grid.

    At 100 TB the bin rollup is the only data-sized pass; |bins| is
    bounded by the score range (~50k), constant in row count. Decile
    boundaries land between bins (quantization the curve inherits by
    design — at 50k bins the drift is <0.01 decile).
    """
    bins = _score_bins(spark, sf_dir, "p")
    wdesc = (
        Window.orderBy(F.col("bin").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = bins.select(
        "bin",
        "n",
        "p",
        F.coalesce(F.sum("n").over(wdesc), F.lit(0)).alias("cn_before"),
        F.sum("n").over(wall).alias("tn"),
        F.sum("p").over(wall).alias("tp"),
    )
    rolled = (
        cum.select(
            F.expr(f"(cn_before * {_LIFT_DECILES}) div tn").alias("decile"),
            "n",
            "p",
            "tn",
            "tp",
        )
        .groupBy("decile")
        .agg(
            F.sum("n").alias("n"),
            F.sum("p").alias("p"),
            F.max("tn").alias("tn"),
            F.max("tp").alias("tp"),
        )
    )
    wcum = (
        Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum2 = rolled.select(
        F.col("decile").cast("int").alias("decile"),
        "n",
        "p",
        "tn",
        "tp",
        F.sum("n").over(wcum).alias("cn"),
        F.sum("p").over(wcum).alias("cp"),
    )
    return cum2.select(
        "decile",
        "n",
        "p",
        "cn",
        "cp",
        grid(
            F.col("cp").cast("double")
            * F.col("tn")
            / (F.col("cn").cast("double") * F.col("tp")),
            6,
        )
        .alias("lift_micro"),
        grid(F.col("cp").cast("double") / F.col("tp"), 6).alias("gain_micro"),
    ).orderBy("decile")


def _user_times(ev: DataFrame) -> DataFrame:
    """Per user, the first and last event and the first purchase, in
    epoch micros: ``(user_id, first_us, last_us, conv_us)`` (``conv_us``
    null for a user who never purchased). Spark twin of
    :func:`_user_times_sql`."""
    us = F.unix_micros(F.col("ts"))
    return ev.groupBy("user_id").agg(
        F.min(us).alias("first_us"),
        F.max(us).alias("last_us"),
        F.min(F.when(F.col("event_type") == "purchase", us))
        .alias("conv_us"),
    )


def _user_times_sql(tbl: str, epoch_fn: str) -> str:
    """Body of the ``u`` CTE: the SQL twin of :func:`_user_times`, with the
    engine's epoch-micros function."""
    return f"""
  SELECT user_id,
         MIN({epoch_fn}(ts)) AS first_us,
         MAX({epoch_fn}(ts)) AS last_us,
         MIN(CASE WHEN event_type = 'purchase' THEN {epoch_fn}(ts) END)
           AS conv_us
  FROM {tbl} GROUP BY user_id"""


def _kaplan_meier_sql(
    tbl: str, epoch_fn: str, div: str, mat: str, days_expr: str
) -> str:
    """Kaplan-Meier estimator as one shared recursive template. The
    survival product S_t = S_{t-1} * (n_t - d_t) / n_t is a SEQUENTIAL
    recurrence — hopeless as a float product across engines — so it
    runs as an INTEGER recurrence on a 1e9 grid: each step is one
    BIGINT multiply + truncating divide (identical in both engines),
    and the recursion is a WITH RECURSIVE join against the per-day
    risk table (both engines' fixpoint executors must agree exactly).
    Tokens: epoch fn, integer division, MATERIALIZED hint, and the
    day-grid generator (Spark ``explode(sequence(...))`` / DuckDB
    ``unnest(generate_series(...))``)."""
    day_us = 86400 * 1_000_000
    return f"""
WITH RECURSIVE u AS {mat} ({_user_times_sql(tbl, epoch_fn)}),
cohort AS {mat} (
  SELECT user_id,
         (COALESCE(conv_us, last_us) - first_us) {div} {day_us} AS dur,
         CASE WHEN conv_us IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM u),
hist AS {mat} (
  SELECT dur, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(ev) AS BIGINT) AS dd
  FROM cohort GROUP BY dur),
days AS {mat} (
  SELECT {days_expr} AS t FROM (SELECT MAX(dur) AS mx FROM cohort) z),
risk AS {mat} (
  SELECT d.t,
         CAST(SUM(h.cnt) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN h.dur = d.t THEN h.dd ELSE 0 END)
              AS BIGINT) AS dd
  FROM days d JOIN hist h ON h.dur >= d.t
  GROUP BY d.t)
SELECT t, n, dd FROM risk
"""


def _km_recursion_sql(risk_tbl: str, div: str) -> str:
    """The survival-product recursion alone, over an already-built
    risk table — the ORACLE's form of the recurrence. The Spark side
    deliberately does NOT use WITH RECURSIVE here: each recursion
    level is a scheduled join stage, so a 30-day curve paid ~30 stage
    floors (measured 10.5 s at sf0.1; still ~6 s after checkpointing
    the risk table). A <=31-row sequential product belongs in one
    Arrow-batched kernel (`_km_kernel`, the `ts_kalman_1d` shape) —
    0.3 s, and the integer grid keeps both forms bit-identical."""
    return f"""
WITH RECURSIVE rec AS (
  SELECT t, n, dd, (1000000000 * (n - dd)) {div} n AS s
  FROM {risk_tbl} WHERE t = 0
  UNION ALL
  SELECT r2.t, r2.n, r2.dd, (rec.s * (r2.n - r2.dd)) {div} r2.n
  FROM rec JOIN {risk_tbl} r2 ON r2.t = rec.t + 1)
SELECT t AS day, n AS n_at_risk, dd AS d_events, s AS surv_nano
FROM rec ORDER BY t
"""


@register(
    "ml_kaplan_meier",
    oracle=(
        "WITH RECURSIVE risk AS MATERIALIZED ("
        + _kaplan_meier_sql(
            "events", "epoch_us", "//", "MATERIALIZED",
            "unnest(generate_series(0, z.mx))",
        )
        + ") "
        + _km_recursion_sql("risk", "//").replace(
            "WITH RECURSIVE rec AS (", ", rec AS ("
        )
    ),
)
def ml_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimator — time-to-conversion with
    CENSORING, the statistic funnel metrics silently get wrong: a user
    who hasn't purchased yet is not a failure, they are censored at
    last-seen, and KM is the standard estimator that credits them to
    the risk set exactly as long as they were observed. Duration =
    first event to first purchase (or to last-seen, censored); output
    = the full survival curve (day, n at risk, events, S_t).

    Spark-first shape: the only data-sized pass is the per-user
    aggregation; the day histogram, risk table and recursive survival
    product all run on collapsed <=31-row tables. The sequential
    product is an exact INTEGER recurrence on a 1e9 grid — the oracle
    runs it as ``WITH RECURSIVE`` while Spark runs the identical
    integer recurrence in one Arrow-batched kernel (`_km_kernel`); the
    risk table itself is a DataFrame-API build (converted from the
    spark.sql template form per VERDICT r9 task 4).
    """
    day_us = 86400 * 1_000_000
    ev = load_table(spark, sf_dir, "events")
    u = _user_times(ev)
    cohort = u.select(
        F.expr(
            f"(coalesce(conv_us, last_us) - first_us) div {day_us}"
        ).alias("dur"),
        F.when(F.col("conv_us").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    hist = cohort.groupBy("dur").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("ev").cast("long").alias("dd"),
    )
    days = cohort.agg(F.max("dur").alias("mx")).select(
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("mx")))
        .alias("t")
    )
    risk = (
        days.join(hist, hist["dur"] >= days["t"])
        .groupBy("t")
        .agg(
            F.sum("cnt").cast("long").alias("n"),
            F.sum(F.when(F.col("dur") == F.col("t"), F.col("dd"))
                  .otherwise(0)).cast("long").alias("dd"),
        )
    )
    return risk.groupBy(F.lit(1).alias("_g")).applyInPandas(
        _km_kernel,
        "day BIGINT, n_at_risk BIGINT, d_events BIGINT, surv_nano BIGINT",
    )


def _km_kernel(key, pdf):
    """Integer survival product over the collapsed risk table — one
    python pass, exact int64 (positive truncating division == floor,
    matching the oracle's ``//``)."""
    import pandas as pd

    pdf = pdf.sort_values("t")
    out = []
    s = 1_000_000_000
    for t, n, dd in zip(pdf["t"], pdf["n"], pdf["dd"]):
        s = (s * (int(n) - int(dd))) // int(n)
        out.append((int(t), int(n), int(dd), s))
    return pd.DataFrame(
        out, columns=["day", "n_at_risk", "d_events", "surv_nano"]
    )


def _logrank_sql(tbl: str, epoch_fn: str, div: str, mat: str) -> str:
    """Two-group log-rank test over the same conversion-survival frame
    as `ml_kaplan_meier` (group 1 = users whose FIRST event is a
    click). Per-day expected deaths and hypergeometric variance are
    rationals, so both land on an explicit 1e6 grid via CHAINED
    truncating divisions (each intermediate bounded ~1e16 at the 10x
    sweep — the nested-div ladder keeps the 4-factor variance
    numerator out of BIGINT overflow); the grid sums are exact
    integers and the final chi-square is ONE double expression over
    them."""
    day_us = 86400 * 1_000_000
    return f"""
WITH u AS {mat} ({_user_times_sql(tbl, epoch_fn)}),
ft AS {mat} (
  SELECT user_id, event_type AS first_type FROM (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM {tbl}) z
  WHERE rn = 1),
cohort AS {mat} (
  SELECT u.user_id,
         (COALESCE(u.conv_us, u.last_us) - u.first_us) {div} {day_us}
           AS dur,
         CASE WHEN u.conv_us IS NOT NULL THEN 1 ELSE 0 END AS ev,
         CASE WHEN ft.first_type = 'click' THEN 1 ELSE 0 END AS g1
  FROM u JOIN ft ON ft.user_id = u.user_id),
hist AS {mat} (
  SELECT dur,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(ev) AS BIGINT) AS dd,
         CAST(SUM(g1) AS BIGINT) AS cnt1,
         CAST(SUM(ev * g1) AS BIGINT) AS dd1
  FROM cohort GROUP BY dur),
risk AS {mat} (
  SELECT d.dur AS t,
         CAST(SUM(h.cnt) AS BIGINT) AS n,
         CAST(SUM(h.cnt1) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN h.dur = d.dur THEN h.dd ELSE 0 END)
              AS BIGINT) AS dd,
         CAST(SUM(CASE WHEN h.dur = d.dur THEN h.dd1 ELSE 0 END)
              AS BIGINT) AS o1
  FROM (SELECT DISTINCT dur FROM hist) d
  JOIN hist h ON h.dur >= d.dur
  GROUP BY d.dur),
terms AS {mat} (
  SELECT t, n, n1, dd, o1,
         (1000000 * n1 * dd) {div} n AS e1_micro,
         CASE WHEN n > 1 THEN
           (((((1000000 * dd * n1) {div} n) * (n - n1)) {div} n)
             * (n - dd)) {div} (n - 1)
         ELSE 0 END AS v_micro
  FROM risk WHERE dd > 0),
s AS {mat} (
  SELECT CAST(SUM(o1) AS BIGINT) AS o1_sum,
         CAST(SUM(e1_micro) AS BIGINT) AS e1_micro_sum,
         CAST(SUM(v_micro) AS BIGINT) AS v_micro_sum,
         CAST(COUNT(*) AS BIGINT) AS n_event_days
  FROM terms)
SELECT o1_sum, e1_micro_sum, v_micro_sum, n_event_days,
       (CAST(o1_sum * 1000000 - e1_micro_sum AS DOUBLE)
        * CAST(o1_sum * 1000000 - e1_micro_sum AS DOUBLE))
         / (CAST(v_micro_sum AS DOUBLE) * CAST(1000000 AS DOUBLE))
         AS chi2
FROM s
"""


def _logrank_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame-API build of the `_logrank_sql` kernel (converted from
    the shared-SQL-text form per VERDICT r9 task 4) — the oracle keeps
    the SQL template, Spark now constructs the identical computation
    through the API so the cross-engine differential no longer shares a
    parser: per-user durations + first-event cohort flag, the collapsed
    duration histogram, suffix-sum risk sets via the tiny `>=` join
    (the same BNL-over-broadcast plan the SQL text produced), and the
    `stat_logrank_test` chained truncating-division grid ladder."""
    day_us = 86400 * 1_000_000
    ev = load_table(spark, sf_dir, "events")
    u = _user_times(ev)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ft = (
        ev.select(
            "user_id", "event_type", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("first_type"))
    )
    cohort = u.join(ft, "user_id").select(
        F.expr(
            f"(coalesce(conv_us, last_us) - first_us) div {day_us}"
        ).alias("dur"),
        F.when(F.col("conv_us").isNotNull(), 1).otherwise(0).alias("ev"),
        F.when(F.col("first_type") == "click", 1).otherwise(0)
        .alias("g1"),
    )
    hist = cohort.groupBy("dur").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("ev").cast("long").alias("dd"),
        F.sum("g1").cast("long").alias("cnt1"),
        F.sum(F.col("ev") * F.col("g1")).cast("long").alias("dd1"),
    )
    d = hist.select(F.col("dur").alias("t")).distinct()
    risk = (
        d.join(hist, hist["dur"] >= d["t"])
        .groupBy("t")
        .agg(
            F.sum("cnt").cast("long").alias("n"),
            F.sum("cnt1").cast("long").alias("n1"),
            F.sum(F.when(F.col("dur") == F.col("t"), F.col("dd"))
                  .otherwise(0)).cast("long").alias("dd"),
            F.sum(F.when(F.col("dur") == F.col("t"), F.col("dd1"))
                  .otherwise(0)).cast("long").alias("o1"),
        )
    )
    terms = risk.filter(F.col("dd") > 0).select(
        "t", "n", "n1", "dd", "o1",
        F.expr("(1000000 * n1 * dd) div n").alias("e1_micro"),
        F.when(
            F.col("n") > 1,
            F.expr(
                "(((((1000000 * dd * n1) div n) * (n - n1)) div n)"
                " * (n - dd)) div (n - 1)"
            ),
        ).otherwise(F.lit(0)).alias("v_micro"),
    )
    s = terms.agg(
        F.sum("o1").cast("long").alias("o1_sum"),
        F.sum("e1_micro").cast("long").alias("e1_micro_sum"),
        F.sum("v_micro").cast("long").alias("v_micro_sum"),
        F.count(F.lit(1)).cast("long").alias("n_event_days"),
    )
    dev = (
        F.col("o1_sum") * F.lit(1_000_000) - F.col("e1_micro_sum")
    ).cast("double")
    return s.select(
        "o1_sum", "e1_micro_sum", "v_micro_sum", "n_event_days",
        (
            dev * dev
            / (F.col("v_micro_sum").cast("double") * F.lit(1e6))
        ).alias("chi2"),
    )


@register(
    "stat_logrank_test",
    oracle=_logrank_sql("events", "epoch_us", "//", "MATERIALIZED"),
)
def stat_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test — "do the two cohorts convert at the same rate?"
    asked the censoring-correct way, the hypothesis-test companion to
    `ml_kaplan_meier`: at every event day, compare group 1's observed
    conversions to the hypergeometric expectation given its share of
    the risk set, and chi-square the standardized total. Comparing
    raw conversion fractions ignores that cohorts are observed for
    different lengths; the log-rank statistic is the standard fix.

    One data-sized pass builds per-user durations (plus a first-event
    window for the cohort flag); the risk table, grid terms and the
    final statistic run on <=31 collapsed rows. Expected/variance
    terms land on an explicit integer grid so the single-row result
    hash-matches bit-for-bit; Spark builds the kernel through the
    DataFrame API (`_logrank_df`) against the unchanged SQL oracle.
    """
    return _logrank_df(spark, sf_dir)


def _cmh_sql(tbl: str, div: str, mat: str) -> str:
    """Cochran-Mantel-Haenszel test, one shared template. Per-stratum
    2x2 cells are exact integers; the hypergeometric expectation and
    variance land on a 1e6 grid via chained truncating divisions (the
    `stat_logrank_test` ladder — keeps the 4-factor variance numerator
    inside BIGINT at the 10x sweep); the continuity-correction-free
    chi-square is ONE double expression over the exact grid sums."""
    return f"""
WITH cells AS {mat} (
  SELECT o_orderpriority AS stratum,
         CAST(SUM(CASE WHEN o_custkey % 2 = 0
                        AND o_totalprice > 150000.0
                       THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN o_totalprice > 150000.0 THEN 1 ELSE 0 END)
              AS BIGINT) AS m1,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM {tbl} GROUP BY o_orderpriority),
terms AS {mat} (
  SELECT stratum, a, n1, m1, n,
         (1000000 * n1 * m1) {div} n AS e_micro,
         CASE WHEN n > 1 THEN
           (((((1000000 * n1 * (n - n1)) {div} n) * m1) {div} n)
             * (n - m1)) {div} (n - 1)
         ELSE 0 END AS v_micro
  FROM cells),
s AS {mat} (
  SELECT CAST(SUM(a) AS BIGINT) AS a_sum,
         CAST(SUM(e_micro) AS BIGINT) AS e_micro_sum,
         CAST(SUM(v_micro) AS BIGINT) AS v_micro_sum,
         CAST(COUNT(*) AS BIGINT) AS n_strata
  FROM terms)
SELECT a_sum, e_micro_sum, v_micro_sum, n_strata,
       (CAST(a_sum * 1000000 - e_micro_sum AS DOUBLE)
        * CAST(a_sum * 1000000 - e_micro_sum AS DOUBLE))
         / (CAST(v_micro_sum AS DOUBLE) * CAST(1000000 AS DOUBLE))
         AS chi2
FROM s
"""


@register(
    "stat_cmh_test",
    oracle=_cmh_sql("orders", "//", "MATERIALIZED"),
)
def stat_cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel test — "is exposure associated with
    outcome AFTER controlling for the stratifying variable?" The
    stratified guard against Simpson's paradox: a pooled 2x2 table can
    show an association that every stratum contradicts; CMH sums each
    stratum's observed-minus-expected under its own margins, so
    confounding through the stratum variable cancels. The A/B-testing
    form: treatment effect controlled for cohort/segment.

    One map-side-combinable aggregation builds all per-stratum 2x2
    cells in a single pass (conditional sums, zero extra shuffles —
    the `agg_cond` shape); expectation/variance land on the
    `stat_logrank_test` integer grid so the single-row statistic
    hash-matches bit-for-bit. Spark builds the same kernel through the
    DataFrame API (converted from the shared-SQL-text form per VERDICT
    r8), the chained truncating-division ladder expressed with `div`.
    """
    o = load_table(spark, sf_dir, "orders")
    exposed = F.col("o_custkey") % 2 == 0
    hit = F.col("o_totalprice") > 150000.0
    cells = o.groupBy(F.col("o_orderpriority").alias("stratum")).agg(
        F.sum(F.when(exposed & hit, 1).otherwise(0)).cast("long")
        .alias("a"),
        F.sum(F.when(exposed, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("m1"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    terms = cells.select(
        "stratum", "a", "n1", "m1", "n",
        F.expr("(1000000 * n1 * m1) div n").alias("e_micro"),
        F.when(
            F.col("n") > 1,
            F.expr(
                "(((((1000000 * n1 * (n - n1)) div n) * m1) div n)"
                " * (n - m1)) div (n - 1)"
            ),
        ).otherwise(F.lit(0)).alias("v_micro"),
    )
    s = terms.agg(
        F.sum("a").cast("long").alias("a_sum"),
        F.sum("e_micro").cast("long").alias("e_micro_sum"),
        F.sum("v_micro").cast("long").alias("v_micro_sum"),
        F.count(F.lit(1)).cast("long").alias("n_strata"),
    )
    dev = (F.col("a_sum") * F.lit(1_000_000) - F.col("e_micro_sum")).cast(
        "double"
    )
    return s.select(
        "a_sum", "e_micro_sum", "v_micro_sum", "n_strata",
        (
            dev * dev
            / (F.col("v_micro_sum").cast("double") * F.lit(1e6))
        ).alias("chi2"),
    )


#: generalized-ESD rounds (outliers removed one per round).
_ESD_ROUNDS = 3


def _esd_sql(tbl: str, epoch_fn: str, div: str, mat: str) -> str:
    """Generalized ESD (Rosner) outlier rounds, unrolled. Each round's
    candidate is the argmax of |n*x - sum(x)| — an EXACT integer
    comparison (no mean, no float), tie-broken by user_id — and its
    studentized R^2 is one double expression over exact integer sums
    (the squared deviation is cast to DOUBLE before squaring: n*x can
    reach ~5.6e10 at the 10x sweep, whose square overflows BIGINT but
    is exact in double; likewise n*sxx and sx*sx reach ~3e21 at sf1,
    so the variance denominator multiplies in DOUBLE — identically
    rounded in both engines from identical text). Every round's survivor set is MATERIALIZED."""
    parts = [
        f"""
WITH d0 AS {mat} (
  SELECT user_id,
         CAST(SUM({grid_sql('value', 2)})
              AS BIGINT) AS x
  FROM {tbl} GROUP BY user_id)"""
    ]
    for r in range(1, _ESD_ROUNDS + 1):
        prev = f"d{r - 1}"
        parts.append(f""",
s{r} AS {mat} (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM {prev}),
c{r} AS {mat} (
  SELECT d.user_id, d.x, s.n,
         ABS(s.n * d.x - s.sx) AS dev_n,
         (CAST(s.n * d.x - s.sx AS DOUBLE)
          * CAST(s.n * d.x - s.sx AS DOUBLE)
          * CAST(s.n - 1 AS DOUBLE))
           / (CAST(s.n AS DOUBLE)
              * (CAST(s.n AS DOUBLE) * CAST(s.sxx AS DOUBLE)
                 - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE))) AS r2
  FROM {prev} d, s{r} s),
w{r} AS {mat} (
  SELECT user_id, x, n, r2 FROM c{r}
  ORDER BY dev_n DESC, user_id LIMIT 1),
d{r} AS {mat} (
  SELECT d.user_id, d.x FROM {prev} d, w{r}
  WHERE d.user_id <> w{r}.user_id)""")
    sel = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS round, user_id AS outlier_user,"
        f" x AS x_cents, n AS n_points, r2 FROM w{r}"
        for r in range(1, _ESD_ROUNDS + 1)
    )
    return "".join(parts) + "\n" + sel


@register(
    "anomaly_esd_rounds",
    oracle=_esd_sql("events", "epoch_us", "//", "MATERIALIZED"),
)
def anomaly_esd_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized ESD (Rosner's test) — the MULTIPLE-outlier detector
    that fixes single-pass z-scores' masking problem: one huge outlier
    inflates the variance and hides the second; ESD removes the most
    extreme point, RECOMPUTES the statistics on the survivors, and
    repeats, reporting each round's studentized R^2 (threshold against
    the ESD critical values downstream). Completes the anomaly ladder
    above `anomaly_zscore` (single pass) and `anomaly_mad` (robust
    scale).

    Per round: one collapsed-table aggregate (n, sum-x, sum-x^2), a
    1-row broadcast back onto the per-user table, an exact-integer
    argmax (TakeOrdered limit 1, dev tie-broken by user_id), and an
    anti-filter — three rounds = three such passes over the per-user
    rollup, never over raw events. The candidate choice is
    integer-exact, so both engines remove the SAME point every round.
    Spark builds the rounds through the DataFrame API (converted from
    the shared-SQL-text form per VERDICT r8), the R^2 double mirrored
    operand-for-operand against the unrolled oracle; each round's
    survivor set is localCheckpointed (the oracle's MATERIALIZED).
    """
    ev = load_table(spark, sf_dir, "events")
    cur = ev.groupBy("user_id").agg(
        F.sum(grid("value", 2)).cast("long").alias("x")
    ).localCheckpoint(eager=True)
    rounds = []
    for r in range(1, _ESD_ROUNDS + 1):
        s = cur.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        )
        dev = (F.col("n") * F.col("x") - F.col("sx")).cast("long")
        devd = dev.cast("double")
        nd = F.col("n").cast("double")
        r2 = (
            devd * devd * (F.col("n") - 1).cast("double")
        ) / (
            nd
            * (
                nd * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx").cast("double")
            )
        )
        c = cur.crossJoin(F.broadcast(s)).select(
            "user_id", "x", "n",
            F.abs(dev).alias("dev_n"),
            r2.alias("r2"),
        )
        w = (
            c.orderBy(F.col("dev_n").desc(), "user_id")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        rounds.append(
            w.select(
                F.lit(r).cast("long").alias("round"),
                F.col("user_id").alias("outlier_user"),
                F.col("x").alias("x_cents"),
                F.col("n").alias("n_points"),
                "r2",
            )
        )
        cur = cur.join(
            F.broadcast(w.select("user_id")), "user_id", "left_anti"
        ).localCheckpoint(eager=True)
    out = rounds[0]
    for more in rounds[1:]:
        out = out.unionAll(more)
    return out


#: train/val/test split: md5 seed tag and the 80/90 hex boundaries
#: (i/10 of 32-bit space as fixed-length lowercase hex — string
#: comparison IS integer comparison, the ml_kfold_assign trick).
_TVT_SEED = "tvt8"
_TVT_T80 = "cccccccc"
_TVT_T90 = "e6666666"


@register(
    "ml_train_split_audit",
    oracle=f"""
WITH a AS (
  SELECT o_orderkey, o_custkey, o_orderpriority,
         CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR) || ':{_TVT_SEED}'),
                          1, 8) < '{_TVT_T80}' THEN 'train'
              WHEN substr(md5(CAST(o_orderkey AS VARCHAR) || ':{_TVT_SEED}'),
                          1, 8) < '{_TVT_T90}' THEN 'val'
              ELSE 'test' END AS split
  FROM orders
),
cust AS (
  SELECT o_custkey, COUNT(DISTINCT split) AS ns FROM a GROUP BY o_custkey
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM a)
SELECT a.split,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT a.o_custkey) AS BIGINT) AS n_customers,
       CAST(COUNT(DISTINCT CASE WHEN c.ns > 1 THEN a.o_custkey END)
            AS BIGINT) AS n_leaked_customers,
       CAST(SUM(CASE WHEN a.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_urgent,
       {grid_sql('CAST(COUNT(*) AS DOUBLE) / MIN(tot.n_total)', 6)} AS frac_micro
FROM a JOIN cust c ON c.o_custkey = a.o_custkey CROSS JOIN tot
GROUP BY a.split
ORDER BY a.split
""",
)
def ml_train_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split (80/10/10) with a GROUP-LEAKAGE audit — the
    check that catches the classic training-data bug: splitting at the
    RECORD level (here: orders) when records share an entity (here:
    customers), so the same customer's behavior leaks across train and
    eval. The audit reports, per split, how many customers also appear
    in another split — a non-zero count is the signal to move the hash
    coin from the record key to the group key (`ml_kfold_assign` keyed
    by group id is the fix; `corpus_split_leakage` is the same audit
    keyed by content hash).

    Assignment is a stateless map-side md5 coin against fixed hex
    thresholds (no shuffle, reproducible across engines, runs, and
    incremental loads); the audit is one groupBy over the group key
    plus one over split. The ride-along total for the realized-fraction
    column broadcasts as a 1-row aggregate. Per-split URGENT counts
    audit stratum balance: a hash coin preserves stratum proportions in
    expectation, and this column is how a pipeline VERIFIES that at
    run time instead of assuming it.
    """
    o = load_table(spark, sf_dir, "orders")
    coin = F.substring(
        F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit(f":{_TVT_SEED}"))),
        1,
        8,
    )
    a = o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        F.when(coin < _TVT_T80, F.lit("train"))
        .when(coin < _TVT_T90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    cust = a.groupBy("o_custkey").agg(
        F.countDistinct("split").alias("ns")
    )
    tot = a.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        a.join(cust, "o_custkey")
        .crossJoin(F.broadcast(tot))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct(
                F.when(F.col("ns") > 1, F.col("o_custkey"))
            ).alias("n_leaked_customers"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("n_urgent"),
            grid(F.count(F.lit(1)).cast("double") / F.min("n_total"), 6)
            .alias("frac_micro"),
        )
        .orderBy("split")
    )


@register(
    "stat_mutual_information",
    oracle=f"""
WITH cells AS (
  SELECT o_orderpriority AS prio, o_orderstatus AS status,
         CAST(COUNT(*) AS BIGINT) AS nxy
  FROM orders GROUP BY 1, 2
),
m AS (
  SELECT prio, status, nxy,
         SUM(nxy) OVER (PARTITION BY prio) AS nx,
         SUM(nxy) OVER (PARTITION BY status) AS ny,
         SUM(nxy) OVER () AS n
  FROM cells
)
SELECT prio, status, nxy,
       {grid_sql('LN(CAST(nxy * n AS DOUBLE) / CAST(nx * ny AS DOUBLE))', 6)}
         AS pmi_micro,
       {grid_sql('''CAST(nxy AS DOUBLE) / n
                  * LN(CAST(nxy * n AS DOUBLE) / CAST(nx * ny AS DOUBLE))''', 9)}
                AS contrib_nano,
       CAST(SUM({grid_sql('''CAST(nxy AS DOUBLE) / n
                  * LN(CAST(nxy * n AS DOUBLE) / CAST(nx * ny AS DOUBLE))''', 9)})
                OVER () AS BIGINT)
         AS mi_nano
FROM m
ORDER BY prio, status
""",
)
def stat_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between two categorical columns (order
    priority × status) with the per-cell PMI decomposition — the
    feature-selection / dependency-screening statistic a training-data
    pipeline runs over candidate features against a label
    (`text_word_pmi` is the word-pair sibling; `stat_cramers_v` is the
    χ²-family normalization of the same table).

    Plan shape: ONE data-sized pass collapses orders to the |X|·|Y|
    contingency cells; margins, the grand total, PMI, and MI all come
    from window sums over that ~15-row table — no joins, no second
    scan. Float discipline: counts are exact BIGINTs, the single LN
    term uses identical expression text in both engines, each cell's
    contribution floors onto the 1e-9 grid BEFORE the MI sum, so the
    total is an order-independent INTEGER sum (the ride-along mi_nano
    column repeats it per row; both engines hash the same longs).
    """
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count(F.lit(1)).alias("nxy"))
    m = cells.select(
        "prio",
        "status",
        "nxy",
        F.sum("nxy").over(Window.partitionBy("prio")).alias("nx"),
        F.sum("nxy").over(Window.partitionBy("status")).alias("ny"),
        F.sum("nxy").over(Window.partitionBy()).alias("n"),
    )
    ln_term = F.log(
        (F.col("nxy") * F.col("n")).cast("double")
        / (F.col("nx") * F.col("ny")).cast("double")
    )
    contrib = grid(F.col("nxy").cast("double") / F.col("n") * ln_term, 9)
    return (
        m.select(
            "prio",
            "status",
            "nxy",
            grid(ln_term, 6).alias("pmi_micro"),
            contrib.alias("contrib_nano"),
        )
        .withColumn(
            "mi_nano",
            F.sum("contrib_nano").over(Window.partitionBy()).cast("long"),
        )
        .orderBy("prio", "status")
    )


#: bagged stumps: 8 replicas = 8 16-bit slices of ONE salted digest.
_BAG_B = 8


@register(
    "ml_bagged_stumps",
    oracle=f"""
WITH u AS (
  SELECT l_quantity AS x,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         b.b,
         {md5_int_sql(f"{_BOOT_KEY_DUCK} || ':bag'", "4 * b.b::INT + 1", 4)}
           AS u16
  FROM lineitem, range(0, {_BAG_B}) b(b)
),
g AS (
  SELECT b, x,
         CAST(SUM({_boot_w("u16")} * y) AS BIGINT) AS p,
         CAST(SUM({_boot_w("u16")}) AS BIGINT) AS c
  FROM u GROUP BY b, x
),
cum AS (
  SELECT b, x,
         CAST(SUM(p) OVER (PARTITION BY b ORDER BY x) AS BIGINT) AS lp,
         CAST(SUM(c) OVER (PARTITION BY b ORDER BY x) AS BIGINT) AS lc,
         CAST(SUM(p) OVER (PARTITION BY b) AS BIGINT) AS tp,
         CAST(SUM(c) OVER (PARTITION BY b) AS BIGINT) AS tc
  FROM g
),
{_gini_splits_sql("b, ")},
best AS (
  SELECT b, threshold, n_left, n_right, gini_g,
         ROW_NUMBER() OVER (PARTITION BY b ORDER BY gini_g, threshold) AS rn
  FROM splits
)
SELECT b, threshold, n_left, n_right,
       CAST(gini_g AS DOUBLE) / 1000000000000.0 AS gini,
       CAST(COUNT(DISTINCT threshold) OVER () AS BIGINT)
         AS n_distinct_thresholds
FROM best WHERE rn = 1
ORDER BY b
""",
)
def ml_bagged_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bagging (bootstrap aggregation) of decision stumps — the
    random-forest building block: 8 Poisson-bootstrap replicas
    (`stat_bootstrap_ci`'s distributed resampling scheme — every row
    contributes a deterministic Poisson(1) weight per replica, no
    global sampling coordination) each train the `ml_decision_stump`
    kernel on WEIGHTED class histograms, and the spread of chosen
    thresholds across replicas (`n_distinct_thresholds`) is the
    classic bagging diagnostic: a stable split survives resampling, a
    knife-edge one scatters.

    One pass fans each row out ×8 with 16-bit uniforms sliced from a
    single salted md5 digest (computed once per row, BEFORE the
    replica fan-out — the explode-projection discipline); per-replica
    histograms aggregate map-side; the cumulative-split scan and the
    per-replica Gini argmin run over |replicas|×|distinct x| collapsed
    rows with PARTITIONED windows. At 100 TB bagging costs one
    histogram pass regardless of B — exactly why Poisson bootstrap is
    the production form (Chamandy et al. 2012).
    """
    li = load_table(spark, sf_dir, "lineitem")
    # r12: fan the scan out FIRST over the 6 needed columns — the
    # bench fixture is one parquet split, so the md5 digest projection,
    # the ×8 Generate and the map-side partial aggregate all ran in a
    # single task (the stat_bootstrap_ci single-split lesson). The ×8
    # explode + (b, x) aggregate shape itself is kept: an A/B against a
    # 16-wide "sum per replica" flat aggregate measured ~1.5× SLOWER
    # (paired medians 5.6 s vs 7.9 s) — the same wide-aggregate cliff
    # stat_bootstrap_ci's docstring pins, so the Generate stays.
    rows = (
        li.select(
            "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
            "l_quantity", "l_returnflag",
        )
        .transform(fan_out)
        .select(
            F.col("l_quantity").alias("x"),
            F.when(F.col("l_returnflag") == "R", F.lit(1))
            .otherwise(F.lit(0))
            .alias("y"),
            F.md5(F.expr(f"concat({_BOOT_KEY_SPARK}, ':bag')")).alias("digest"),
        )
        .select(
            "x",
            "y",
            F.explode(F.sequence(F.lit(0), F.lit(_BAG_B - 1))).alias("b"),
            F.col("digest"),
        )
    )
    u16 = F.expr("conv(substring(digest, 4 * b + 1, 4), 16, 10)").cast("long")
    w = sum(
        (u16 >= t).cast("int") for t in _POIS_T16
    )
    g = rows.groupBy("b", "x").agg(
        F.sum(w * F.col("y")).alias("p"), F.sum(w).alias("c")
    )
    wc = Window.partitionBy("b").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("b")
    cum = g.select(
        "b",
        "x",
        F.sum("p").over(wc).alias("lp"),
        F.sum("c").over(wc).alias("lc"),
        F.sum("p").over(wt).alias("tp"),
        F.sum("c").over(wt).alias("tc"),
    )
    splits = _gini_splits(cum, "b")
    wb = Window.partitionBy("b").orderBy("gini_g", "threshold")
    return (
        splits.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select(
            "b",
            "threshold",
            "n_left",
            "n_right",
            (F.col("gini_g").cast("double") / F.lit(1e12)).alias("gini"),
            F.size(
                F.collect_set("threshold").over(Window.partitionBy())
            )
            .cast("long")
            .alias("n_distinct_thresholds"),
        )
        .orderBy("b")
    )


def _seg_sse(n, st, sy, stt, sty, syy):
    """Centered two-moment SSE of an OLS line fit — DOUBLE math over
    exact integer sums, identical term order in both engines."""
    return (
        f"(({syy}) - CAST(({sy}) AS DOUBLE) * ({sy}) / ({n})"
        f" - (CAST(({sty}) AS DOUBLE) - CAST(({st}) AS DOUBLE) * ({sy}) / ({n}))"
        f" * (CAST(({sty}) AS DOUBLE) - CAST(({st}) AS DOUBLE) * ({sy}) / ({n}))"
        f" / (CAST(({stt}) AS DOUBLE) - CAST(({st}) AS DOUBLE) * ({st}) / ({n})))"
    )


def _seg_slope(n, st, sy, stt, sty):
    return (
        f"((CAST(({sty}) AS DOUBLE) - CAST(({st}) AS DOUBLE) * ({sy}) / ({n}))"
        f" / (CAST(({stt}) AS DOUBLE) - CAST(({st}) AS DOUBLE) * ({st}) / ({n})))"
    )


def _segtrend_sql(table: str, epoch_fn: str, intdiv: str) -> str:
    """Shared SQL for the segmented-trend fit — templated only on the
    epoch function and integer-division token (the Kalman/KM recipe).
    """
    L = {  # left-segment stats at the knot row
        "n": "rn", "st": "c_t", "sy": "c_y", "stt": "c_tt",
        "sty": "c_ty", "syy": "CAST(c_yy AS DOUBLE)",
    }
    R = {  # right segment = totals minus prefix
        "n": "(nn - rn)", "st": "(t_t - c_t)", "sy": "(t_y - c_y)",
        "stt": "(t_tt - c_tt)", "sty": "(t_ty - c_ty)",
        "syy": "CAST(t_yy - c_yy AS DOUBLE)",
    }
    T = {
        "n": "nn", "st": "t_t", "sy": "t_y", "stt": "t_tt",
        "sty": "t_ty", "syy": "CAST(t_yy AS DOUBLE)",
    }
    sse_l = _seg_sse(**L)
    sse_r = _seg_sse(**R)
    sse_1 = _seg_sse(**T)
    return f"""
WITH daily AS (
  SELECT {epoch_fn}(date_trunc('day', ts)) {intdiv} 86400000000 AS day,
         {intdiv.join([f"SUM({grid_sql('value', 2)})", "100"])}
           AS y
  FROM {table} GROUP BY 1
),
idx AS (
  SELECT ROW_NUMBER() OVER (ORDER BY day) AS rn,
         day - MIN(day) OVER () AS t, y
  FROM daily
),
cum AS (
  SELECT rn, t, y,
         SUM(t) OVER (ORDER BY rn) AS c_t,
         SUM(y) OVER (ORDER BY rn) AS c_y,
         SUM(t * t) OVER (ORDER BY rn) AS c_tt,
         SUM(t * y) OVER (ORDER BY rn) AS c_ty,
         SUM(y * y) OVER (ORDER BY rn) AS c_yy,
         SUM(t) OVER () AS t_t,
         SUM(y) OVER () AS t_y,
         SUM(t * t) OVER () AS t_tt,
         SUM(t * y) OVER () AS t_ty,
         SUM(y * y) OVER () AS t_yy,
         COUNT(*) OVER () AS nn
  FROM idx
),
cand AS (
  SELECT t AS knot_day, nn,
         {sse_l} + {sse_r} AS sse_seg,
         {sse_1} AS sse_line,
         {_seg_slope("rn", "c_t", "c_y", "c_tt", "c_ty")} AS slope_l,
         {_seg_slope("(nn - rn)", "(t_t - c_t)", "(t_y - c_y)",
                     "(t_tt - c_tt)", "(t_ty - c_ty)")} AS slope_r
  FROM cum WHERE rn >= 3 AND rn <= nn - 3
),
best AS (
  SELECT *, ROW_NUMBER() OVER (
      ORDER BY {grid_sql('sse_seg', 6)}, knot_day
    ) AS pick
  FROM cand
)
SELECT CAST(knot_day AS BIGINT) AS knot_day,
       CAST(nn AS BIGINT) AS n_days,
       {grid_sql('slope_l', 6)} AS slope_l_micro,
       {grid_sql('slope_r', 6)} AS slope_r_micro,
       {grid_sql('sse_seg', 6)} AS sse_seg_micro,
       {grid_sql('sse_line', 6)} AS sse_line_micro
FROM best WHERE pick = 1
"""


@register(
    "ts_segmented_trend",
    oracle=_segtrend_sql("events", "epoch_us", "//"),
)
def ts_segmented_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-segment piecewise-linear trend fit with exhaustive knot
    search — the changepoint-aware upgrade of a single OLS trend
    (`ml_linreg_normal` fits one line; `ts_changepoint` detects a mean
    shift; this fits a SLOPE change and reports how much SSE the knot
    buys, the Prophet-style trend building block).

    Everything derives from ONE cumulative-moment pass: the daily
    rollup is the only data-sized aggregation; prefix sums of
    (t, y, t², ty, y²) over the collapsed per-day table give BOTH
    segments' OLS sufficient statistics at EVERY candidate knot
    simultaneously (left = prefix, right = total − prefix), so the
    knot scan is O(|days|), not O(|days| · |data|). Daily totals
    truncate to exact integer dollars (y² sums stay < 2^63 through
    ~sf100 — overflow ledger in SCALE.md); SSE/slopes are double math
    over those exact longs whose expression FRAGMENTS stay textually
    shared with the oracle (`_seg_sse`/`_seg_slope` — operand-for-
    operand identical IEEE trees), and the argmin orders on the
    1e-6-FLOORED SSE with a knot-day tie-break, so the pick cannot
    flip on a float ulp. Spark builds the plan through the DataFrame
    API (converted from the full-template spark.sql form per VERDICT
    r9 task 4) — only the scalar fragments are shared, not a parser
    pass over the whole kernel.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr(
            "unix_micros(date_trunc('day', ts)) div 86400000000"
        ).alias("day")
    ).agg(
        F.expr(
            f"SUM({grid_sql('value', 2)}) div 100"
        ).alias("y")
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).alias("rn"),
        (F.col("day") - F.min("day").over(Window.partitionBy()))
        .alias("t"),
        "y",
    )
    wc = Window.orderBy("rn")
    wg = Window.partitionBy()
    cum = idx.select(
        "rn", "t", "y",
        F.sum("t").over(wc).alias("c_t"),
        F.sum("y").over(wc).alias("c_y"),
        F.sum(F.col("t") * F.col("t")).over(wc).alias("c_tt"),
        F.sum(F.col("t") * F.col("y")).over(wc).alias("c_ty"),
        F.sum(F.col("y") * F.col("y")).over(wc).alias("c_yy"),
        F.sum("t").over(wg).alias("t_t"),
        F.sum("y").over(wg).alias("t_y"),
        F.sum(F.col("t") * F.col("t")).over(wg).alias("t_tt"),
        F.sum(F.col("t") * F.col("y")).over(wg).alias("t_ty"),
        F.sum(F.col("y") * F.col("y")).over(wg).alias("t_yy"),
        F.count(F.lit(1)).over(wg).alias("nn"),
    )
    L = {  # left-segment stats at the knot row (same as the oracle)
        "n": "rn", "st": "c_t", "sy": "c_y", "stt": "c_tt",
        "sty": "c_ty", "syy": "CAST(c_yy AS DOUBLE)",
    }
    R = {  # right segment = totals minus prefix
        "n": "(nn - rn)", "st": "(t_t - c_t)", "sy": "(t_y - c_y)",
        "stt": "(t_tt - c_tt)", "sty": "(t_ty - c_ty)",
        "syy": "CAST(t_yy - c_yy AS DOUBLE)",
    }
    T = {
        "n": "nn", "st": "t_t", "sy": "t_y", "stt": "t_tt",
        "sty": "t_ty", "syy": "CAST(t_yy AS DOUBLE)",
    }
    cand = cum.filter(
        (F.col("rn") >= 3) & (F.col("rn") <= F.col("nn") - 3)
    ).select(
        F.col("t").alias("knot_day"), "nn",
        F.expr(f"{_seg_sse(**L)} + {_seg_sse(**R)}").alias("sse_seg"),
        F.expr(_seg_sse(**T)).alias("sse_line"),
        F.expr(_seg_slope("rn", "c_t", "c_y", "c_tt", "c_ty"))
        .alias("slope_l"),
        F.expr(
            _seg_slope("(nn - rn)", "(t_t - c_t)", "(t_y - c_y)",
                       "(t_tt - c_tt)", "(t_ty - c_ty)")
        ).alias("slope_r"),
    )
    best = cand.withColumn(
        "pick",
        F.row_number().over(
            Window.orderBy(
                F.expr(
                    f"{grid_sql('sse_seg', 6)}"
                ),
                "knot_day",
            )
        ),
    )
    return best.filter(F.col("pick") == 1).select(
        F.col("knot_day").cast("long").alias("knot_day"),
        F.col("nn").cast("long").alias("n_days"),
        F.expr(f"{grid_sql('slope_l', 6)}")
        .alias("slope_l_micro"),
        F.expr(f"{grid_sql('slope_r', 6)}")
        .alias("slope_r_micro"),
        F.expr(f"{grid_sql('sse_seg', 6)}")
        .alias("sse_seg_micro"),
        F.expr(f"{grid_sql('sse_line', 6)}")
        .alias("sse_line_micro"),
    )


@register(
    "stat_hodges_lehmann",
    oracle="""
WITH g AS (
  SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS x,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
),
pairs AS (
  SELECT a.grp, a.x + b.x AS s2,
         CASE WHEN a.x = b.x THEN a.c * (a.c + 1) // 2
              ELSE a.c * b.c END AS w
  FROM g a JOIN g b ON a.grp = b.grp AND a.x <= b.x
),
agg AS (
  SELECT grp, s2, CAST(SUM(w) AS BIGINT) AS w
  FROM pairs GROUP BY grp, s2
),
cum AS (
  SELECT grp, s2, w,
         SUM(w) OVER (PARTITION BY grp ORDER BY s2) AS cw,
         SUM(w) OVER (PARTITION BY grp) AS tw
  FROM agg
)
SELECT grp,
       CAST(MIN(CASE WHEN 2 * cw >= tw + (tw % 2) THEN s2 END) AS BIGINT)
         AS hl_x2,
       CAST(MIN(tw) AS BIGINT) AS n_walsh
FROM cum GROUP BY grp ORDER BY grp
""",
)
def stat_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges–Lehmann location estimator per group — the median of all
    Walsh averages (xᵢ+xⱼ)/2, i ≤ j: the robust location statistic
    paired with the Wilcoxon test, ~95% as efficient as the mean on
    clean Gaussian data yet with a 29% breakdown point
    (`stat_mann_whitney` is the two-sample rank sibling; `anomaly_mad`
    the scale analogue). Reported as hl_x2 = 2·HL, keeping the value
    an exact integer (halving is the caller's display step).

    The naive form is O(n²) pairs; over a BOUNDED VALUE DOMAIN it
    collapses: aggregate the per-value histogram (the only data-sized
    pass), pair the |domain|² distinct values with COUNT-PRODUCT
    weights (diagonal c·(c+1)/2 for i=j Walsh pairs), and read the
    weighted median off one cumulative window — the stat_mann_whitney
    collapsed-histogram discipline. Everything is exact integers; the
    even/odd lower-median rule (2·cw ≥ tw + tw%2) is stated once and
    shared by both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").cast("long").alias("x"),
    ).agg(F.count(F.lit(1)).alias("c"))
    a = g.select("grp", F.col("x").alias("xa"), F.col("c").alias("ca"))
    b = g.select("grp", F.col("x").alias("xb"), F.col("c").alias("cb"))
    pairs = (
        a.join(b, ["grp"])
        .filter(F.col("xa") <= F.col("xb"))
        .select(
            "grp",
            (F.col("xa") + F.col("xb")).alias("s2"),
            F.when(
                F.col("xa") == F.col("xb"), F.expr("ca * (ca + 1) div 2")
            )
            .otherwise(F.col("ca") * F.col("cb"))
            .alias("w"),
        )
    )
    agg = pairs.groupBy("grp", "s2").agg(F.sum("w").alias("w"))
    wg = Window.partitionBy("grp")
    cum = agg.select(
        "grp",
        "s2",
        "w",
        F.sum("w").over(wg.orderBy("s2")).alias("cw"),
        F.sum("w").over(wg).alias("tw"),
    )
    return (
        cum.groupBy("grp")
        .agg(
            F.min(
                F.when(
                    2 * F.col("cw") >= F.col("tw") + F.col("tw") % 2,
                    F.col("s2"),
                )
            )
            .cast("long")
            .alias("hl_x2"),
            F.min("tw").alias("n_walsh"),
        )
        .orderBy("grp")
    )


#: PACF: maximum lag for the Durbin–Levinson recursion.
_PACF_MAXLAG = 5


def _pacf_sql(table: str, epoch_fn: str, intdiv: str, mat: str) -> str:
    """Shared PACF SQL (Durbin–Levinson unrolled) — templated on the
    epoch fn, int-div token, and the MATERIALIZED keyword (DuckDB
    needs per-step CTEs materialized or inlining explodes ~3^k; Spark
    ignores the hint via an empty string). Per-lag autocovariance
    terms grid to exact integers BEFORE summation (the
    lightcurve_lomb_scargle discipline: term magnitude ~1e12 at sf1,
    gridded at 1e-3 resolution to keep 60 × term < 2^63); the
    recursion itself is scalar double math over the 1-row aggregate
    with identical expression text — the Kalman bit-exactness lesson.
    """
    K = _PACF_MAXLAG
    leads = ",\n         ".join(
        f"LEAD(y, {k}) OVER (ORDER BY t) AS y{k}" for k in range(1, K + 1)
    )
    num_terms = ",\n         ".join(
        f"CAST(SUM(CASE WHEN y{k} IS NOT NULL THEN "
        f"{grid_sql(f'(y - ybar) * (y{k} - ybar) * 1e-3', 0)} "
        f"ELSE 0 END) AS DOUBLE) * 1e3 AS c{k}"
        for k in range(1, K + 1)
    )
    steps = [f"s1 AS {mat}(SELECT *, r1 AS p1_1, 1.0 - r1 * r1 AS v1 FROM r)"]
    phis = {1: {1: "p1_1"}}
    for k in range(2, K + 1):
        prev = phis[k - 1]
        dot = " + ".join(f"{prev[j]} * r{k - j}" for j in range(1, k))
        steps.append(
            f"t{k} AS {mat}(SELECT *, (r{k} - ({dot})) / v{k - 1} AS a{k}"
            f" FROM s{k - 1})"
        )
        newphi = {}
        upd = []
        for j in range(1, k):
            newphi[j] = f"p{k}_{j}"
            upd.append(f"{prev[j]} - a{k} * {prev[k - j]} AS p{k}_{j}")
        newphi[k] = f"a{k}"
        upd.append(f"v{k - 1} * (1.0 - a{k} * a{k}) AS v{k}")
        steps.append(f"s{k} AS {mat}(SELECT *, {', '.join(upd)} FROM t{k})")
        phis[k] = newphi
    pacf_cols = ["r1 AS pacf1"] + [f"a{k} AS pacf{k}" for k in range(2, K + 1)]
    steps_sql = ",\n".join(steps)
    r_cols = ", ".join(f"c{k} / c0 AS r{k}" for k in range(1, K + 1))
    unions = "\nUNION ALL\n".join(
        f"SELECT {k} AS lag,"
        f" {grid_sql(f'r{k}', 6)} AS acf_micro,"
        f" {grid_sql(f'pacf{k}', 6)} AS pacf_micro"
        f" FROM final"
        for k in range(1, K + 1)
    )
    return f"""
WITH daily AS {mat}(
  SELECT {epoch_fn}(date_trunc('day', ts)) {intdiv} 86400000000 AS day,
         SUM({grid_sql('value', 2)}) {intdiv} 100 AS y
  FROM {table} GROUP BY 1
),
base AS {mat}(
  SELECT day - MIN(day) OVER () AS t, CAST(y AS DOUBLE) AS y,
         CAST(SUM(y) OVER () AS DOUBLE) / COUNT(*) OVER () AS ybar
  FROM daily
),
led AS {mat}(
  SELECT t, y, ybar,
         {leads}
  FROM base
),
sums AS {mat}(
  SELECT CAST(SUM({grid_sql('(y - ybar) * (y - ybar) * 1e-3', 0)})
              AS DOUBLE) * 1e3 AS c0,
         {num_terms}
  FROM led
),
r AS {mat}(
  SELECT {r_cols}
  FROM sums
),
{steps_sql},
final AS {mat}(SELECT {", ".join(pacf_cols)}, * FROM s{K})
{unions}
ORDER BY lag
"""


@register(
    "ts_pacf_durbin",
    oracle=_pacf_sql("events", "epoch_us", "//", "MATERIALIZED "),
)
def ts_pacf_durbin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation function via the Durbin–Levinson
    recursion — the AR-order diagnostic that complements
    `ts_autocorrelation` (ACF says WHICH lags correlate; PACF says
    which correlate DIRECTLY after shorter lags are regressed out,
    and its cutoff picks p for an AR(p) model).

    Structure mirrors the survival/Kalman family: the daily rollup is
    the only data-sized pass; lag products come from LEAD windows over
    the collapsed per-day table (per-term integer gridding before the
    sums, no ordered-float accumulation); and the k-step recursion is
    UNROLLED scalar math over one aggregate row — per-step CTEs are
    MATERIALIZED in the DuckDB oracle so inlining can't explode, and
    Spark builds the same unrolled recursion through the DataFrame API
    (converted from the full-template spark.sql form per VERDICT r9
    task 4) with the per-step scalar fragments generated from the SAME
    python expressions the oracle template uses, so the doubles agree
    bit-for-bit (python-loop vs recursive-CTE lesson, SCALE.md
    round 7).
    """
    K = _PACF_MAXLAG
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr(
            "unix_micros(date_trunc('day', ts)) div 86400000000"
        ).alias("day")
    ).agg(
        F.expr(
            f"SUM({grid_sql('value', 2)}) div 100"
        ).alias("y")
    )
    wg = Window.partitionBy()
    base = daily.select(
        (F.col("day") - F.min("day").over(wg)).alias("t"),
        F.col("y").cast("double").alias("y"),
        (
            F.sum("y").over(wg).cast("double")
            / F.count(F.lit(1)).over(wg)
        ).alias("ybar"),
    )
    wt = Window.orderBy("t")
    led = base.select(
        "t", "y", "ybar",
        *[F.lead("y", k).over(wt).alias(f"y{k}") for k in range(1, K + 1)],
    )
    sums = led.agg(
        F.expr(
            f"CAST(SUM(CAST({grid_sql('(y - ybar) * (y - ybar) * 1e-3', 0)}"
            " AS BIGINT)) AS DOUBLE) * 1e3"
        ).alias("c0"),
        *[
            F.expr(
                f"CAST(SUM(CASE WHEN y{k} IS NOT NULL THEN "
                f"CAST({grid_sql(f'(y - ybar) * (y{k} - ybar) * 1e-3', 0)}"
                f" AS BIGINT) ELSE 0 END) AS DOUBLE) * 1e3"
            ).alias(f"c{k}")
            for k in range(1, K + 1)
        ],
    )
    df = sums.select(
        *[F.expr(f"c{k} / c0").alias(f"r{k}") for k in range(1, K + 1)]
    )
    # Durbin–Levinson unrolled — the same fragment strings the oracle
    # template generates, applied one step per projection.
    df = df.select(
        "*", F.expr("r1").alias("p1_1"),
        F.expr("1.0 - r1 * r1").alias("v1"),
    )
    phis = {1: {1: "p1_1"}}
    for k in range(2, K + 1):
        prev = phis[k - 1]
        dot = " + ".join(f"{prev[j]} * r{k - j}" for j in range(1, k))
        df = df.select(
            "*", F.expr(f"(r{k} - ({dot})) / v{k - 1}").alias(f"a{k}")
        )
        newphi = {}
        upd = []
        for j in range(1, k):
            newphi[j] = f"p{k}_{j}"
            upd.append(
                F.expr(f"{prev[j]} - a{k} * {prev[k - j]}")
                .alias(f"p{k}_{j}")
            )
        newphi[k] = f"a{k}"
        upd.append(
            F.expr(f"v{k - 1} * (1.0 - a{k} * a{k})").alias(f"v{k}")
        )
        df = df.select("*", *upd)
        phis[k] = newphi
    final = df.select(
        F.expr("r1").alias("pacf1"),
        *[F.expr(f"a{k}").alias(f"pacf{k}") for k in range(2, K + 1)],
        "*",
    )
    out = None
    for k in range(1, K + 1):
        part = final.select(
            F.expr(str(k)).alias("lag"),
            F.expr(f"{grid_sql(f'r{k}', 6)}")
            .alias("acf_micro"),
            F.expr(f"{grid_sql(f'pacf{k}', 6)}")
            .alias("pacf_micro"),
        )
        out = part if out is None else out.unionAll(part)
    return out.orderBy("lag")


@register(
    "stat_jarque_bera",
    oracle=f"""
WITH s AS (
  SELECT l_returnflag, COUNT(*) AS n,
         CAST(SUM({grid_sql('l_quantity', 4)})
              AS BIGINT) AS s1,
         CAST(SUM({grid_sql('l_quantity * l_quantity', 4)}) AS BIGINT) AS s2,
         CAST(SUM({grid_sql('l_quantity * l_quantity * l_quantity', 4)}) AS BIGINT)
           AS s3,
         CAST(SUM({grid_sql('''l_quantity * l_quantity * l_quantity
                             * l_quantity''', 4)})
              AS BIGINT) AS s4
  FROM lineitem GROUP BY l_returnflag
),
m AS (
  SELECT l_returnflag, n,
         CAST(s1 AS DOUBLE) / 10000.0 / n AS r1,
         CAST(s2 AS DOUBLE) / 10000.0 / n AS r2,
         CAST(s3 AS DOUBLE) / 10000.0 / n AS r3,
         CAST(s4 AS DOUBLE) / 10000.0 / n AS r4
  FROM s
),
c AS (
  SELECT l_returnflag, n,
         r2 - r1 * r1 AS m2,
         r3 - 3.0 * r1 * r2 + 2.0 * r1 * r1 * r1 AS m3,
         r4 - 4.0 * r1 * r3 + 6.0 * r1 * r1 * r2
            - 3.0 * r1 * r1 * r1 * r1 AS m4
  FROM m
),
j AS (
  SELECT l_returnflag, n,
         m3 / (m2 * sqrt(m2)) AS skew,
         m4 / (m2 * m2) - 3.0 AS exkurt
  FROM c
)
SELECT l_returnflag, n,
       {grid_sql('skew', 6)} AS skew_micro,
       {grid_sql('exkurt', 6)} AS exkurt_micro,
       {grid_sql('n / 6.0 * (skew * skew + exkurt * exkurt / 4.0)', 3)} AS jb_milli,
       n / 6.0 * (skew * skew + exkurt * exkurt / 4.0) > 5.991
         AS non_normal
FROM j
ORDER BY l_returnflag
""",
)
def stat_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per return-flag group — the
    moment-based omnibus check (JB = n/6*(S^2 + K^2/4), S = skewness,
    K = excess kurtosis) that `stat_anova_oneway` and friends implicitly
    assume away. Built on the `agg_higher_moments` algebra: four exact
    scaled-long power sums per group in ONE aggregation (mergeable
    monoid state — partial aggregation does the heavy lifting
    map-side), then skewness/kurtosis/JB assembled from the exact longs
    with one identical IEEE double expression tree in both engines and
    landed on fixed grids. 5.991 = chi-squared(2) at alpha=0.05.

    100-TB posture: a single hash aggregate on the group key; no
    shuffle beyond |groups| rows of 5-long state. quantity^4 at grid
    1e4 is ~6e10/row so 2^63 holds to ~1.5e8 rows/group; past that the
    power sums move to DECIMAL(38,0) lanes (same plan shape).
    """
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")

    def psum(p, name):
        expr = q
        for _ in range(p - 1):
            expr = expr * q
        return F.sum(grid(expr, 4)).alias(name)

    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        psum(1, "s1"), psum(2, "s2"), psum(3, "s3"), psum(4, "s4"),
    )
    r1 = F.col("s1").cast("double") / F.lit(10000.0) / F.col("n")
    r2 = F.col("s2").cast("double") / F.lit(10000.0) / F.col("n")
    r3 = F.col("s3").cast("double") / F.lit(10000.0) / F.col("n")
    r4 = F.col("s4").cast("double") / F.lit(10000.0) / F.col("n")
    m = s.select(
        "l_returnflag", "n",
        (r2 - r1 * r1).alias("m2"),
        (r3 - F.lit(3.0) * r1 * r2 + F.lit(2.0) * r1 * r1 * r1).alias("m3"),
        (
            r4 - F.lit(4.0) * r1 * r3 + F.lit(6.0) * r1 * r1 * r2
            - F.lit(3.0) * r1 * r1 * r1 * r1
        ).alias("m4"),
    )
    j = m.select(
        "l_returnflag", "n",
        (F.col("m3") / (F.col("m2") * F.sqrt("m2"))).alias("skew"),
        (F.col("m4") / (F.col("m2") * F.col("m2")) - F.lit(3.0)).alias("exkurt"),
    )
    jb = F.col("n") / F.lit(6.0) * (
        F.col("skew") * F.col("skew")
        + F.col("exkurt") * F.col("exkurt") / F.lit(4.0)
    )
    return j.select(
        "l_returnflag", "n",
        grid("skew", 6).alias("skew_micro"),
        grid("exkurt", 6).alias("exkurt_micro"),
        grid(jb, 3).alias("jb_milli"),
        (jb > F.lit(5.991)).alias("non_normal"),
    ).orderBy("l_returnflag")


def _rank_sums(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Tied midranks of ``l_quantity`` (on the cent grid) by
    ``l_returnflag``: the tie table ``t (q, t)`` and the per-group sums
    ``g (grp, nj, rj2)``, ``rj2`` the rank sum doubled so midranks stay
    integers. Spark twin of :data:`_RANK_SUMS_SQL`."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.groupBy(
        F.col("l_returnflag").alias("grp"),
        grid("l_quantity", 2).alias("q"),
    ).agg(F.count(F.lit(1)).alias("c"))
    t = v.groupBy("q").agg(F.sum("c").alias("t"))
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    r = t.select(
        "q", "t",
        (
            F.lit(2) * F.coalesce(F.sum("t").over(w), F.lit(0))
            + F.col("t") + F.lit(1)
        ).cast("long").alias("r2"),
    )
    g = (
        v.join(r.select("q", "r2"), "q")
        .groupBy("grp")
        .agg(
            F.sum("c").alias("nj"),
            F.sum(F.col("c") * F.col("r2")).alias("rj2"),
        )
    )
    return t, g


#: The ``v``, ``t``, ``r`` and ``g`` CTEs: the SQL twin of :func:`_rank_sums`.
_RANK_SUMS_SQL = f"""v AS (
  SELECT l_returnflag AS grp,
         {grid_sql('l_quantity', 2)} AS q,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
),
t AS (SELECT q, CAST(SUM(c) AS BIGINT) AS t FROM v GROUP BY q),
r AS (
  SELECT q, t,
         CAST(2 * COALESCE(SUM(t) OVER (ORDER BY q
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0)
              + t + 1 AS BIGINT) AS r2
  FROM t
),
g AS (
  SELECT grp, CAST(SUM(v.c) AS BIGINT) AS nj,
         CAST(SUM(v.c * r.r2) AS BIGINT) AS rj2
  FROM v JOIN r USING (q) GROUP BY grp
)"""


@register(
    "stat_kruskal_wallis",
    oracle=f"""
WITH {_RANK_SUMS_SQL},
gtot AS (
  SELECT CAST(SUM(nj) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k
  FROM g
),
terms AS (
  SELECT grp, nj, rj2, n, k,
         {grid_sql('''CAST(rj2 AS DOUBLE) * CAST(rj2 AS DOUBLE)
                    / nj / 4.0
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))''', 9)}
                  AS term_nano
  FROM g CROSS JOIN gtot
),
ties AS (
  SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS ttsum FROM t
),
tot AS (
  SELECT MAX(n) AS n, MAX(k) AS k,
         CAST(SUM(term_nano) AS BIGINT) AS sterm
  FROM terms
),
h AS (
  SELECT n, k,
         12.0 * (CAST(sterm AS DOUBLE) / 1000000000.0)
           - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h_raw,
         1.0 - CAST(ttsum AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                - CAST(n AS DOUBLE)) AS cfac
  FROM tot CROSS JOIN ties
)
SELECT grp, nj, rj2, term_nano, h.n AS n, h.k AS k,
       {grid_sql('h_raw', 6)} AS h_micro,
       {grid_sql('h_raw / cfac', 6)} AS h_adj_micro,
       h_raw / cfac > 5.991 AS reject
FROM terms CROSS JOIN h
ORDER BY grp
""",
)
def stat_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank test (one-way ANOVA on ranks) for quantity
    across return-flag groups, with the tie correction — the
    distribution-free sibling of `stat_anova_oneway` and the k-group
    generalization of `stat_mann_whitney`. Ranks are never assigned
    row-by-row: quantity collapses to a distinct-value frequency table
    first (~50 tied values), the 2x-scaled average rank per value is
    the exact integer ``2*count_below + t + 1``, and per-group rank
    sums are exact longs from one join + aggregate. Per-group
    Rj^2/(4*nj*N*(N+1)) terms are gridded to 1e-9 BEFORE the final sum (the KS
    pre-bin lesson, stats.py:385) so no float accumulation order leaks.

    100-TB posture: the only data-sized passes are two hash aggregates
    on (grp, value) and (value); the rank window runs over the
    COLLAPSED distinct-value table (bounded by value cardinality — for
    continuous measures pre-bin onto a fixed grid exactly like KS).
    5.991 = chi-squared(k-1=2) at alpha=0.05.
    """
    t, g = _rank_sums(spark, sf_dir)
    gtot = g.agg(F.sum("nj").alias("n"), F.count(F.lit(1)).alias("k"))
    nd = F.col("n").cast("double")
    terms = g.crossJoin(F.broadcast(gtot)).select(
        "grp", "nj", "rj2", "n", "k",
        grid(
            F.col("rj2").cast("double") * F.col("rj2").cast("double")
            / F.col("nj") / F.lit(4.0)
            / (nd * (nd + F.lit(1.0))),
            9,
        ).alias("term_nano"),
    )
    ties = t.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("ttsum")
    )
    tot = terms.agg(
        F.max("n").alias("n"),
        F.max("k").alias("k"),
        F.sum("term_nano").alias("sterm"),
    )
    h = tot.crossJoin(F.broadcast(ties)).select(
        "n", "k",
        (
            F.lit(12.0) * (F.col("sterm").cast("double") / F.lit(1e9))
            - F.lit(3.0) * (nd + F.lit(1.0))
        ).alias("h_raw"),
        (
            F.lit(1.0)
            - F.col("ttsum").cast("double") / (nd * nd * nd - nd)
        ).alias("cfac"),
    )
    return (
        terms.drop("n", "k").crossJoin(F.broadcast(h))
        .select(
            "grp", "nj", "rj2", "term_nano", "n", "k",
            grid("h_raw", 6).alias("h_micro"),
            grid(F.col("h_raw") / F.col("cfac"), 6).alias("h_adj_micro"),
            (F.col("h_raw") / F.col("cfac") > F.lit(5.991)).alias("reject"),
        )
        .orderBy("grp")
    )


@register(
    "stat_friedman_test",
    oracle=f"""
WITH cell AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(SUM({grid_sql('value', 6)})
              AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
kk AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k FROM events),
blocks AS (
  SELECT day FROM cell CROSS JOIN kk
  GROUP BY day, k HAVING COUNT(*) = MAX(k)
),
ranked AS (
  SELECT c.day, c.event_type,
         CAST(2 * RANK() OVER (PARTITION BY c.day ORDER BY c.y)
              + COUNT(*) OVER (PARTITION BY c.day, c.y) - 1
              AS BIGINT) AS r2
  FROM cell c JOIN blocks b ON c.day = b.day
),
g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nblocks,
         CAST(SUM(r2) AS BIGINT) AS rj2
  FROM ranked GROUP BY event_type
),
tot AS (
  SELECT MAX(nblocks) AS n, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(rj2 * rj2) AS BIGINT) AS srj2sq
  FROM g
),
chi AS (
  SELECT n, k,
         12.0 / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
                 * (CAST(k AS DOUBLE) + 1.0))
           * (CAST(srj2sq AS DOUBLE) / 4.0)
           - 3.0 * CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0) AS chi2
  FROM tot
)
SELECT event_type, nblocks, rj2, n, k,
       {grid_sql('chi2', 6)} AS chi2_micro,
       chi2 > 9.488 AS reject
FROM g CROSS JOIN chi
ORDER BY event_type
""",
)
def stat_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test — the within-block rank test for k related
    treatments (here: do the 5 event types keep a consistent
    value-ordering across days, blocking on the day so day-level level
    shifts cancel?). Blocks are the per-(day, type) mean-value cells of
    one data-sized rollup (exact integer division of micro-sums so the
    cell values hash identically), restricted to complete blocks;
    within-block average-tie ranks are exact 2x-scaled integers built
    from RANK() plus the same-value COUNT() window (k rows per block —
    the windows are bounded by the treatment count, never data-sized).
    chi2_F = 12/(n*k*(k+1)) * sum(Rj^2) - 3n(k+1); since Rj^2 = rj2^2/4
    is exact, the sum over k treatments is an exact long and only the
    final scalar assembly is IEEE. 9.488 = chi-squared(k-1=4) at 0.05.

    100-TB posture: one hash aggregate to cells (|days|x|types| rows),
    everything after runs on the collapsed table. Blocks can be any
    entity (user, site); cardinality-bounded windows per block.
    """
    ev = load_table(spark, sf_dir, "events")
    cell = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(
        F.expr(
            f"CAST(sum({grid_sql('value', 6)}) "
            "AS BIGINT) div CAST(count(1) AS BIGINT)"
        ).alias("y")
    )
    kk = ev.agg(F.countDistinct("event_type").cast("long").alias("k"))
    blocks = (
        cell.crossJoin(F.broadcast(kk))
        .groupBy("day", "k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") == F.col("k"))
        .select("day")
    )
    wrank = Window.partitionBy("day").orderBy("y")
    wtie = Window.partitionBy("day", "y")
    ranked = cell.join(blocks, "day").select(
        "day", "event_type",
        (
            F.lit(2) * F.rank().over(wrank)
            + F.count(F.lit(1)).over(wtie) - F.lit(1)
        ).cast("long").alias("r2"),
    )
    g = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nblocks"),
        F.sum("r2").alias("rj2"),
    )
    tot = g.agg(
        F.max("nblocks").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("rj2") * F.col("rj2")).alias("srj2sq"),
    )
    ndd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    chi = tot.select(
        "n", "k",
        (
            F.lit(12.0) / (ndd * kd * (kd + F.lit(1.0)))
            * (F.col("srj2sq").cast("double") / F.lit(4.0))
            - F.lit(3.0) * ndd * (kd + F.lit(1.0))
        ).alias("chi2"),
    )
    return (
        g.crossJoin(F.broadcast(chi))
        .select(
            "event_type", "nblocks", "rj2", "n", "k",
            grid("chi2", 6).alias("chi2_micro"),
            (F.col("chi2") > F.lit(9.488)).alias("reject"),
        )
        .orderBy("event_type")
    )


@register(
    "ts_permutation_entropy",
    oracle=f"""
WITH h AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS t,
         CAST(SUM({grid_sql('value', 6)})
              AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
tri AS (
  SELECT event_type, y,
         LEAD(y, 1) OVER (PARTITION BY event_type ORDER BY t) AS y1,
         LEAD(y, 2) OVER (PARTITION BY event_type ORDER BY t) AS y2
  FROM h
),
pat AS (
  SELECT event_type,
         CAST(CASE WHEN y < y1 THEN 1 ELSE 0 END
              + CASE WHEN y < y2 THEN 2 ELSE 0 END
              + CASE WHEN y1 < y2 THEN 4 ELSE 0 END AS INT) AS pattern
  FROM tri WHERE y1 IS NOT NULL AND y2 IS NOT NULL
),
c AS (
  SELECT event_type, pattern, CAST(COUNT(*) AS BIGINT) AS c
  FROM pat GROUP BY 1, 2
),
tot AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1),
terms AS (
  SELECT c.event_type, c.pattern, c.c, t.n,
         {grid_sql('''-(CAST(c.c AS DOUBLE) / t.n)
                    * ln(CAST(c.c AS DOUBLE) / t.n)''', 9)} AS term_nano
  FROM c JOIN tot t USING (event_type)
)
SELECT event_type, MAX(n) AS n,
       CAST(COUNT(*) AS BIGINT) AS patterns_seen,
       CAST(SUM(term_nano) AS BIGINT) AS h_nano,
       {grid_sql('''CAST(SUM(term_nano) AS DOUBLE) / 1000000000.0
                  / ln(6.0)''', 6)} AS h_norm_micro
FROM terms GROUP BY event_type
ORDER BY event_type
""",
)
def ts_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy (order 3) per event type — the
    ordinal-pattern complexity measure (Bandt-Pompe): embed the hourly
    mean-value series in triples, encode each triple's ordinal pattern
    as 3 comparison bits (ties fold deterministically into the >=
    branch, so both engines agree bit-for-bit), and take the Shannon
    entropy of the pattern histogram normalized by ln(3!) — near 1 for
    noise-like series, low for monotone/periodic structure. Companion
    to `ts_autocorrelation` (linear memory) and `ts_sax_symbolize`
    (amplitude symbols): this one is amplitude-free.

    Per-pattern -p*ln(p) terms are gridded to 1e-9 before the exact
    sum (<= 8 terms/group). 100-TB posture: one data-sized rollup to
    (type, hour); LEAD windows partition by type over the collapsed
    series; the histogram is <= 8 rows/type.
    """
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        F.expr("CAST(unix_micros(ts) div 3600000000 AS BIGINT)").alias("t"),
    ).agg(
        F.expr(
            f"CAST(sum({grid_sql('value', 6)}) "
            "AS BIGINT) div CAST(count(1) AS BIGINT)"
        ).alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("t")
    tri = h.select(
        "event_type", "y",
        F.lead("y", 1).over(w).alias("y1"),
        F.lead("y", 2).over(w).alias("y2"),
    )
    pat = tri.where(
        F.col("y1").isNotNull() & F.col("y2").isNotNull()
    ).select(
        "event_type",
        (
            F.when(F.col("y") < F.col("y1"), 1).otherwise(0)
            + F.when(F.col("y") < F.col("y2"), 2).otherwise(0)
            + F.when(F.col("y1") < F.col("y2"), 4).otherwise(0)
        ).cast("int").alias("pattern"),
    )
    c = pat.groupBy("event_type", "pattern").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = c.groupBy("event_type").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    terms = c.join(tot, "event_type").select(
        "event_type", "pattern", "c", "n",
        grid(-p * F.log(p), 9).alias("term_nano"),
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.count(F.lit(1)).cast("long").alias("patterns_seen"),
            F.sum("term_nano").alias("h_nano"),
            grid(
                F.sum("term_nano").cast("double") / F.lit(1e9) / F.log(F.lit(6.0)), 6
            ).alias("h_norm_micro"),
        )
        .orderBy("event_type")
    )


def _hourly_mean(ev: DataFrame, s: int) -> DataFrame:
    """The hourly event-mean series ``(t, y)``: ``t`` the epoch hour, ``y``
    the hour's sum of ``value`` on the ``10^-s`` grid integer-divided by
    its count. Spark twin of :func:`_hourly_mean_sql`."""
    return ev.groupBy(
        F.floor(F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long").alias("t")
    ).agg(
        F.expr(
            f"CAST(sum({grid_sql('value', s)}) "
            "AS BIGINT) div CAST(count(1) AS BIGINT)"
        ).alias("y")
    )


def _hourly_mean_sql(table: str, epoch_us: str, idiv: str, s: int) -> str:
    """Body of the ``h`` CTE: the SQL twin of :func:`_hourly_mean`, with the
    engine's epoch-micros function and integer-division operator."""
    return f"""
  SELECT CAST({epoch_us}(ts) {idiv} 3600000000 AS BIGINT) AS t,
         CAST(SUM({grid_sql('value', s)})
              AS BIGINT) {idiv} CAST(COUNT(*) AS BIGINT) AS y
  FROM {table} GROUP BY 1"""


def _dw_sql(table: str, epoch_us: str, idiv: str) -> str:
    """Shared Spark/DuckDB SQL for `stat_durbin_watson` — identical text
    modulo the epoch-micros function name and integer-div operator, so
    every IEEE double is produced by the same expression tree in both
    engines (the ts_pacf_durbin / ts_segmented_trend pattern)."""
    return f"""
WITH h AS ({_hourly_mean_sql(table, epoch_us, idiv, 6)}
),
rel AS (
  SELECT CAST(t - MIN(t) OVER () AS BIGINT) AS t, y FROM h
),
ols AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS st,
         CAST(SUM(t * t) AS BIGINT) AS stt,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(t * y) AS BIGINT) AS sty
  FROM rel
),
fit AS (
  SELECT n,
         (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
          - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
            - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS b,
         (CAST(sy AS DOUBLE)
          - (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
             - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
               - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
            * CAST(st AS DOUBLE))
         / CAST(n AS DOUBLE) AS a
  FROM ols
),
e AS (
  SELECT t,
         {grid_sql('''(CAST(y AS DOUBLE) - (a + b * CAST(t AS DOUBLE)))
                    / 1000.0''', 0)} AS e3
  FROM rel CROSS JOIN fit
),
d AS (
  SELECT e3,
         LAG(e3) OVER (ORDER BY t) AS ep
  FROM e
),
s AS (
  SELECT CAST(SUM(e3 * e3) AS BIGINT) AS see,
         CAST(SUM(CASE WHEN ep IS NULL THEN 0
                       ELSE (e3 - ep) * (e3 - ep) END) AS BIGINT) AS sdd
  FROM d
)
SELECT fit.n AS n,
       {grid_sql('b', 3)} AS slope_milli_micro,
       {grid_sql('CAST(sdd AS DOUBLE) / CAST(see AS DOUBLE)', 6)} AS dw_micro,
       {grid_sql('1.0 - CAST(sdd AS DOUBLE) / CAST(see AS DOUBLE) / 2.0', 6)}
         AS rho_micro,
       CAST(sdd AS DOUBLE) / CAST(see AS DOUBLE) < 1.5 AS positive_autocorr
FROM s CROSS JOIN fit
"""


@register(
    "stat_durbin_watson",
    oracle=_dw_sql("events", "epoch_us", "//"),
)
def stat_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic on the residuals of an hourly
    trend regression — the lag-1 autocorrelation diagnostic that says
    whether `ml_linreg_normal`-style OLS standard errors can be
    trusted on a time series (DW ~ 2 means independent residuals,
    DW << 2 positive serial correlation; rho ~ 1 - DW/2). One
    data-sized rollup to the (hour, exact-integer mean) series; OLS
    slope/intercept from five exact long sums over the collapsed table
    (hour index re-based to 0 so t*y stays far from 2^63); per-hour
    residuals gridded to milli-value units BEFORE the squared sums, so
    both the numerator sum of squared successive differences and the
    denominator are exact longs. Spark builds the same kernel through
    the DataFrame API, double ops mirrored operand-for-operand against
    the oracle SQL (converted from the shared-SQL-text form per
    VERDICT r8 — stronger differential when the engines don't share a
    parser).

    100-TB posture: the rollup is the only full-data pass (hash
    aggregate, mergeable); the LAG window runs over the collapsed
    hourly table (bounded by the time range, not the row count — cap
    with a coarser bucket exactly like ts_pacf_durbin).
    """
    ev = load_table(spark, sf_dir, "events")
    h = _hourly_mean(ev, 6).withColumnRenamed("t", "t0")
    rel = h.select(
        (F.col("t0") - F.min("t0").over(Window.partitionBy()))
        .cast("long").alias("t"),
        "y",
    )
    ols = rel.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sty"),
    )
    nd = F.col("n").cast("double")
    bnum = nd * F.col("sty").cast("double") - F.col("st").cast(
        "double"
    ) * F.col("sy").cast("double")
    bden = nd * F.col("stt").cast("double") - F.col("st").cast(
        "double"
    ) * F.col("st").cast("double")
    fit = ols.select(
        "n",
        (bnum / bden).alias("b"),
        (
            (
                F.col("sy").cast("double")
                - bnum / bden * F.col("st").cast("double")
            ) / nd
        ).alias("a"),
    )
    e = rel.crossJoin(F.broadcast(fit)).select(
        "t",
        grid(
            (
                F.col("y").cast("double")
                - (F.col("a") + F.col("b") * F.col("t").cast("double"))
            ) / F.lit(1000.0),
            0,
        ).alias("e3"),
    )
    d = e.select("e3", F.lag("e3").over(Window.orderBy("t")).alias("ep"))
    s = d.agg(
        F.sum(F.col("e3") * F.col("e3")).cast("long").alias("see"),
        F.sum(
            F.when(F.col("ep").isNull(), 0).otherwise(
                (F.col("e3") - F.col("ep")) * (F.col("e3") - F.col("ep"))
            )
        ).cast("long").alias("sdd"),
    )
    dw = F.col("sdd").cast("double") / F.col("see").cast("double")
    return s.crossJoin(F.broadcast(fit)).select(
        "n",
        grid("b", 3).alias("slope_milli_micro"),
        grid(dw, 6).alias("dw_micro"),
        grid(F.lit(1.0) - dw / F.lit(2.0), 6).alias("rho_micro"),
        (dw < F.lit(1.5)).alias("positive_autocorr"),
    )


@register(
    "ml_brier_decomposition",
    oracle=f"""
WITH {_score_bins_sql("p")},
cum AS (
  SELECT bin, n, p,
         CAST(COALESCE(SUM(n) OVER (ORDER BY bin
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS BIGINT)
           AS cn_before,
         CAST(SUM(n) OVER () AS BIGINT) AS tn
  FROM bins
),
dec AS (
  SELECT (cn_before * 10) // tn AS decile,
         CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(p) AS BIGINT) AS p
  FROM cum GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(p) AS BIGINT) AS tp
  FROM dec
),
terms AS (
  SELECT decile, n, p, tn, tp,
         (CAST(decile AS DOUBLE) + 0.5) / 10.0 AS fprob,
         CAST(p AS DOUBLE) / n AS obar_b,
         CAST(tp AS DOUBLE) / tn AS obar
  FROM dec CROSS JOIN tot
),
g AS (
  SELECT decile, n, p,
         {grid_sql('''(fprob * fprob * n - 2.0 * fprob * p + p)
                    / tn''', 9)} AS brier_nano,
         {grid_sql('''n * (fprob - obar_b) * (fprob - obar_b)
                    / tn''', 9)} AS rel_nano,
         {grid_sql('''n * (obar_b - obar) * (obar_b - obar)
                    / tn''', 9)} AS res_nano,
         obar
  FROM terms
)
SELECT decile, n, p,
       CAST(SUM(brier_nano) OVER () AS BIGINT) AS brier_nano,
       CAST(SUM(rel_nano) OVER () AS BIGINT) AS rel_nano,
       CAST(SUM(res_nano) OVER () AS BIGINT) AS res_nano,
       {grid_sql('obar * (1.0 - obar)', 9)}
         AS unc_nano
FROM g
ORDER BY decile
""",
)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy decomposition — the probabilistic
    sibling of `ml_calibration_bins`: treat the order-value decile as a
    10-level probability forecast (decile d forecasts p=(d+0.5)/10) for
    the high-priority outcome and split the mean squared error into
    reliability (calibration gap, lower better), resolution
    (discrimination, higher better) and outcome uncertainty:
    Brier = REL - RES + UNC, an identity this operator preserves on the
    1e-9 grid because the forecast is constant within each bin
    (tests/test_round8_ops.py pins it).

    Plan: the `ml_lift_curve` decile machinery (hash agg to value bins,
    cumulative window over the COLLAPSED bin table, decile re-group),
    then per-decile double terms gridded to nano before 10-row sums.
    100-TB posture: the only data-sized pass is the first hash
    aggregate; everything downstream is bin-cardinality-bounded.
    """
    bins = _score_bins(spark, sf_dir, "p")
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = bins.select(
        "bin", "n", "p",
        F.coalesce(F.sum("n").over(wb), F.lit(0)).alias("cn_before"),
        F.sum("n").over(wall).alias("tn"),
    )
    dec = cum.groupBy(
        F.expr("(cn_before * 10) div tn").alias("decile")
    ).agg(F.sum("n").alias("n"), F.sum("p").alias("p"))
    tot = dec.agg(F.sum("n").alias("tn"), F.sum("p").alias("tp"))
    fprob = (F.col("decile").cast("double") + F.lit(0.5)) / F.lit(10.0)
    obar_b = F.col("p").cast("double") / F.col("n")
    obar = F.col("tp").cast("double") / F.col("tn")
    terms = dec.crossJoin(F.broadcast(tot)).select(
        "decile", "n", "p", "tn", "tp",
        fprob.alias("fprob"), obar_b.alias("obar_b"), obar.alias("obar"),
    )
    g = terms.select(
        "decile", "n", "p", "obar",
        grid(
            (
                F.col("fprob") * F.col("fprob") * F.col("n")
                - F.lit(2.0) * F.col("fprob") * F.col("p")
                + F.col("p")
            ) / F.col("tn"),
            9,
        ).alias("brier_t"),
        grid(
            F.col("n") * (F.col("fprob") - F.col("obar_b"))
            * (F.col("fprob") - F.col("obar_b"))
            / F.col("tn"),
            9,
        ).alias("rel_t"),
        grid(
            F.col("n") * (F.col("obar_b") - F.col("obar"))
            * (F.col("obar_b") - F.col("obar"))
            / F.col("tn"),
            9,
        ).alias("res_t"),
    )
    return g.select(
        "decile", "n", "p",
        F.sum("brier_t").over(wall).alias("brier_nano"),
        F.sum("rel_t").over(wall).alias("rel_nano"),
        F.sum("res_t").over(wall).alias("res_nano"),
        grid(F.col("obar") * (F.lit(1.0) - F.col("obar")), 9).alias("unc_nano"),
    ).orderBy("decile")


def _hurst_sql(table: str, epoch_us: str, idiv: str, unnest8: str) -> str:
    """Shared Spark/DuckDB SQL for `ts_hurst_rs` (identical text modulo
    the epoch function, integer-div operator and array-explode idiom)."""
    return f"""
WITH h AS ({_hourly_mean_sql(table, epoch_us, idiv, 3)}
),
rel AS (
  SELECT CAST(t - MIN(t) OVER () AS BIGINT) AS t, y FROM h
),
sizes AS (SELECT CAST(u AS BIGINT) AS s FROM ({unnest8})),
ch AS (
  SELECT s, t {idiv} s AS chunk, t % s + 1 AS i, y
  FROM rel CROSS JOIN sizes
),
cs AS (
  SELECT s, chunk, i, y,
         CAST(SUM(y) OVER (PARTITION BY s, chunk ORDER BY i
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(SUM(y) OVER (PARTITION BY s, chunk) AS BIGINT) AS tot,
         CAST(SUM(y * y) OVER (PARTITION BY s, chunk) AS BIGINT) AS tot2,
         CAST(COUNT(*) OVER (PARTITION BY s, chunk) AS BIGINT) AS cnt
  FROM ch
),
w AS (
  SELECT s, chunk, s * cum - i * tot AS wp, tot, tot2, cnt FROM cs
),
rs AS (
  SELECT s, chunk,
         {grid_sql('''CAST(MAX(wp) - MIN(wp) AS DOUBLE)
                    / sqrt(CAST(MAX(s) * MAX(tot2)
                                - MAX(tot) * MAX(tot) AS DOUBLE))''', 6)} AS rs_micro
  FROM w
  WHERE cnt = s AND s * tot2 - tot * tot > 0
  GROUP BY s, chunk
),
m AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         CAST(SUM(rs_micro) AS BIGINT) AS srs
  FROM rs GROUP BY s
),
z AS (
  SELECT s, n_chunks,
         {grid_sql('CAST(srs AS DOUBLE) / n_chunks', 0)}
           AS mean_rs_micro,
         ln(CAST(s AS DOUBLE)) / ln(2.0) AS x,
         ln(CAST(srs AS DOUBLE) / n_chunks / 1000000.0) / ln(2.0) AS zz
  FROM m
),
g9 AS (
  SELECT s, n_chunks, mean_rs_micro,
         {grid_sql('x', 9)} AS x9,
         {grid_sql('zz', 9)} AS z9,
         {grid_sql('x * zz', 9)} AS xz9,
         {grid_sql('x * x', 9)} AS xx9
  FROM z
),
f0 AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS np,
         CAST(SUM(x9) AS DOUBLE) / 1000000000.0 AS sx,
         CAST(SUM(z9) AS DOUBLE) / 1000000000.0 AS sz,
         CAST(SUM(xz9) AS DOUBLE) / 1000000000.0 AS sxz,
         CAST(SUM(xx9) AS DOUBLE) / 1000000000.0 AS sxx
  FROM g9
),
fit AS (
  SELECT (np * sxz - sx * sz) / (np * sxx - sx * sx) AS hurst
  FROM f0 WHERE np >= 2.0
)
SELECT s, n_chunks, mean_rs_micro,
       {grid_sql('hurst', 6)} AS hurst_micro,
       hurst > 0.65 AS persistent
FROM g9 LEFT JOIN fit ON TRUE
ORDER BY s
"""


@register(
    "ts_hurst_rs",
    oracle=_hurst_sql(
        "events", "epoch_us", "//", "SELECT unnest([8, 16, 32, 64]) AS u"
    ),
)
def ts_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by classical rescaled-range (R/S) analysis — the
    long-memory diagnostic (H ~ 0.5 random walk, H > 0.5 persistent
    trends, H < 0.5 mean-reverting) complementing `ts_autocorrelation`
    (short-lag linear memory) and `ts_hampel_filter` (local outliers).
    The hourly milli-gridded series is chunked at 4 dyadic window sizes;
    per chunk, the cumulative-deviation range R and std S come from the
    EXACT integer identities s*R = max(s*cum - i*tot) - min(...) and
    s*S = sqrt(s*tot2 - tot^2), so R/S needs one double divide+sqrt per
    chunk (gridded to 1e-6 before per-size means); the log2-log2 slope
    is a generic OLS over whichever sizes produced at least one full
    chunk (sparse series can starve the large windows; per-point terms
    grid to 1e-9 before the exact sums, the text_heaps_law shape — the
    fit row is absent below 2 sizes, surfacing NULL). Spark builds the
    kernel through the DataFrame API (converted from the shared-SQL
    form per VERDICT r9 task 4) with the double expressions mirrored
    operand-for-operand against the unchanged `_hurst_sql` oracle.

    100-TB posture: one data-sized rollup; the chunk windows partition
    by (size, chunk) — thousands of independent small windows, no
    global sort; milli gridding keeps s*tot2 < 2^63 through ~1e5-hour
    ranges (re-grid coarser for decade-long series).
    """
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        F.expr("CAST(unix_micros(ts) div 3600000000 AS BIGINT)")
        .alias("t")
    ).agg(
        F.expr(
            f"CAST(SUM({grid_sql('value', 3)})"
            " AS BIGINT) div CAST(COUNT(*) AS BIGINT)"
        ).alias("y")
    )
    rel = h.select(
        (F.col("t") - F.min("t").over(Window.partitionBy()))
        .cast("long").alias("t"),
        "y",
    )
    sizes = (
        rel.sparkSession.range(1)
        .select(F.explode(F.array(
            F.lit(8), F.lit(16), F.lit(32), F.lit(64)
        )).alias("u"))
        .select(F.col("u").cast("long").alias("s"))
    )
    ch = rel.crossJoin(F.broadcast(sizes)).select(
        "s",
        F.expr("t div s").alias("chunk"),
        (F.col("t") % F.col("s") + F.lit(1)).alias("i"),
        "y",
    )
    wpc = Window.partitionBy("s", "chunk")
    cs = ch.select(
        "s", "chunk", "i", "y",
        F.sum("y").over(
            wpc.orderBy("i").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ).cast("long").alias("cum"),
        F.sum("y").over(wpc).cast("long").alias("tot"),
        F.sum(F.col("y") * F.col("y")).over(wpc).cast("long")
        .alias("tot2"),
        F.count(F.lit(1)).over(wpc).cast("long").alias("cnt"),
    )
    w = cs.select(
        "s", "chunk",
        (F.col("s") * F.col("cum") - F.col("i") * F.col("tot"))
        .alias("wp"),
        "tot", "tot2", "cnt",
    )
    rs = (
        w.filter(
            (F.col("cnt") == F.col("s"))
            & (
                F.col("s") * F.col("tot2")
                - F.col("tot") * F.col("tot") > 0
            )
        )
        .groupBy("s", "chunk")
        .agg(
            grid(
                (F.max("wp") - F.min("wp")).cast("double")
                / F.sqrt(
                    (
                        F.max("s") * F.max("tot2")
                        - F.max("tot") * F.max("tot")
                    ).cast("double")
                ),
                6,
            ).alias("rs_micro")
        )
    )
    m = rs.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("rs_micro").cast("long").alias("srs"),
    )
    ln2 = F.log(F.lit(2.0))
    z = m.select(
        "s", "n_chunks",
        grid(F.col("srs").cast("double") / F.col("n_chunks"), 0).alias("mean_rs_micro"),
        (F.log(F.col("s").cast("double")) / ln2).alias("x"),
        (
            F.log(
                F.col("srs").cast("double") / F.col("n_chunks")
                / F.lit(1e6)
            ) / ln2
        ).alias("zz"),
    )
    g9 = z.select(
        "s", "n_chunks", "mean_rs_micro",
        grid("x", 9).alias("x9"),
        grid("zz", 9).alias("z9"),
        grid(F.col("x") * F.col("zz"), 9).alias("xz9"),
        grid(F.col("x") * F.col("x"), 9).alias("xx9"),
    )
    f0 = g9.agg(
        F.count(F.lit(1)).cast("double").alias("np"),
        (F.sum("x9").cast("double") / F.lit(1e9)).alias("sx"),
        (F.sum("z9").cast("double") / F.lit(1e9)).alias("sz"),
        (F.sum("xz9").cast("double") / F.lit(1e9)).alias("sxz"),
        (F.sum("xx9").cast("double") / F.lit(1e9)).alias("sxx"),
    )
    fit = f0.filter(F.col("np") >= 2.0).select(
        (
            (F.col("np") * F.col("sxz") - F.col("sx") * F.col("sz"))
            / (F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("hurst")
    )
    return (
        g9.join(F.broadcast(fit), F.lit(True), "left")
        .select(
            "s", "n_chunks", "mean_rs_micro",
            grid("hurst", 6).alias("hurst_micro"),
            (F.col("hurst") > F.lit(0.65)).alias("persistent"),
        )
        .orderBy("s")
    )


def _fisher_cells_sql(table: str) -> str:
    """The 2x2 contingency cells (lang='en' x source='src0')."""
    return f"""
SELECT CAST(SUM(CASE WHEN lang = 'en' AND source = 'src0'
                     THEN 1 ELSE 0 END) AS BIGINT) AS a,
       CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS r1,
       CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
            AS BIGINT) AS c1,
       CAST(COUNT(*) AS BIGINT) AS n
FROM {table}
"""


def _fisher_lf_sql(cells: str, series: str) -> str:
    """The gridded log-factorial prefix table lf9 over 0..N — exact
    integers (per-term 1e-9 grid BEFORE the cumulative sum), so
    materialization boundaries cannot change a single value."""
    return f"""
WITH ints AS (
  SELECT CAST(i AS BIGINT) AS i FROM ({series.format(src=cells)})
)
SELECT i,
       CAST(SUM(CASE WHEN i = 0 THEN 0
                     ELSE {grid_sql('ln(CAST(i AS DOUBLE))', 9)}
                END) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS lf9
FROM ints
"""


def _fisher_main_sql(cells: str, lf: str) -> str:
    """The hypergeometric tail off materialized `cells` / `lf` tables
    (identical text both engines — every double comes from the same
    expression tree)."""
    return f"""
WITH base AS (
  SELECT c.a, c.r1, c.c1, c.n,
         fr1.lf9 + fr2.lf9 + fc1.lf9 + fc2.lf9 - fn.lf9 AS lfc9
  FROM {cells} c
  JOIN {lf} fr1 ON fr1.i = c.r1
  JOIN {lf} fr2 ON fr2.i = c.n - c.r1
  JOIN {lf} fc1 ON fc1.i = c.c1
  JOIN {lf} fc2 ON fc2.i = c.n - c.c1
  JOIN {lf} fn  ON fn.i = c.n
),
ks AS (
  SELECT b.a, b.r1, b.c1, b.n, k.i AS k,
         b.lfc9 - gk.lf9 - g1.lf9 - g2.lf9 - g3.lf9 AS lp9
  FROM base b
  JOIN {lf} k  ON k.i  <= b.r1 AND k.i <= b.c1
            AND b.n - b.r1 - b.c1 + k.i >= 0
  JOIN {lf} gk ON gk.i = k.i
  JOIN {lf} g1 ON g1.i = b.r1 - k.i
  JOIN {lf} g2 ON g2.i = b.c1 - k.i
  JOIN {lf} g3 ON g3.i = b.n - b.r1 - b.c1 + k.i
),
obs AS (SELECT lp9 AS lp9_obs FROM ks WHERE k = a),
summed AS (
  SELECT MAX(a) AS a, MAX(r1) AS r1, MAX(c1) AS c1, MAX(n) AS n,
         CAST(SUM(CASE WHEN lp9 <= (SELECT lp9_obs FROM obs)
                       THEN {grid_sql('''exp(CAST(lp9 AS DOUBLE)
                                           / 1000000000.0)''', 12)}
                       ELSE 0 END) AS BIGINT) AS p_two_pico,
         CAST(COUNT(*) AS BIGINT) AS k_terms
  FROM ks
)
SELECT a, r1, c1, n, k_terms, p_two_pico,
       p_two_pico < 50000000000 AS reject
FROM summed
"""


_FISHER_DUCK_ORACLE = (
    "WITH cells AS MATERIALIZED ("
    + _fisher_cells_sql("documents")
    + "), lf AS MATERIALIZED ("
    + _fisher_lf_sql(
        "cells",
        "SELECT unnest(generate_series(0, (SELECT n FROM {src}))) AS i",
    )
    + "), "
    + _fisher_main_sql("cells", "lf").lstrip()[len("WITH ") :]
)


@register("stat_fisher_exact", oracle=_FISHER_DUCK_ORACLE)
def stat_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's exact test on the 2x2 (lang='en') x (source='src0')
    contingency table — the small-cell-safe independence test
    `stat_chi2_independence` approximates. The entire hypergeometric
    machinery is made hash-deterministic by ONE trick: per-integer
    ln(i) terms grid to 1e-9 BEFORE the cumulative sum, so the
    log-factorial table lf9 is EXACT integers, every table-probability
    log is exact integer arithmetic off 9 lf9 lookups, and the
    two-sided tail (sum of all k-tables no more probable than the
    observed one) selects terms by INTEGER comparison — the only IEEE
    step is one exp() per k, gridded to 1e-12 before the exact sum.

    100-TB posture: the contingency cells are one data-sized aggregate;
    the lf9 table is |N| COLLAPSED rows (swap in the gridded Stirling
    expansion once ln-gamma beats materializing the series); the k-scan
    is bounded by min(r1, c1). Spark builds the whole kernel through
    the DataFrame API (converted from the three-temp-view spark.sql
    form per VERDICT r9 task 4); the oracle keeps the SQL template.
    """
    d = load_table(spark, sf_dir, "documents")
    cells = d.agg(
        F.sum(
            F.when(
                (F.col("lang") == "en") & (F.col("source") == "src0"), 1
            ).otherwise(0)
        ).cast("long").alias("a"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long").alias("r1"),
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0))
        .cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).localCheckpoint(eager=True)
    # materialize lf ONCE: Spark inlines plan subtrees, so leaving lf
    # lazy replays the cumulative window at every one of its 9 join
    # references (measured: 27 Window nodes in the un-materialized
    # plan). explode(sequence(0, n)) replaces the scalar subquery.
    ints = cells.select(
        F.explode(F.sequence(F.lit(0), F.col("n").cast("int")))
        .alias("i0")
    ).select(F.col("i0").cast("long").alias("i"))
    lf = ints.select(
        "i",
        F.expr(
            "CAST(SUM(CASE WHEN i = 0 THEN 0"
            f" ELSE {grid_sql('ln(CAST(i AS DOUBLE))', 9)}"
            " END) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING)"
            " AS BIGINT)"
        ).alias("lf9"),
    ).localCheckpoint(eager=True)

    def lfj(tag: str) -> DataFrame:
        return lf.select(
            F.col("i").alias(f"{tag}_i"), F.col("lf9").alias(f"{tag}_lf9")
        )

    base = (
        cells
        .join(lfj("fr1"), F.col("fr1_i") == F.col("r1"))
        .join(lfj("fr2"), F.col("fr2_i") == F.col("n") - F.col("r1"))
        .join(lfj("fc1"), F.col("fc1_i") == F.col("c1"))
        .join(lfj("fc2"), F.col("fc2_i") == F.col("n") - F.col("c1"))
        .join(lfj("fn"), F.col("fn_i") == F.col("n"))
        .select(
            "a", "r1", "c1", "n",
            (
                F.col("fr1_lf9") + F.col("fr2_lf9") + F.col("fc1_lf9")
                + F.col("fc2_lf9") - F.col("fn_lf9")
            ).alias("lfc9"),
        )
    )
    ks = (
        base
        .join(
            lfj("k"),
            (F.col("k_i") <= F.col("r1"))
            & (F.col("k_i") <= F.col("c1"))
            & (F.col("n") - F.col("r1") - F.col("c1") + F.col("k_i") >= 0),
        )
        .join(lfj("gk"), F.col("gk_i") == F.col("k_i"))
        .join(lfj("g1"), F.col("g1_i") == F.col("r1") - F.col("k_i"))
        .join(lfj("g2"), F.col("g2_i") == F.col("c1") - F.col("k_i"))
        .join(
            lfj("g3"),
            F.col("g3_i")
            == F.col("n") - F.col("r1") - F.col("c1") + F.col("k_i"),
        )
        .select(
            "a", "r1", "c1", "n", F.col("k_i").alias("k"),
            (
                F.col("lfc9") - F.col("gk_lf9") - F.col("g1_lf9")
                - F.col("g2_lf9") - F.col("g3_lf9")
            ).alias("lp9"),
        )
    )
    obs = ks.filter(F.col("k") == F.col("a")).select(
        F.col("lp9").alias("lp9_obs")
    )
    summed = ks.crossJoin(F.broadcast(obs)).agg(
        F.max("a").alias("a"), F.max("r1").alias("r1"),
        F.max("c1").alias("c1"), F.max("n").alias("n"),
        F.sum(
            F.when(
                F.col("lp9") <= F.col("lp9_obs"),
                grid(F.exp(F.col("lp9").cast("double") / F.lit(1e9)), 12),
            ).otherwise(F.lit(0))
        ).cast("long").alias("p_two_pico"),
        F.count(F.lit(1)).cast("long").alias("k_terms"),
    )
    return summed.select(
        "a", "r1", "c1", "n", "k_terms", "p_two_pico",
        (F.col("p_two_pico") < F.lit(50_000_000_000)).alias("reject"),
    )


def _runs_sql(table: str, epoch_us: str, idiv: str, median2: str) -> str:
    """Shared Spark/DuckDB SQL for `stat_runs_test` (identical text
    modulo epoch fn, integer-div operator and the exact-median idiom)."""
    return f"""
WITH h AS ({_hourly_mean_sql(table, epoch_us, idiv, 6)}
),
med AS (SELECT CAST({median2} AS BIGINT) AS m2 FROM h),
signed AS (
  SELECT t, CASE WHEN 2 * y > m2 THEN 1 ELSE 0 END AS s
  FROM h CROSS JOIN med
  WHERE 2 * y <> m2
),
runs AS (
  SELECT s,
         CASE WHEN LAG(s) OVER (ORDER BY t) IS NULL THEN 1
              WHEN LAG(s) OVER (ORDER BY t) <> s THEN 1
              ELSE 0 END AS is_start
  FROM signed
),
agg AS (
  SELECT CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(is_start) AS BIGINT) AS r
  FROM runs
),
z AS (
  SELECT n1, n2, r,
         2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
           / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0 AS mu,
         CAST(n1 + n2 AS DOUBLE) AS n
  FROM agg
)
SELECT n1, n2, r,
       {grid_sql('mu', 6)} AS mu_micro,
       {grid_sql('''(CAST(r AS DOUBLE) - mu)
                  / sqrt((mu - 1.0) * (mu - 2.0) / (n - 1.0))''', 6)} AS z_micro,
       abs((CAST(r AS DOUBLE) - mu)
           / sqrt((mu - 1.0) * (mu - 2.0) / (n - 1.0))) > 1.96
         AS non_random
FROM z
"""


@register(
    "stat_runs_test",
    oracle=_runs_sql(
        "events", "epoch_us", "//", "2 * quantile_cont(y, 0.5)"
    ),
)
def stat_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the hourly mean-value series —
    counts maximal runs of above/below-median hours and asks whether
    their number is consistent with exchangeability (too few runs =
    trending/clustered, too many = oscillating). The randomness
    diagnostic that complements `stat_durbin_watson` (linear lag-1
    structure) with a fully nonparametric one. Exact-median split on
    the 2x integer trick (ties to the median are dropped, the standard
    treatment); run starts are LAG sign changes; mean and variance of
    the run count use the sigma^2 = (mu-1)(mu-2)/(n-1) identity so the
    double chain is three scalar ops off exact longs, mirrored
    operand-for-operand against the oracle SQL (VERDICT r8: converted
    from the shared-SQL-text form to the DataFrame API — the
    cross-engine differential is stronger when the two engines don't
    share a parser).

    100-TB posture: one data-sized rollup; the LAG window runs over
    the collapsed hourly table (cap with coarser buckets exactly like
    ts_pacf_durbin); everything else is one aggregate row.
    """
    ev = load_table(spark, sf_dir, "events")
    h = _hourly_mean(ev, 6)
    med = h.agg(
        (F.lit(2) * F.percentile("y", F.lit(0.5))).cast("long").alias("m2")
    )
    signed = (
        h.crossJoin(F.broadcast(med))
        .where(F.lit(2) * F.col("y") != F.col("m2"))
        .select(
            "t",
            F.when(F.lit(2) * F.col("y") > F.col("m2"), 1)
            .otherwise(0).alias("s"),
        )
    )
    w = Window.orderBy("t")
    runs = signed.select(
        "s",
        F.when(F.lag("s").over(w).isNull(), 1)
        .when(F.lag("s").over(w) != F.col("s"), 1)
        .otherwise(0).alias("is_start"),
    )
    agg = runs.agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("s") == 0, 1).otherwise(0)).alias("n2"),
        F.sum("is_start").alias("r"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    mu = F.lit(2.0) * n1d * n2d / (n1d + n2d) + F.lit(1.0)
    n = (F.col("n1") + F.col("n2")).cast("double")
    z = (F.col("r").cast("double") - F.col("mu")) / F.sqrt(
        (F.col("mu") - F.lit(1.0)) * (F.col("mu") - F.lit(2.0))
        / (F.col("nn") - F.lit(1.0))
    )
    return agg.select("n1", "n2", "r", mu.alias("mu"), n.alias("nn")).select(
        "n1", "n2", "r",
        grid("mu", 6).alias("mu_micro"),
        grid(z, 6).alias("z_micro"),
        (F.abs(z) > F.lit(1.96)).alias("non_random"),
    )


#: stat_qq_deciles: the percentile points (in %) compared between the
#: two groups.
_QQ_POINTS = "5,10,15,20,25,30,35,40,45,50,55,60,65,70,75,80,85,90,95"


@register(
    "stat_qq_deciles",
    oracle=f"""
WITH v AS (
  SELECT l_returnflag AS grp,
         {grid_sql('l_extendedprice', 2)} AS cents,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem WHERE l_returnflag IN ('A', 'R')
  GROUP BY 1, 2
),
cum AS (
  SELECT grp, cents, c,
         CAST(SUM(c) OVER (PARTITION BY grp ORDER BY cents
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc,
         CAST(SUM(c) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM v
),
pts AS (SELECT CAST(u AS BIGINT) AS q FROM
        (SELECT unnest([{_QQ_POINTS}]) AS u)),
qv AS (
  SELECT p.q, cum.grp, MIN(cum.cents) AS qcents
  FROM cum JOIN pts p
    ON cum.cc * 100 >= p.q * cum.n
  GROUP BY p.q, cum.grp
)
SELECT a.q, a.qcents AS qa_cents, r.qcents AS qr_cents,
       a.qcents - r.qcents AS diff_cents
FROM qv a JOIN qv r ON a.q = r.q AND a.grp = 'A' AND r.grp = 'R'
ORDER BY a.q
""",
)
def stat_qq_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile comparison table between the A and R
    return-flag price distributions at 19 ventile points — the
    distribution-shift VIEW that `stat_ks_test` compresses to one
    number: WHERE the distributions diverge (tails vs body) rather
    than just how much. Type-1 (lower-value) quantiles are EXACT
    integers off the per-group cumulative histogram — quantile q is
    the smallest value whose cumulative count reaches ceil(q*n/100),
    expressed as the integer predicate cc*100 >= q*n, so no float
    enters at all.

    100-TB posture: one hash aggregate to the per-(group, value)
    histogram; cumulative windows PARTITION BY group over the
    collapsed value domain (pre-bin onto a fixed grid for continuous
    measures — the KS lesson); the 19-point lookup is a theta-join
    against the collapsed table with a MIN rollup.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isin("A", "R")
    )
    v = li.groupBy(
        F.col("l_returnflag").alias("grp"),
        grid("l_extendedprice", 2).alias("cents"),
    ).agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("grp")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("grp")
    cum = v.select(
        "grp", "cents",
        F.sum("c").over(wcum).alias("cc"),
        F.sum("c").over(wall).alias("n"),
    )
    pts = spark.range(1, 20).select((F.col("id") * 5).alias("q"))
    qv = (
        cum.join(
            F.broadcast(pts),
            F.col("cc") * F.lit(100) >= F.col("q") * F.col("n"),
        )
        .groupBy("q", "grp")
        .agg(F.min("cents").alias("qcents"))
    )
    a = qv.where(F.col("grp") == "A").select(
        "q", F.col("qcents").alias("qa_cents")
    )
    r = qv.where(F.col("grp") == "R").select(
        "q", F.col("qcents").alias("qr_cents")
    )
    return (
        a.join(r, "q")
        .select(
            "q", "qa_cents", "qr_cents",
            (F.col("qa_cents") - F.col("qr_cents")).alias("diff_cents"),
        )
        .orderBy("q")
    )


def _coint_sql(table: str, epoch_us: str, idiv: str) -> str:
    """Shared Spark/DuckDB SQL for `ts_cointegration_egr` (identical
    text modulo the epoch fn and integer-div operator)."""
    return f"""
WITH h AS (
  SELECT CAST({epoch_us}(ts) {idiv} 3600000000 AS BIGINT) AS t,
         CAST(SUM(CASE WHEN event_type = 'view' THEN
                       {grid_sql('value', 6)}
                       ELSE 0 END) AS BIGINT) AS s1,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN event_type = 'click' THEN
                       {grid_sql('value', 6)}
                       ELSE 0 END) AS BIGINT) AS s2,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS c2
  FROM {table} GROUP BY 1
),
pair AS (
  SELECT t, s1 {idiv} c1 AS y1, s2 {idiv} c2 AS y2
  FROM h WHERE c1 > 0 AND c2 > 0
),
ols AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y1) AS BIGINT) AS sy1,
         CAST(SUM(y2) AS BIGINT) AS sy2,
         CAST(SUM(y2 * y2) AS BIGINT) AS sy22,
         CAST(SUM(y2 * y1) AS BIGINT) AS sy21
  FROM pair
),
fit AS (
  SELECT n,
         (CAST(n AS DOUBLE) * CAST(sy21 AS DOUBLE)
          - CAST(sy2 AS DOUBLE) * CAST(sy1 AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sy22 AS DOUBLE)
            - CAST(sy2 AS DOUBLE) * CAST(sy2 AS DOUBLE)) AS beta,
         (CAST(sy1 AS DOUBLE)
          - (CAST(n AS DOUBLE) * CAST(sy21 AS DOUBLE)
             - CAST(sy2 AS DOUBLE) * CAST(sy1 AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sy22 AS DOUBLE)
               - CAST(sy2 AS DOUBLE) * CAST(sy2 AS DOUBLE))
            * CAST(sy2 AS DOUBLE))
         / CAST(n AS DOUBLE) AS alpha
  FROM ols
),
resid AS (
  SELECT t,
         {grid_sql('''(CAST(y1 AS DOUBLE)
                     - (alpha + beta * CAST(y2 AS DOUBLE)))
                    / 1000.0''', 0)} AS e3
  FROM pair CROSS JOIN fit
),
lagged AS (
  SELECT e3, LAG(e3) OVER (ORDER BY t) AS ep FROM resid
),
adf AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(ep * (e3 - ep)) AS BIGINT) AS sed,
         CAST(SUM(ep * ep) AS BIGINT) AS see
  FROM lagged WHERE ep IS NOT NULL
),
gam AS (
  SELECT m, CAST(sed AS DOUBLE) / CAST(see AS DOUBLE) AS gamma, see
  FROM adf
),
sig AS (
  SELECT g.m, g.gamma, g.see,
         CAST(SUM((CAST(l.e3 AS DOUBLE) - CAST(l.ep AS DOUBLE)
                   - g.gamma * CAST(l.ep AS DOUBLE))
                  * (CAST(l.e3 AS DOUBLE) - CAST(l.ep AS DOUBLE)
                     - g.gamma * CAST(l.ep AS DOUBLE))) AS DOUBLE) AS ssu
  FROM lagged l CROSS JOIN gam g WHERE l.ep IS NOT NULL
  GROUP BY g.m, g.gamma, g.see
)
SELECT m AS n_obs,
       {grid_sql('SELECT beta FROM fit', 6)}
         AS beta_micro,
       {grid_sql('gamma', 6)} AS gamma_micro,
       {grid_sql('gamma / sqrt(ssu / (m - 2.0) / CAST(see AS DOUBLE))', 6)}
         AS adf_t_micro,
       gamma / sqrt(ssu / (m - 2.0) / CAST(see AS DOUBLE)) < -3.34
         AS cointegrated
FROM sig
"""


@register(
    "ts_cointegration_egr",
    oracle=_coint_sql("events", "epoch_us", "//"),
)
def ts_cointegration_egr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger cointegration test between the hourly view and
    click value series — do two trending series share a common
    stochastic trend (their residual spread mean-reverts), the
    pairs-relationship test `ts_granger_lite` (lead-lag) and
    `ts_cross_corr` (contemporaneous) don't answer. Stage 1 regresses
    y1 on y2 from five exact long sums; stage 2 runs the Dickey-Fuller
    regression De_t = gamma*e_{t-1} on milli-gridded residuals, so the
    ADF t-statistic assembles from exact longs plus one double ssu
    term computed by the identical expression tree both engines run.
    -3.34 is the 5% Engle-Granger critical value for 2 variables.
    Spark builds the kernel through the DataFrame API (converted from
    the shared-SQL form per VERDICT r9 task 4) against the unchanged
    `_coint_sql` oracle.

    100-TB posture: one data-sized rollup builds BOTH series (a single
    conditional aggregate — no self-join); the LAG window runs over
    the collapsed hourly table.
    """
    ev = load_table(spark, sf_dir, "events")
    micro = grid("value", 6)
    h = ev.groupBy(
        F.expr("CAST(unix_micros(ts) div 3600000000 AS BIGINT)")
        .alias("t")
    ).agg(
        F.sum(F.when(F.col("event_type") == "view", micro).otherwise(0))
        .cast("long").alias("s1"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long").alias("c1"),
        F.sum(F.when(F.col("event_type") == "click", micro).otherwise(0))
        .cast("long").alias("s2"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long").alias("c2"),
    )
    pair = h.filter((F.col("c1") > 0) & (F.col("c2") > 0)).select(
        "t",
        F.expr("s1 div c1").alias("y1"),
        F.expr("s2 div c2").alias("y2"),
    )
    ols = pair.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y1").cast("long").alias("sy1"),
        F.sum("y2").cast("long").alias("sy2"),
        F.sum(F.col("y2") * F.col("y2")).cast("long").alias("sy22"),
        F.sum(F.col("y2") * F.col("y1")).cast("long").alias("sy21"),
    )
    nd = F.col("n").cast("double")
    beta = (
        nd * F.col("sy21").cast("double")
        - F.col("sy2").cast("double") * F.col("sy1").cast("double")
    ) / (
        nd * F.col("sy22").cast("double")
        - F.col("sy2").cast("double") * F.col("sy2").cast("double")
    )
    fit = ols.select(
        "n",
        beta.alias("beta"),
        (
            (F.col("sy1").cast("double") - beta
             * F.col("sy2").cast("double")) / nd
        ).alias("alpha"),
    )
    resid = pair.crossJoin(F.broadcast(fit)).select(
        "t",
        grid(
            (
                F.col("y1").cast("double")
                - (F.col("alpha") + F.col("beta")
                   * F.col("y2").cast("double"))
            ) / F.lit(1000.0),
            0,
        ).alias("e3"),
    )
    lagged = resid.select(
        "e3", F.lag("e3").over(Window.orderBy("t")).alias("ep")
    )
    adf = lagged.filter(F.col("ep").isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(F.col("ep") * (F.col("e3") - F.col("ep"))).cast("long")
        .alias("sed"),
        F.sum(F.col("ep") * F.col("ep")).cast("long").alias("see"),
    )
    gam = adf.select(
        "m",
        (F.col("sed").cast("double") / F.col("see").cast("double"))
        .alias("gamma"),
        "see",
    )
    r = (
        F.col("e3").cast("double") - F.col("ep").cast("double")
        - F.col("gamma") * F.col("ep").cast("double")
    )
    sig = (
        lagged.filter(F.col("ep").isNotNull())
        .crossJoin(F.broadcast(gam))
        .groupBy("m", "gamma", "see")
        .agg(F.sum(r * r).cast("double").alias("ssu"))
    )
    adf_t = F.col("gamma") / F.sqrt(
        F.col("ssu") / (F.col("m") - F.lit(2.0))
        / F.col("see").cast("double")
    )
    return sig.crossJoin(F.broadcast(fit.select("beta"))).select(
        F.col("m").alias("n_obs"),
        grid("beta", 6).alias("beta_micro"),
        grid("gamma", 6).alias("gamma_micro"),
        grid(adf_t, 6).alias("adf_t_micro"),
        (adf_t < F.lit(-3.34)).alias("cointegrated"),
    )


#: privacy_microaggregation: records per group (the k of k-anonymity
#: for numeric quasi-identifiers).
_MICROAGG_K = 100


@register(
    "privacy_microaggregation",
    oracle=f"""
WITH v AS (
  SELECT {grid_sql('o_totalprice', 2)} AS cents,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1
),
cum AS (
  SELECT cents, c,
         CAST(SUM(c) OVER (ORDER BY cents
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc,
         CAST(SUM(c) OVER () AS BIGINT) AS n
  FROM v
),
span AS (
  SELECT cents, c, cc - c + 1 AS a, cc AS b, n FROM cum
),
alloc AS (
  SELECT cents, n, CAST(g AS BIGINT) AS g,
         LEAST(b, (CAST(g AS BIGINT) + 1) * {_MICROAGG_K})
           - GREATEST(a, CAST(g AS BIGINT) * {_MICROAGG_K} + 1) + 1
           AS cnt
  FROM span,
       UNNEST(generate_series((a - 1) // {_MICROAGG_K},
                              (b - 1) // {_MICROAGG_K})) AS t(g)
),
grp AS (
  SELECT g, MAX(n) AS n,
         CAST(SUM(cnt) AS BIGINT) AS gn,
         CAST(SUM(cnt * cents) AS BIGINT) AS gs,
         CAST(SUM(CAST(cnt AS DECIMAL(38, 0))
                  * CAST(cents AS DECIMAL(38, 0))
                  * CAST(cents AS DECIMAL(38, 0))) AS DECIMAL(38, 0))
           AS gq
  FROM alloc GROUP BY g
),
terms AS (
  SELECT g, n, gn, gs, gq,
         {grid_sql('''(CAST(gq AS DOUBLE)
                     - CAST(gs AS DOUBLE) * CAST(gs AS DOUBLE) / gn)
                    / 1000000.0''', 0)} AS sse_w_m
  FROM grp
),
tot AS (
  SELECT MAX(n) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_groups,
         MIN(gn) AS min_gn, MAX(gn) AS max_gn,
         CAST(SUM(sse_w_m) AS BIGINT) AS sse_within_m,
         CAST(SUM(gn) AS BIGINT) AS total_rows,
         CAST(SUM(gs) AS BIGINT) AS s_all,
         CAST(SUM(gq) AS DECIMAL(38, 0)) AS q_all
  FROM terms
)
SELECT CAST({_MICROAGG_K} AS BIGINT) AS k, n, n_groups, min_gn, max_gn,
       sse_within_m,
       {grid_sql('''CAST(sse_within_m AS DOUBLE)
                  / ((CAST(q_all AS DOUBLE)
                      - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / n)
                     / 1000000.0)''', 6)} AS info_loss_micro
FROM tot
""",
)
def privacy_microaggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Univariate k=100 microaggregation (the MDAV-style numeric
    k-anonymization): sort the order values, cut into consecutive
    groups of exactly k, replace each value by its group centroid, and
    report the information loss SSE_within/SSE_total — the
    privacy-utility dial that complements `privacy_k_anonymity`
    (categorical suppression) with the numeric-attribute mechanism.
    The sort never materializes row-wise: the per-value histogram's
    cumulative counts give each value's position span [a, b], every
    value allocates its count across the <= (span/k + 2) groups it
    touches via a bounded sequence-explode, and group SSEs come from
    exact integer/decimal power sums (per-group terms gridded to 1e-6
    before the final sum).

    100-TB posture: one data-sized hash aggregate to the value
    histogram; the cumulative window runs over the COLLAPSED value
    domain (pre-bin continuous measures, the KS lesson); the
    (value, group) allocation is linear — N/k + |values| rows.
    """
    o = load_table(spark, sf_dir, "orders")
    v = o.groupBy(
        grid("o_totalprice", 2).alias("cents")
    ).agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = v.select(
        "cents", "c",
        F.sum("c").over(wcum).alias("cc"),
        F.sum("c").over(wall).alias("n"),
    )
    span = cum.select(
        "cents", "c",
        (F.col("cc") - F.col("c") + 1).alias("a"),
        F.col("cc").alias("b"),
        "n",
    )
    k = _MICROAGG_K
    alloc = span.select(
        "cents", "n",
        F.explode(
            F.sequence(
                F.expr(f"(a - 1) div {k}"), F.expr(f"(b - 1) div {k}")
            )
        ).alias("g"),
        "a", "b",
    ).select(
        "cents", "n", "g",
        (
            F.least(F.col("b"), (F.col("g") + 1) * k)
            - F.greatest(F.col("a"), F.col("g") * k + 1) + 1
        ).alias("cnt"),
    )
    cdec = F.col("cnt").cast("decimal(38,0)")
    vdec = F.col("cents").cast("decimal(38,0)")
    grp = alloc.groupBy("g").agg(
        F.max("n").alias("n"),
        F.sum("cnt").alias("gn"),
        F.sum(F.col("cnt") * F.col("cents")).alias("gs"),
        F.sum(cdec * vdec * vdec).cast("decimal(38,0)").alias("gq"),
    )
    terms = grp.select(
        "g", "n", "gn", "gs", "gq",
        grid(
            (
                F.col("gq").cast("double")
                - F.col("gs").cast("double") * F.col("gs").cast("double")
                / F.col("gn")
            ) / F.lit(1e6),
            0,
        ).alias("sse_w_m"),
    )
    tot = terms.agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).alias("n_groups"),
        F.min("gn").alias("min_gn"),
        F.max("gn").alias("max_gn"),
        F.sum("sse_w_m").alias("sse_within_m"),
        F.sum("gn").alias("total_rows"),
        F.sum("gs").alias("s_all"),
        F.sum("gq").cast("decimal(38,0)").alias("q_all"),
    )
    return tot.select(
        F.lit(k).cast("long").alias("k"),
        "n", "n_groups", "min_gn", "max_gn", "sse_within_m",
        grid(
            F.col("sse_within_m").cast("double")
            / (
                (
                    F.col("q_all").cast("double")
                    - F.col("s_all").cast("double")
                    * F.col("s_all").cast("double") / F.col("n")
                ) / F.lit(1e6)
            ),
            6,
        ).alias("info_loss_micro"),
    )


#: ml_threshold_sweep: misclassification costs (false positive /
#: false negative) in integer cost units.
_THR_FP_COST, _THR_FN_COST = 1, 5


@register(
    "ml_threshold_sweep",
    oracle=f"""
WITH {_score_bins_sql("p")},
cum AS (
  SELECT bin, n, p,
         CAST(SUM(n) OVER (ORDER BY bin DESC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_ge,
         CAST(SUM(p) OVER (ORDER BY bin DESC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p_ge,
         CAST(SUM(n) OVER () AS BIGINT) AS tn_all,
         CAST(SUM(p) OVER () AS BIGINT) AS tp_all
  FROM bins
),
sweep AS (
  SELECT bin AS threshold_bin,
         p_ge AS tp, n_ge - p_ge AS fp,
         tp_all - p_ge AS fn, (tn_all - n_ge) - (tp_all - p_ge) AS tn,
         CAST({_THR_FP_COST} * (n_ge - p_ge)
              + {_THR_FN_COST} * (tp_all - p_ge) AS BIGINT) AS cost
  FROM cum
)
SELECT threshold_bin, tp, fp, fn, tn, cost
FROM sweep
ORDER BY cost, threshold_bin
LIMIT 10
""",
)
def ml_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-optimal decision-threshold search: sweep EVERY candidate
    cutoff of the score in one pass and rank by expected
    misclassification cost (FP=1, FN=5 — the asymmetric-cost setting
    where `ml_pr_curve`'s F1 point is the wrong answer). Predicting
    positive at score >= t makes every confusion cell a SUFFIX sum of
    the score histogram, so the entire sweep is two cumulative windows
    over the collapsed bin table — never a per-threshold pass over the
    data. Top-10 thresholds by exact integer cost, fully tie-broken.

    100-TB posture: one data-sized hash aggregate to score bins; the
    descending cumulative window runs over the collapsed (bounded)
    bin domain — the ml_lift_curve / ml_brier_decomposition shape.
    """
    bins = _score_bins(spark, sf_dir, "p")
    wdesc = (
        Window.orderBy(F.col("bin").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = bins.select(
        "bin", "n", "p",
        F.sum("n").over(wdesc).alias("n_ge"),
        F.sum("p").over(wdesc).alias("p_ge"),
        F.sum("n").over(wall).alias("tn_all"),
        F.sum("p").over(wall).alias("tp_all"),
    )
    return (
        cum.select(
            F.col("bin").alias("threshold_bin"),
            F.col("p_ge").alias("tp"),
            (F.col("n_ge") - F.col("p_ge")).alias("fp"),
            (F.col("tp_all") - F.col("p_ge")).alias("fn"),
            (
                (F.col("tn_all") - F.col("n_ge"))
                - (F.col("tp_all") - F.col("p_ge"))
            ).alias("tn"),
            (
                F.lit(_THR_FP_COST) * (F.col("n_ge") - F.col("p_ge"))
                + F.lit(_THR_FN_COST) * (F.col("tp_all") - F.col("p_ge"))
            ).cast("long").alias("cost"),
        )
        .orderBy("cost", "threshold_bin")
        .limit(10)
    )


@register(
    "stat_power_analysis",
    oracle=f"""
WITH halves AS (
  SELECT CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
              THEN 1 ELSE 2 END AS h,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit
  FROM events
),
agg AS (
  SELECT CAST(SUM(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN h = 1 THEN hit ELSE 0 END) AS BIGINT) AS x1,
         CAST(SUM(CASE WHEN h = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN h = 2 THEN hit ELSE 0 END) AS BIGINT) AS x2
  FROM halves
),
rates AS (
  SELECT n1, x1, n2, x2,
         CAST(x1 AS DOUBLE) / n1 AS p1,
         CAST(x2 AS DOUBLE) / n2 AS p2,
         CAST(x1 + x2 AS DOUBLE) / (n1 + n2) AS pbar
  FROM agg
),
calc AS (
  SELECT n1, x1, n2, x2, p1, p2,
         (p1 - p2)
           / sqrt(pbar * (1.0 - pbar) * (1.0 / n1 + 1.0 / n2)) AS z,
         (1.959964 * sqrt(2.0 * pbar * (1.0 - pbar))
          + 0.841621 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
         * (1.959964 * sqrt(2.0 * pbar * (1.0 - pbar))
            + 0.841621 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
         / ((p1 - p2) * (p1 - p2)) AS n_req
  FROM rates
)
SELECT n1, x1, n2, x2,
       {grid_sql('p1', 6)} AS p1_micro,
       {grid_sql('p2', 6)} AS p2_micro,
       {grid_sql('z', 6)} AS z_micro,
       CAST(CEIL(n_req) AS BIGINT) AS n_per_arm_80pct,
       abs(z) > 1.959964 AS significant_now
FROM calc
""",
)
def stat_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion power analysis on the observed purchase-rate
    difference between the first and second half of the month — the
    experiment-sizing question every A/B platform answers BEFORE
    shipping: is the current gap significant, and how many samples per
    arm would an alpha=0.05 / 80%-power test need to detect it
    (z_{0.975}=1.959964, z_{0.80}=0.841621)? One conditional aggregate
    produces all four counts; the z statistic and the classic
    sample-size formula are scalar IEEE chains off those exact longs,
    written in the identical expression tree both engines run.

    100-TB posture: one data-sized hash aggregate, one row out —
    nothing else.
    """
    ev = load_table(spark, sf_dir, "events")
    halves = ev.select(
        F.when(
            F.col("ts").cast("date") < F.lit("2024-01-16").cast("date"), 1
        ).otherwise(2).alias("h"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        .alias("hit"),
    )
    agg = halves.agg(
        F.sum(F.when(F.col("h") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("h") == 1, F.col("hit")).otherwise(0)).alias("x1"),
        F.sum(F.when(F.col("h") == 2, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("h") == 2, F.col("hit")).otherwise(0)).alias("x2"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    pbar = (F.col("x1") + F.col("x2")).cast("double") / (
        F.col("n1") + F.col("n2")
    )
    rates = agg.select(
        "n1", "x1", "n2", "x2",
        p1.alias("p1"), p2.alias("p2"), pbar.alias("pbar"),
    )
    z = (F.col("p1") - F.col("p2")) / F.sqrt(
        F.col("pbar") * (F.lit(1.0) - F.col("pbar"))
        * (F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n2"))
    )
    root = (
        F.lit(1.959964)
        * F.sqrt(F.lit(2.0) * F.col("pbar") * (F.lit(1.0) - F.col("pbar")))
        + F.lit(0.841621)
        * F.sqrt(
            F.col("p1") * (F.lit(1.0) - F.col("p1"))
            + F.col("p2") * (F.lit(1.0) - F.col("p2"))
        )
    )
    n_req = root * root / (
        (F.col("p1") - F.col("p2")) * (F.col("p1") - F.col("p2"))
    )
    calc = rates.select(
        "n1", "x1", "n2", "x2", "p1", "p2",
        z.alias("z"), n_req.alias("n_req"),
    )
    return calc.select(
        "n1", "x1", "n2", "x2",
        grid("p1", 6).alias("p1_micro"),
        grid("p2", 6).alias("p2_micro"),
        grid("z", 6).alias("z_micro"),
        F.ceil(F.col("n_req")).cast("long").alias("n_per_arm_80pct"),
        (F.abs(F.col("z")) > F.lit(1.959964)).alias("significant_now"),
    )


def _addfit_sql(table: str, epoch_us: str, idiv: str) -> str:
    """Shared Spark/DuckDB SQL for `ts_additive_model_fit` (identical
    text modulo epoch fn and integer-div operator). dow is days since
    the Thursday epoch mod 7 — engine-neutral, no locale."""
    return f"""
WITH d AS (
  SELECT CAST({epoch_us}(ts) {idiv} 86400000000 AS BIGINT) AS day,
         CAST(SUM({grid_sql('value', 6)})
              AS BIGINT) {idiv} CAST(COUNT(*) AS BIGINT) AS y
  FROM {table} GROUP BY 1
),
rel AS (
  SELECT CAST(day - MIN(day) OVER () AS BIGINT) AS t,
         day % 7 AS dow, y
  FROM d
),
ols AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS st,
         CAST(SUM(t * t) AS BIGINT) AS stt,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(t * y) AS BIGINT) AS sty
  FROM rel
),
fit AS (
  SELECT n,
         (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
          - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
            - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS b,
         (CAST(sy AS DOUBLE)
          - (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
             - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
               - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
            * CAST(st AS DOUBLE))
         / CAST(n AS DOUBLE) AS a,
         CAST(sy AS DOUBLE) / n AS ybar
  FROM ols
),
resid AS (
  SELECT t, dow, y,
         {grid_sql('''(CAST(y AS DOUBLE) - (a + b * CAST(t AS DOUBLE)))
                    / 1000.0''', 0)} AS r3
  FROM rel CROSS JOIN fit
),
dow_eff AS (
  SELECT dow, CAST(COUNT(*) AS BIGINT) AS nd,
         CAST(SUM(r3) AS BIGINT) {idiv} CAST(COUNT(*) AS BIGINT) AS eff3
  FROM resid GROUP BY dow
),
finals AS (
  SELECT r.t, r.dow, r.y, r.r3, e.eff3, e.nd,
         r.r3 - e.eff3 AS f3
  FROM resid r JOIN dow_eff e ON r.dow = e.dow
),
sse AS (
  SELECT CAST(SUM(r3 * r3) AS BIGINT) AS sse_trend,
         CAST(SUM(f3 * f3) AS BIGINT) AS sse_full
  FROM finals
),
tot AS (
  SELECT CAST(SUM({grid_sql('(CAST(y AS DOUBLE) - ybar) / 1000.0', 0)}
                  * {grid_sql('(CAST(y AS DOUBLE) - ybar) / 1000.0', 0)}) AS BIGINT)
                    AS sse_mean
  FROM rel CROSS JOIN fit
)
SELECT e.dow, e.nd,
       CAST(e.eff3 AS BIGINT) AS dow_effect_milli,
       {grid_sql('SELECT b FROM fit', 3)}
         AS slope_milli,
       {grid_sql('1.0 - CAST(s.sse_full AS DOUBLE) / t.sse_mean', 6)} AS r2_full_micro,
       {grid_sql('1.0 - CAST(s.sse_trend AS DOUBLE) / t.sse_mean', 6)}
         AS r2_trend_micro
FROM dow_eff e CROSS JOIN sse s CROSS JOIN tot t
ORDER BY e.dow
"""


@register(
    "ts_additive_model_fit",
    oracle=_addfit_sql("events", "epoch_us", "//"),
)
def ts_additive_model_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive decomposition FIT: y(day) = trend(OLS) + day-of-week
    effect + residual, reporting each dow's effect and the R^2 gained
    by adding seasonality over trend alone — the explain-the-series
    model `ts_decompose_residuals` (moving-average STL-lite) answers
    descriptively, here as a parametric fit whose components are
    reusable coefficients (the Prophet-shaped workflow). Trend from
    five exact long sums; residuals gridded to milli BEFORE the dow
    means (exact integer division) and both SSEs, so every sum is a
    long and the only IEEE steps are the scalar fit and two R^2
    ratios. dow = epoch-day mod 7 (engine-neutral, no locale).

    100-TB posture: one data-sized rollup; the dow rollup and SSEs run
    over the collapsed per-day table. Spark builds the kernel through
    the DataFrame API (converted from the shared-SQL form per VERDICT
    r9 task 4) against the unchanged `_addfit_sql` oracle.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.expr("CAST(unix_micros(ts) div 86400000000 AS BIGINT)")
        .alias("day")
    ).agg(
        F.expr(
            f"CAST(SUM({grid_sql('value', 6)})"
            " AS BIGINT) div CAST(COUNT(*) AS BIGINT)"
        ).alias("y")
    )
    rel = d.select(
        (F.col("day") - F.min("day").over(Window.partitionBy()))
        .cast("long").alias("t"),
        (F.col("day") % 7).alias("dow"),
        "y",
    )
    ols = rel.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sty"),
    )
    nd = F.col("n").cast("double")
    b = (
        nd * F.col("sty").cast("double")
        - F.col("st").cast("double") * F.col("sy").cast("double")
    ) / (
        nd * F.col("stt").cast("double")
        - F.col("st").cast("double") * F.col("st").cast("double")
    )
    fit = ols.select(
        "n",
        b.alias("b"),
        (
            (F.col("sy").cast("double") - b * F.col("st").cast("double"))
            / nd
        ).alias("a"),
        (F.col("sy").cast("double") / F.col("n")).alias("ybar"),
    )
    resid = rel.crossJoin(F.broadcast(fit)).select(
        "t", "dow", "y",
        grid(
            (
                F.col("y").cast("double")
                - (F.col("a") + F.col("b") * F.col("t").cast("double"))
            ) / F.lit(1000.0),
            0,
        ).alias("r3"),
    )
    dow_eff = resid.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.expr(
            "CAST(SUM(r3) AS BIGINT) div CAST(COUNT(*) AS BIGINT)"
        ).alias("eff3"),
    )
    finals = resid.join(dow_eff, "dow").select(
        "r3", (F.col("r3") - F.col("eff3")).alias("f3")
    )
    sse = finals.agg(
        F.sum(F.col("r3") * F.col("r3")).cast("long").alias("sse_trend"),
        F.sum(F.col("f3") * F.col("f3")).cast("long").alias("sse_full"),
    )
    dm = grid((F.col("y").cast("double") - F.col("ybar")) / F.lit(1000.0), 0)
    tot = rel.crossJoin(F.broadcast(fit)).agg(
        F.sum(dm * dm).cast("long").alias("sse_mean")
    )
    return (
        dow_eff
        .crossJoin(F.broadcast(sse))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(fit.select("b")))
        .select(
            "dow", "nd",
            F.col("eff3").cast("long").alias("dow_effect_milli"),
            grid("b", 3).alias("slope_milli"),
            grid(
                F.lit(1.0) - F.col("sse_full").cast("double") / F.col("sse_mean"), 6
            ).alias("r2_full_micro"),
            grid(
                F.lit(1.0) - F.col("sse_trend").cast("double") / F.col("sse_mean"), 6
            ).alias("r2_trend_micro"),
        )
        .orderBy("dow")
    )


#: stat_anderson_darling: ln F and ln(1 - F) on the 1e-9 grid before
#: they meet the rank weights (the lf9/ln discipline).
_AD_LN_FX = grid_sql("ln(fx)", 9)
_AD_LN_1MFX = grid_sql("ln(1.0 - fx)", 9)


@register(
    "stat_anderson_darling",
    oracle=f"""
WITH v AS (
  SELECT {grid_sql('o_totalprice', 2)} % 100 AS x,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1
),
cum AS (
  SELECT x, c,
         CAST(SUM(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cc,
         CAST(SUM(c) OVER () AS BIGINT) AS n
  FROM v
),
spans AS (
  SELECT x, c, cc - c + 1 AS a, cc AS b, n,
         (CAST(x AS DOUBLE) + 1.0) / 100.0 AS fx
  FROM cum
),
terms AS (
  SELECT n,
         {grid_sql(f'''(CAST(b * b - (a - 1) * (a - 1) AS DOUBLE) / n)
                    * (CAST({_AD_LN_FX} AS DOUBLE) / 1000000000.0)''', 9)} AS t1,
         CASE WHEN fx < 1.0 THEN
           {grid_sql(f'''(CAST(2 * n * c - (b * b - (a - 1) * (a - 1))
                            AS DOUBLE) / n)
                      * (CAST({_AD_LN_1MFX} AS DOUBLE) / 1000000000.0)''', 9)}
           ELSE 0 END AS t2
  FROM spans
),
s AS (
  SELECT MAX(n) AS n,
         CAST(SUM(t1) AS BIGINT) AS s1,
         CAST(SUM(t2) AS BIGINT) AS s2
  FROM terms
)
SELECT n,
       {grid_sql('''(-CAST(n AS DOUBLE)
                   - (CAST(s1 AS DOUBLE) / 1000000000.0
                      + CAST(s2 AS DOUBLE) / 1000000000.0))''', 6)} AS a2_micro,
       (-CAST(n AS DOUBLE)
        - (CAST(s1 AS DOUBLE) / 1000000000.0
           + CAST(s2 AS DOUBLE) / 1000000000.0)) > 2.492 AS non_uniform
FROM s
""",
)
def stat_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson-Darling uniformity test on the cents digit pair of the
    order totals — the tail-sensitive goodness-of-fit that catches
    fabricated or truncated monetary data where `dq_benford_firstdigit`
    (leading digit) and `stat_ks_test` (body-weighted) stay quiet. The
    row-rank sum A^2 = -n - (1/n) * sum_i [(2i-1) ln F(x_i)
    + (2i-1) ln(1-F(x_{n+1-i}))] collapses to the 100-value digit
    histogram: within a tied span [a, b] the rank weights are the
    arithmetic-series closed forms b^2-(a-1)^2 and 2nc - that
    (verified against a direct row-rank numpy evaluation,
    tests/test_round8_ops.py), so
    both sums are exact longs times 1e-9-gridded logs of the KNOWN
    discrete-uniform CDF. 2.492 = A^2 critical value at alpha=0.05.

    100-TB posture: one hash aggregate to the 100-row digit histogram;
    everything else is constant-size. The F(x)=1 boundary term drops
    (its rank weight multiplies ln(1) = 0 on the mirrored sum).
    """
    o = load_table(spark, sf_dir, "orders")
    v = o.groupBy(
        (
            grid("o_totalprice", 2) % 100
        ).alias("x")
    ).agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = v.select(
        "x", "c",
        F.sum("c").over(wcum).alias("cc"),
        F.sum("c").over(wall).alias("n"),
    )
    spans = cum.select(
        "x", "c",
        (F.col("cc") - F.col("c") + 1).alias("a"),
        F.col("cc").alias("b"),
        "n",
        ((F.col("x").cast("double") + F.lit(1.0)) / F.lit(100.0))
        .alias("fx"),
    )
    w1 = F.col("b") * F.col("b") - (F.col("a") - 1) * (F.col("a") - 1)
    w2 = F.lit(2) * F.col("n") * F.col("c") - w1
    lf9 = grid(F.log("fx"), 9)
    lg9 = grid(F.log(F.lit(1.0) - F.col("fx")), 9)
    # per-span terms normalize by n in DOUBLE before the 1e-9 grid —
    # the raw rank-weight x log product overflows int64 past ~1e5 rows
    terms = spans.select(
        "n",
        grid(
            (w1.cast("double") / F.col("n")) * (lf9.cast("double") / F.lit(1e9)), 9
        ).alias("t1"),
        F.when(
            F.col("fx") < F.lit(1.0),
            grid(
                (w2.cast("double") / F.col("n")) * (lg9.cast("double") / F.lit(1e9)), 9
            ),
        ).otherwise(0).alias("t2"),
    )
    s = terms.agg(
        F.max("n").alias("n"),
        F.sum("t1").alias("s1"),
        F.sum("t2").alias("s2"),
    )
    a2 = (
        -F.col("n").cast("double")
        - (
            F.col("s1").cast("double") / F.lit(1e9)
            + F.col("s2").cast("double") / F.lit(1e9)
        )
    )
    return s.select(
        "n",
        grid(a2, 6).alias("a2_micro"),
        (a2 > F.lit(2.492)).alias("non_uniform"),
    )


def _ljung_sql(table: str, epoch_us: str, idiv: str) -> str:
    """Shared Spark/DuckDB SQL for `stat_ljung_box` (identical text
    modulo epoch fn and integer-div operator). Lags 1..5 via LEAD over
    the collapsed hourly table; each lag's products grid per term."""
    leads = ",\n         ".join(
        f"LEAD(yc, {k}) OVER (ORDER BY t) AS y{k}" for k in range(1, 6)
    )
    num = ",\n         ".join(
        f"CAST(SUM(CASE WHEN y{k} IS NULL THEN 0 ELSE yc * y{k} END) "
        f"AS BIGINT) AS n{k}" for k in range(1, 6)
    )
    rhos = ",\n       ".join(
        f"CAST({grid_sql(f'CAST(n{k} AS DOUBLE) / den', 6)} "
        f"AS BIGINT) AS rho{k}_micro" for k in range(1, 6)
    )
    qterms = " + ".join(
        f"(CAST(n{k} AS DOUBLE) / den) * (CAST(n{k} AS DOUBLE) / den) "
        f"/ (nn - {k})" for k in range(1, 6)
    )
    return f"""
WITH h AS ({_hourly_mean_sql(table, epoch_us, idiv, 6)}
),
m AS (
  SELECT CAST(SUM(y) AS BIGINT) {idiv} CAST(COUNT(*) AS BIGINT) AS mu
  FROM h
),
c AS (
  SELECT t, {grid_sql('(CAST(y AS DOUBLE) - mu) / 1000.0', 0)}
            AS yc
  FROM h CROSS JOIN m
),
lagged AS (
  SELECT t, yc,
         {leads}
  FROM c
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nn0,
         CAST(SUM(yc * yc) AS BIGINT) AS den0,
         {num}
  FROM lagged
),
q AS (
  SELECT nn0 AS nn, CAST(den0 AS DOUBLE) AS den,
         n1, n2, n3, n4, n5,
         CAST(nn0 AS DOUBLE) AS nd
  FROM sums
)
SELECT nn AS n,
       {rhos},
       {grid_sql(f'nd * (nd + 2.0) * ({qterms})', 6)} AS q_micro,
       nd * (nd + 2.0) * ({qterms}) > 11.07 AS autocorrelated
FROM q
"""


@register(
    "stat_ljung_box",
    oracle=_ljung_sql("events", "epoch_us", "//"),
)
def stat_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test over the first 5 autocorrelations of
    the hourly series — the is-it-white-noise gate run on model
    residuals before trusting any forecast (`stat_durbin_watson` sees
    only lag 1; `ts_autocorrelation` reports the ACF without a joint
    test). Q = n(n+2) * sum_k rho_k^2/(n-k), chi-squared(5) under the
    null; 11.07 = alpha 0.05. The series centers on its exact integer
    mean (int-div), centered values grid to milli BEFORE the lag
    products, so all five numerators and the shared denominator are
    exact longs off ONE window pass (5 LEADs in a single projection —
    one sort, not five). Spark builds the same kernel through the
    DataFrame API (converted from the shared-SQL-text form per VERDICT
    r8), the Q sum assembled in the oracle's exact left-to-right
    association order.

    100-TB posture: one data-sized rollup; one window pass over the
    collapsed hourly table.
    """
    ev = load_table(spark, sf_dir, "events")
    h = _hourly_mean(ev, 6)
    m = h.agg(
        F.expr(
            "CAST(sum(y) AS BIGINT) div CAST(count(1) AS BIGINT)"
        ).alias("mu")
    )
    c = h.crossJoin(F.broadcast(m)).select(
        "t",
        grid((F.col("y").cast("double") - F.col("mu")) / F.lit(1000.0), 0).alias("yc"),
    )
    w = Window.orderBy("t")
    lagged = c.select(
        "t", "yc",
        *[F.lead("yc", k).over(w).alias(f"y{k}") for k in range(1, 6)],
    )
    sums = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("nn0"),
        F.sum(F.col("yc") * F.col("yc")).cast("long").alias("den0"),
        *[
            F.sum(
                F.when(F.col(f"y{k}").isNull(), 0).otherwise(
                    F.col("yc") * F.col(f"y{k}")
                )
            ).cast("long").alias(f"n{k}")
            for k in range(1, 6)
        ],
    )
    den = F.col("den0").cast("double")
    nd = F.col("nn0").cast("double")
    qsum = None
    for k in range(1, 6):
        term = (
            (F.col(f"n{k}").cast("double") / den)
            * (F.col(f"n{k}").cast("double") / den)
            / (nd - F.lit(float(k)))
        )
        qsum = term if qsum is None else qsum + term
    qstat = nd * (nd + F.lit(2.0)) * qsum
    return sums.select(
        F.col("nn0").alias("n"),
        *[
            grid(F.col(f"n{k}").cast("double") / den, 6).alias(f"rho{k}_micro")
            for k in range(1, 6)
        ],
        grid(qstat, 6).alias("q_micro"),
        (qstat > F.lit(11.07)).alias("autocorrelated"),
    )


def _sampen_tpl_sql(table: str, epoch_us: str, idiv: str) -> str:
    """The (y, lead1, lead2) template table with the series stats and
    exact tolerance riding along — built ONCE (Spark materializes it
    via localCheckpoint; inlined as a CTE it would replay the rollup
    and window once per self-join side, the fisher lesson)."""
    return f"""
WITH h AS ({_hourly_mean_sql(table, epoch_us, idiv, 3)}
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS s,
         CAST(SUM(y * y) AS BIGINT) AS q
  FROM h
),
tol AS (
  SELECT n,
         {grid_sql('''0.2 * sqrt(CAST(q AS DOUBLE) / n
                               - (CAST(s AS DOUBLE) / n)
                                 * (CAST(s AS DOUBLE) / n))''', 0)} AS r
  FROM stats
)
SELECT h.t, h.y,
       LEAD(h.y, 1) OVER (ORDER BY h.t) AS y1,
       LEAD(h.y, 2) OVER (ORDER BY h.t) AS y2,
       tol.n, tol.r
FROM h CROSS JOIN tol
"""


def _sampen_main_sql(tpl: str) -> str:
    """SampEn counts + statistic off the materialized template table."""
    return f"""
WITH b2 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS b
  FROM {tpl} a JOIN {tpl} c ON a.t < c.t AND abs(a.y - c.y) <= a.r
                           AND abs(a.y1 - c.y1) <= a.r
  WHERE a.y1 IS NOT NULL AND c.y1 IS NOT NULL
),
a3 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS a
  FROM {tpl} a JOIN {tpl} c ON a.t < c.t AND abs(a.y - c.y) <= a.r
                           AND abs(a.y1 - c.y1) <= a.r
                           AND abs(a.y2 - c.y2) <= a.r
  WHERE a.y2 IS NOT NULL AND c.y2 IS NOT NULL
),
meta AS (SELECT MAX(n) AS n, MAX(r) AS r FROM {tpl})
SELECT meta.n, meta.r, b2.b, a3.a,
       CASE WHEN a3.a > 0 AND b2.b > 0
            THEN {grid_sql('-ln(CAST(a3.a AS DOUBLE) / b2.b)', 6)}
       END AS sampen_micro
FROM meta CROSS JOIN b2 CROSS JOIN a3
"""


@register(
    "ts_sample_entropy",
    oracle=(
        "WITH tpl AS MATERIALIZED ("
        + _sampen_tpl_sql("events", "epoch_us", "//")
        + "), "
        + _sampen_main_sql("tpl").lstrip()[len("WITH ") :]
    ),
)
def ts_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample entropy (m=2, r=0.2*sigma) of the hourly series — the
    amplitude-aware regularity measure (low = self-similar/periodic,
    high = unpredictable) complementing `ts_permutation_entropy`
    (amplitude-free ordinal patterns): SampEn = -ln(A/B), A/B = the
    conditional probability that templates matching for 2 steps still
    match at 3. The tolerance comes from exact integer power sums; the
    milli-gridded series makes every template comparison an integer
    predicate, so A and B are exact counts and the single ln is the
    only IEEE step.

    100-TB posture: one data-sized rollup; the template self-join runs
    over the COLLAPSED hourly table (|T|^2 pairs — at longer ranges
    pre-bucket templates by y div r and join adjacent buckets, turning
    the theta-join into an equi-join; documented, not needed at |T|
    ~1e3). Spark builds the same kernel through the DataFrame API
    (converted from the shared-SQL-text form per VERDICT r8 — the
    differential is stronger when the engines don't share a parser);
    the template table is localCheckpointed once so neither self-join
    side replays the rollup (the fisher lesson).
    """
    ev = load_table(spark, sf_dir, "events")
    h = _hourly_mean(ev, 3)
    sd = F.col("s").cast("double")
    tol = h.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("q"),
    ).select(
        "n",
        grid(
            F.lit(0.2)
            * F.sqrt(
                F.col("q").cast("double") / F.col("n")
                - (sd / F.col("n")) * (sd / F.col("n"))
            ),
            0,
        ).alias("r"),
    )
    w = Window.orderBy("t")
    tpl = (
        h.select(
            "t", "y",
            F.lead("y", 1).over(w).alias("y1"),
            F.lead("y", 2).over(w).alias("y2"),
        )
        .crossJoin(F.broadcast(tol))
        .localCheckpoint(eager=True)
    )

    def match_count(depth: int, alias: str):
        a, c = tpl.alias("a"), tpl.alias("c")
        cond = (
            (F.col("a.t") < F.col("c.t"))
            & (F.abs(F.col("a.y") - F.col("c.y")) <= F.col("a.r"))
            & (F.abs(F.col("a.y1") - F.col("c.y1")) <= F.col("a.r"))
        )
        last = f"y{depth}"
        if depth == 2:
            cond = cond & (
                F.abs(F.col("a.y2") - F.col("c.y2")) <= F.col("a.r")
            )
        return (
            a.join(c, cond)
            .where(
                F.col(f"a.{last}").isNotNull()
                & F.col(f"c.{last}").isNotNull()
            )
            .agg(F.count(F.lit(1)).cast("long").alias(alias))
        )

    meta = tpl.agg(F.max("n").alias("n"), F.max("r").alias("r"))
    b2, a3 = match_count(1, "b"), match_count(2, "a")
    return (
        meta.crossJoin(F.broadcast(b2))
        .crossJoin(F.broadcast(a3))
        .select(
            "n", "r", "b", "a",
            F.when(
                (F.col("a") > 0) & (F.col("b") > 0),
                grid(-F.log(F.col("a").cast("double") / F.col("b")), 6),
            ).alias("sampen_micro"),
        )
    )


def _bayes_counts_sql(table: str) -> str:
    """First-half vs second-half purchase counts (the
    stat_power_analysis 2x2, Bayesian edition)."""
    return f"""
SELECT CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                      AND event_type = 'purchase'
                     THEN 1 ELSE 0 END) AS BIGINT) AS x1,
       CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                      AND event_type = 'purchase'
                     THEN 1 ELSE 0 END) AS BIGINT) AS x2
FROM {table}
"""


def _bayes_lf_sql(counts: str, series: str) -> str:
    """Gridded log-factorial table over 0..n1+n2+2 (exact 1e-9-unit
    integers — the stat_fisher_exact machinery)."""
    return f"""
WITH ints AS (
  SELECT CAST(i AS BIGINT) AS i FROM ({series.format(src=counts)})
)
SELECT i,
       CAST(SUM(CASE WHEN i = 0 THEN 0
                     ELSE {grid_sql('ln(CAST(i AS DOUBLE))', 9)}
                END) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS lf9
FROM ints
"""


def _bayes_main_sql(counts: str, lf: str, grid: str) -> str:
    """Posterior comparison off materialized counts/lf/grid tables —
    identical text both engines."""
    return f"""
WITH norm AS (
  SELECT c.n1, c.x1, c.n2, c.x2,
         l1.lf9 - l2.lf9 - l3.lf9 AS lb1,
         m1.lf9 - m2.lf9 - m3.lf9 AS lb2
  FROM {counts} c
  JOIN {lf} l1 ON l1.i = c.n1 + 1
  JOIN {lf} l2 ON l2.i = c.x1
  JOIN {lf} l3 ON l3.i = c.n1 - c.x1
  JOIN {lf} m1 ON m1.i = c.n2 + 1
  JOIN {lf} m2 ON m2.i = c.x2
  JOIN {lf} m3 ON m3.i = c.n2 - c.x2
),
pdf AS (
  SELECT g.g, n.n1, n.x1, n.n2, n.x2,
         {grid_sql('''exp((CAST(n.lb1 AS DOUBLE)
                         + n.x1 * CAST(g.lnp9 AS BIGINT)
                         + (n.n1 - n.x1) * CAST(g.lnq9 AS BIGINT))
                        / 1000000000.0)''', 12)} AS f1_pico,
         {grid_sql('''exp((CAST(n.lb2 AS DOUBLE)
                         + n.x2 * CAST(g.lnp9 AS BIGINT)
                         + (n.n2 - n.x2) * CAST(g.lnq9 AS BIGINT))
                        / 1000000000.0)''', 12)} AS f2_pico
  FROM {grid} g CROSS JOIN norm n
),
cdf AS (
  SELECT g, n1, x1, n2, x2, f1_pico,
         CAST(COALESCE(SUM(f2_pico) OVER (ORDER BY g
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING), 0)
              + f2_pico AS BIGINT) AS cdf2_hi,
         f2_pico
  FROM pdf
),
terms AS (
  SELECT g, n1, x1, n2, x2,
         {grid_sql('''(CAST(f1_pico AS DOUBLE) / 1000000000000.0)
                    * ((CAST(cdf2_hi AS DOUBLE)
                        - 0.5 * CAST(f2_pico AS DOUBLE))
                       / 1000000000000.0 / 10000.0)
                    / 10000.0''', 12)} AS t_pico
  FROM cdf
)
SELECT MAX(n1) AS n1, MAX(x1) AS x1, MAX(n2) AS n2, MAX(x2) AS x2,
       {grid_sql('''(CAST(MAX(x1) AS DOUBLE) + 1.0)
                  / (MAX(n1) + 2.0)''', 6)}
         AS p1_mean_micro,
       {grid_sql('''(CAST(MAX(x2) AS DOUBLE) + 1.0)
                  / (MAX(n2) + 2.0)''', 6)}
         AS p2_mean_micro,
       {grid_sql('CAST(SUM(t_pico) AS DOUBLE) / 1000000.0', 0)} AS prob_p1_gt_p2_micro,
       CAST(SUM(t_pico) AS DOUBLE) / 1000000000000.0 > 0.95
         AS decisive
FROM terms
"""


@register(
    "stat_bayes_ab_posterior",
    oracle=(
        "WITH counts AS MATERIALIZED ("
        + _bayes_counts_sql("events")
        + "), lf AS MATERIALIZED ("
        + _bayes_lf_sql(
            "counts",
            "SELECT unnest(generate_series(0, "
            "(SELECT n1 + n2 + 2 FROM {src}))) AS i",
        )
        + "), grid AS MATERIALIZED ("
        "SELECT CAST(g AS BIGINT) AS g,"
        f" {grid_sql('ln(CAST(g AS DOUBLE) / 10000.0)', 9)} AS lnp9,"
        f" {grid_sql('ln(1.0 - CAST(g AS DOUBLE) / 10000.0)', 9)} AS lnq9"
        " FROM (SELECT unnest(generate_series(1, 9999)) AS g)"
        "), "
        + _bayes_main_sql("counts", "lf", "grid").lstrip()[len("WITH ") :]
    ),
)
def stat_bayes_ab_posterior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B comparison of the two half-month purchase rates:
    Beta(x+1, n-x+1) posteriors for each arm and the decision quantity
    P(p1 > p2) by a 9999-point midpoint sum of f1(p) * F2(p) — the
    probability-of-superiority readout an experimentation platform
    shows next to `stat_power_analysis`' frequentist z. Every
    transcendental is forced deterministic: Beta log-normalizers come
    from the gridded log-factorial table (integer posterior
    parameters), per-grid-point log-pdfs are exact integer
    combinations of 1e-9-gridded ln(p)/ln(1-p), the two exp() calls
    per point land on a 1e-12 grid, and the CDF + integral are exact
    long sums after that.

    100-TB posture: one data-sized conditional aggregate; the six
    log-factorial read-offs are conditional sums over a parallel range
    (r13 — Stirling swap documented at stat_fisher_exact); the grid is
    9999 rows. Spark materializes counts once via localCheckpoint (the
    fisher CTE-inlining lesson) and builds the whole kernel through the
    DataFrame API (converted from the four-temp-view spark.sql form per
    VERDICT r9 task 4).
    """
    ev = load_table(spark, sf_dir, "events")
    early = F.col("ts").cast("date") < F.lit("2024-01-16").cast("date")
    purch = F.col("event_type") == "purchase"
    counts = ev.agg(
        F.sum(F.when(early, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(early & purch, 1).otherwise(0)).cast("long")
        .alias("x1"),
        F.sum(F.when(~early, 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(~early & purch, 1).otherwise(0)).cast("long")
        .alias("x2"),
    ).localCheckpoint(eager=True)
    # r13: the lf table was built by exploding ONE sequence row (a
    # single task holding ~|events| longs) into a GLOBAL-order window
    # prefix sum (single partition — WindowExec's own "serious
    # performance degradation" warning), checkpointing ~|events| rows,
    # and then probing it with SIX separate joins, one per log-factorial
    # read-off point. But lf9(t) is just Σ_{0<i<=t} term(i): six
    # conditional SUMS over a parallel `spark.range` compute the six
    # read-offs in ONE map-side-combinable aggregate — no explode, no
    # global window, no checkpoint, no joins (guide §2.4). The collected
    # counts row (1 row, already materialized by its checkpoint) only
    # sizes the range; every value still computes from the events scan.
    _c = counts.first()
    ints = (
        spark.range(0, int(_c["n1"]) + int(_c["n2"]) + 3)
        .select(F.col("id").alias("i"))
    )
    term = F.when(
        F.col("i") == 0, F.lit(0).cast("long")
    ).otherwise(grid(F.log(F.col("i").cast("double")), 9))

    def _lf_at(bound, alias):
        return F.sum(
            F.when(F.col("i") <= bound, term).otherwise(F.lit(0).cast("long"))
        ).cast("long").alias(alias)

    lfsums = ints.crossJoin(F.broadcast(counts)).agg(
        _lf_at(F.col("n1") + 1, "l1_lf9"),
        _lf_at(F.col("x1"), "l2_lf9"),
        _lf_at(F.col("n1") - F.col("x1"), "l3_lf9"),
        _lf_at(F.col("n2") + 1, "m1_lf9"),
        _lf_at(F.col("x2"), "m2_lf9"),
        _lf_at(F.col("n2") - F.col("x2"), "m3_lf9"),
    )
    # lgrid is referenced exactly once (the pdf projection), so unlike
    # counts it needs no localCheckpoint — no plan subtree is replayed
    # by fan-out.
    lgrid = (
        counts.sparkSession.range(1, 10000)
        .select(F.col("id").cast("long").alias("g"))
        .select(
            "g",
            grid(F.log(F.col("g").cast("double") / F.lit(10000.0)), 9).alias("lnp9"),
            grid(
                F.log(F.lit(1.0) - F.col("g").cast("double") / F.lit(10000.0)), 9
            ).alias("lnq9"),
        )
    )

    norm = counts.crossJoin(F.broadcast(lfsums)).select(
        "n1", "x1", "n2", "x2",
        (F.col("l1_lf9") - F.col("l2_lf9") - F.col("l3_lf9"))
        .alias("lb1"),
        (F.col("m1_lf9") - F.col("m2_lf9") - F.col("m3_lf9"))
        .alias("lb2"),
    )
    pdf = lgrid.crossJoin(F.broadcast(norm)).select(
        "g", "n1", "x1", "n2", "x2",
        grid(
            F.exp(
                (
                    F.col("lb1").cast("double")
                    + F.col("x1") * F.col("lnp9").cast("long")
                    + (F.col("n1") - F.col("x1"))
                    * F.col("lnq9").cast("long")
                ) / F.lit(1e9)
            ),
            12,
        ).alias("f1_pico"),
        grid(
            F.exp(
                (
                    F.col("lb2").cast("double")
                    + F.col("x2") * F.col("lnp9").cast("long")
                    + (F.col("n2") - F.col("x2"))
                    * F.col("lnq9").cast("long")
                ) / F.lit(1e9)
            ),
            12,
        ).alias("f2_pico"),
    )
    cdf = pdf.select(
        "g", "n1", "x1", "n2", "x2", "f1_pico",
        (
            F.coalesce(
                F.sum("f2_pico").over(
                    Window.orderBy("g").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ) + F.col("f2_pico")
        ).cast("long").alias("cdf2_hi"),
        "f2_pico",
    )
    terms = cdf.select(
        "g", "n1", "x1", "n2", "x2",
        grid(
            (F.col("f1_pico").cast("double") / F.lit(1e12))
            * (
                (
                    F.col("cdf2_hi").cast("double")
                    - F.lit(0.5) * F.col("f2_pico").cast("double")
                ) / F.lit(1e12) / F.lit(10000.0)
            )
            / F.lit(10000.0),
            12,
        ).alias("t_pico"),
    )
    return terms.agg(
        F.max("n1").alias("n1"), F.max("x1").alias("x1"),
        F.max("n2").alias("n2"), F.max("x2").alias("x2"),
        grid(
            (F.max("x1").cast("double") + F.lit(1.0)) / (F.max("n1") + F.lit(2.0)), 6
        ).alias("p1_mean_micro"),
        grid(
            (F.max("x2").cast("double") + F.lit(1.0)) / (F.max("n2") + F.lit(2.0)), 6
        ).alias("p2_mean_micro"),
        grid(
            F.sum("t_pico").cast("double") / F.lit(1e6), 0
        ).alias("prob_p1_gt_p2_micro"),
        (F.sum("t_pico").cast("double") / F.lit(1e12) > F.lit(0.95))
        .alias("decisive"),
    )


@register(
    "stat_tost_equivalence",
    oracle=f"""
WITH agg AS (
  SELECT CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                        AND event_type = 'purchase'
                       THEN 1 ELSE 0 END) AS BIGINT) AS x1,
         CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                        AND event_type = 'purchase'
                       THEN 1 ELSE 0 END) AS BIGINT) AS x2
  FROM events
),
rates AS (
  SELECT n1, x1, n2, x2,
         CAST(x1 AS DOUBLE) / n1 AS p1,
         CAST(x2 AS DOUBLE) / n2 AS p2
  FROM agg
),
se AS (
  SELECT n1, x1, n2, x2, p1, p2,
         sqrt(p1 * (1.0 - p1) / n1 + p2 * (1.0 - p2) / n2) AS s
  FROM rates
),
z AS (
  SELECT n1, x1, n2, x2, p1, p2, s,
         ((p1 - p2) + 0.01) / s AS z_lower,
         (0.01 - (p1 - p2)) / s AS z_upper
  FROM se
)
SELECT n1, x1, n2, x2,
       {grid_sql('p1 - p2', 6)} AS diff_micro,
       {grid_sql('z_lower', 6)} AS z_lower_micro,
       {grid_sql('z_upper', 6)} AS z_upper_micro,
       z_lower > 1.644854 AND z_upper > 1.644854 AS equivalent
FROM z
""",
)
def stat_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (two one-sided tests) on the half-month
    purchase rates with a +/-1pp margin — the experimentation question
    `stat_power_analysis` and `stat_welch_ttest` DON'T answer: not "is
    there a difference" but "can we claim the arms are the SAME within
    a margin" (non-inferiority launches, infra migrations, holdback
    retirement). Both one-sided z statistics come off the same exact
    conditional aggregate; equivalence holds iff BOTH reject at
    alpha=0.05 (z > 1.644854), i.e. the 90% CI of the difference lies
    inside the margin.

    100-TB posture: one data-sized conditional aggregate, one row out.
    """
    ev = load_table(spark, sf_dir, "events")
    agg = ev.agg(
        F.sum(
            F.when(F.col("ts").cast("date") < F.lit("2024-01-16").cast("date"), 1)
            .otherwise(0)
        ).alias("n1"),
        F.sum(
            F.when(
                (F.col("ts").cast("date") < F.lit("2024-01-16").cast("date"))
                & (F.col("event_type") == "purchase"), 1
            ).otherwise(0)
        ).alias("x1"),
        F.sum(
            F.when(F.col("ts").cast("date") >= F.lit("2024-01-16").cast("date"), 1)
            .otherwise(0)
        ).alias("n2"),
        F.sum(
            F.when(
                (F.col("ts").cast("date") >= F.lit("2024-01-16").cast("date"))
                & (F.col("event_type") == "purchase"), 1
            ).otherwise(0)
        ).alias("x2"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    rates = agg.select(
        "n1", "x1", "n2", "x2", p1.alias("p1"), p2.alias("p2")
    )
    s = F.sqrt(
        F.col("p1") * (F.lit(1.0) - F.col("p1")) / F.col("n1")
        + F.col("p2") * (F.lit(1.0) - F.col("p2")) / F.col("n2")
    )
    se = rates.select("n1", "x1", "n2", "x2", "p1", "p2", s.alias("s"))
    zl = ((F.col("p1") - F.col("p2")) + F.lit(0.01)) / F.col("s")
    zu = (F.lit(0.01) - (F.col("p1") - F.col("p2"))) / F.col("s")
    z = se.select(
        "n1", "x1", "n2", "x2", "p1", "p2", "s",
        zl.alias("z_lower"), zu.alias("z_upper"),
    )
    return z.select(
        "n1", "x1", "n2", "x2",
        grid(F.col("p1") - F.col("p2"), 6).alias("diff_micro"),
        grid("z_lower", 6).alias("z_lower_micro"),
        grid("z_upper", 6).alias("z_upper_micro"),
        (
            (F.col("z_lower") > F.lit(1.644854))
            & (F.col("z_upper") > F.lit(1.644854))
        ).alias("equivalent"),
    )


@register(
    "events_cuped_variance_reduction",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                       THEN {grid_sql('value', 6)}
                       ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                       THEN {grid_sql('value', 6)}
                       ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY user_id
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38, 0)) * CAST(x AS DECIMAL(38, 0)))
              AS DECIMAL(38, 0)) AS sxx,
         CAST(SUM(CAST(x AS DECIMAL(38, 0)) * CAST(y AS DECIMAL(38, 0)))
              AS DECIMAL(38, 0)) AS sxy,
         CAST(SUM(CAST(y AS DECIMAL(38, 0)) * CAST(y AS DECIMAL(38, 0)))
              AS DECIMAL(38, 0)) AS syy
  FROM per_user
),
moments AS (
  SELECT n,
         CAST(sxx AS DOUBLE) / n
           - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) AS var_x,
         CAST(syy AS DOUBLE) / n
           - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS var_y,
         CAST(sxy AS DOUBLE) / n
           - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS cov_xy
  FROM sums
)
SELECT n,
       {grid_sql('cov_xy / var_x', 6)}
         AS theta_micro,
       {grid_sql('cov_xy / sqrt(var_x) / sqrt(var_y)', 6)} AS corr_micro,
       {grid_sql('''(1.0 - (cov_xy / sqrt(var_x) / sqrt(var_y))
                         * (cov_xy / sqrt(var_x) / sqrt(var_y)))''', 6)}
                       AS var_ratio_micro
FROM moments
""",
)
def events_cuped_variance_reduction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CUPED (controlled pre-experiment data) variance reduction: use
    each user's FIRST-half value as the covariate for their
    second-half metric, report the optimal theta = cov/var and the
    residual variance ratio 1 - rho^2 — the sensitivity multiplier
    every experimentation platform quotes ("CUPED cuts required sample
    size by X%"; composes directly with `stat_power_analysis`'
    n-per-arm). One per-user rollup builds covariate and metric in the
    same pass; all five moment sums are exact (micro-gridded values,
    DECIMAL(38) cross-products), so theta/rho are single IEEE
    divisions off exact state.

    100-TB posture: one hash aggregate keyed on user, one 5-long
    reduction — the mergeable-moments shape (agg_higher_moments).
    """
    ev = load_table(spark, sf_dir, "events")
    vmic = grid("value", 6)
    cut = F.col("ts").cast("date") < F.lit("2024-01-16").cast("date")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(cut, vmic).otherwise(0)).alias("x"),
        F.sum(F.when(~cut, vmic).otherwise(0)).alias("y"),
    )
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    sums = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("sxx"),
        F.sum(xd * yd).cast("decimal(38,0)").alias("sxy"),
        F.sum(yd * yd).cast("decimal(38,0)").alias("syy"),
    )
    mx = F.col("sx").cast("double") / F.col("n")
    my = F.col("sy").cast("double") / F.col("n")
    moments = sums.select(
        "n",
        (F.col("sxx").cast("double") / F.col("n") - mx * mx).alias("var_x"),
        (F.col("syy").cast("double") / F.col("n") - my * my).alias("var_y"),
        (F.col("sxy").cast("double") / F.col("n") - mx * my).alias("cov_xy"),
    )
    rho = (
        F.col("cov_xy") / F.sqrt(F.col("var_x")) / F.sqrt(F.col("var_y"))
    )
    return moments.select(
        "n",
        grid(F.col("cov_xy") / F.col("var_x"), 6).alias("theta_micro"),
        grid(rho, 6).alias("corr_micro"),
        grid(F.lit(1.0) - rho * rho, 6).alias("var_ratio_micro"),
    )


@register(
    "ml_woe_iv",
    oracle=f"""
WITH {_score_bins_sql("g")},
cum AS (
  SELECT bin, n, g,
         CAST(COALESCE(SUM(n) OVER (ORDER BY bin
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS BIGINT)
           AS cn_before,
         CAST(SUM(n) OVER () AS BIGINT) AS tn
  FROM bins
),
dec AS (
  SELECT (cn_before * 10) // tn AS decile,
         CAST(SUM(g) AS BIGINT) AS g,
         CAST(SUM(n) - SUM(g) AS BIGINT) AS b
  FROM cum GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(g) AS BIGINT) AS tg, CAST(SUM(b) AS BIGINT) AS tb
  FROM dec
),
woe AS (
  SELECT decile, g, b, tg, tb,
         CASE WHEN g > 0 AND b > 0
              THEN ln((CAST(g AS DOUBLE) / tg) / (CAST(b AS DOUBLE) / tb))
         END AS w
  FROM dec CROSS JOIN tot
),
terms AS (
  SELECT decile, g, b,
         {grid_sql('w', 6)} AS woe_micro,
         {grid_sql('(CAST(g AS DOUBLE) / tg - CAST(b AS DOUBLE) / tb) * w', 9)}
           AS iv_nano
  FROM woe
)
SELECT decile, g, b, woe_micro,
       CAST(SUM(iv_nano) OVER () AS BIGINT) AS iv_total_nano
FROM terms
ORDER BY decile
""",
)
def ml_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence binning and Information Value — the
    credit-scoring feature diagnostic (WoE_b = ln(good-share /
    bad-share), IV = sum of share-gap x WoE; IV < 0.02 useless,
    > 0.5 suspicious) that turns `ml_lift_curve`'s deciles into a
    monotonic-risk encoding ready for a scorecard. Deciles come from
    the collapsed score-bin cumulative (the lift machinery); WoE logs
    ride on exact count ratios and per-decile IV terms grid to 1e-9
    before the 10-row sum.

    100-TB posture: one data-sized hash aggregate; all downstream on
    the bounded bin/decile tables.
    """
    bins = _score_bins(spark, sf_dir, "g")
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = bins.select(
        "bin", "n", "g",
        F.coalesce(F.sum("n").over(wb), F.lit(0)).alias("cn_before"),
        F.sum("n").over(wall).alias("tn"),
    )
    dec = cum.groupBy(
        F.expr("(cn_before * 10) div tn").alias("decile")
    ).agg(
        F.sum("g").alias("g"),
        (F.sum("n") - F.sum("g")).alias("b"),
    )
    tot = dec.agg(F.sum("g").alias("tg"), F.sum("b").alias("tb"))
    gshare = F.col("g").cast("double") / F.col("tg")
    bshare = F.col("b").cast("double") / F.col("tb")
    # A decile with zero goods or zero bads has no finite WoE: DuckDB's
    # ln(0) hard-errors where Spark returns NULL (ADVICE r8) — guard
    # BOTH engines to NULL, the stat_mcnemar degenerate-cell discipline.
    woe = dec.crossJoin(F.broadcast(tot)).select(
        "decile", "g", "b", "tg", "tb",
        F.when(
            (F.col("g") > 0) & (F.col("b") > 0), F.log(gshare / bshare)
        ).alias("w"),
    )
    terms = woe.select(
        "decile", "g", "b",
        grid("w", 6).alias("woe_micro"),
        grid((gshare - bshare) * F.col("w"), 9).alias("iv_nano"),
    )
    return terms.select(
        "decile", "g", "b", "woe_micro",
        F.sum("iv_nano").over(wall).alias("iv_total_nano"),
    ).orderBy("decile")


@register(
    "ml_cox_one_step",
    oracle=f"""
WITH lr AS ({_logrank_sql("events", "epoch_us", "//", "MATERIALIZED")}),
est AS (
  SELECT o1_sum, e1_micro_sum, v_micro_sum, n_event_days,
         CAST(o1_sum * 1000000 - e1_micro_sum AS DOUBLE)
           / CAST(v_micro_sum AS DOUBLE) AS beta,
         1.0 / sqrt(CAST(v_micro_sum AS DOUBLE) / 1000000.0) AS se
  FROM lr
)
SELECT o1_sum, n_event_days,
       {grid_sql('beta', 6)} AS beta_micro,
       {grid_sql('se', 6)} AS se_micro,
       {grid_sql('exp(beta)', 6)}
         AS hazard_ratio_micro,
       {grid_sql('exp(beta - 1.959964 * se)', 6)}
         AS hr_ci_lo_micro,
       {grid_sql('exp(beta + 1.959964 * se)', 6)}
         AS hr_ci_hi_micro,
       abs(beta / se) > 1.959964 AS significant
FROM est
""",
)
def ml_cox_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step Cox proportional-hazards estimate for the binary
    first-click cohort covariate — the EFFECT SIZE (hazard ratio with
    a 95% CI) where `stat_logrank_test` only answers yes/no: at
    beta=0 the Cox partial-likelihood score is exactly the log-rank
    numerator U = sum(O1 - E1) and the information is the log-rank
    variance sum I, so the one-step Newton estimate beta = U/I,
    SE = 1/sqrt(I) falls out of the SAME exact micro-gridded risk-set
    sums — this operator is the documented identity applied to the
    shared kernel, not a second survival pass.

    100-TB posture: identical to stat_logrank_test (one data-sized
    user rollup, collapsed duration histogram, suffix-sum risk sets);
    the transform is five scalar IEEE ops.
    """
    lr = _logrank_df(spark, sf_dir)
    beta = (
        (F.col("o1_sum") * F.lit(1_000_000) - F.col("e1_micro_sum"))
        .cast("double") / F.col("v_micro_sum").cast("double")
    )
    se = F.lit(1.0) / F.sqrt(
        F.col("v_micro_sum").cast("double") / F.lit(1e6)
    )
    est = lr.select(
        "o1_sum", "n_event_days", beta.alias("beta"), se.alias("se")
    )
    return est.select(
        "o1_sum", "n_event_days",
        grid("beta", 6).alias("beta_micro"),
        grid("se", 6).alias("se_micro"),
        grid(F.exp(F.col("beta")), 6).alias("hazard_ratio_micro"),
        grid(
            F.exp(F.col("beta") - F.lit(1.959964) * F.col("se")), 6
        ).alias("hr_ci_lo_micro"),
        grid(
            F.exp(F.col("beta") + F.lit(1.959964) * F.col("se")), 6
        ).alias("hr_ci_hi_micro"),
        (F.abs(F.col("beta") / F.col("se")) > F.lit(1.959964))
        .alias("significant"),
    )


def _backtest_sql(table: str, epoch_us: str, idiv: str) -> str:
    """DuckDB oracle SQL for `ts_forecast_backtest` (the Spark side is
    a DataFrame-API build since r10). Three closed-form forecasters
    evaluated at horizon 1 over every rolling origin: naive (last
    value), drift (last + mean step), seasonal-naive (value 7 days
    back). Errors are exact integers off the micro-gridded series."""
    return f"""
WITH d AS (
  SELECT CAST({epoch_us}(ts) {idiv} 86400000000 AS BIGINT) AS t,
         CAST(SUM({grid_sql('value', 6)})
              AS BIGINT) {idiv} CAST(COUNT(*) AS BIGINT) AS y
  FROM {table} GROUP BY 1
),
rel AS (
  SELECT CAST(t - MIN(t) OVER () AS BIGINT) AS t, y FROM d
),
feats AS (
  SELECT t, y,
         LAG(y, 1) OVER (ORDER BY t) AS y_1,
         LAG(y, 2) OVER (ORDER BY t) AS y_2,
         LAG(y, 7) OVER (ORDER BY t) AS y_7,
         {grid_sql('''(CAST(LAG(y, 1) OVER (ORDER BY t) AS DOUBLE)
                     - FIRST_VALUE(y) OVER (ORDER BY t))
                    / (t - 1)''', 0)} AS step
  FROM rel
),
fc AS (
  SELECT t, y,
         y_1 AS f_naive,
         y_1 + step AS f_drift,
         y_7 AS f_seasonal
  FROM feats WHERE y_7 IS NOT NULL AND t >= 8
),
err AS (
  SELECT 'drift' AS method, abs(y - f_drift) AS ae,
         (y - f_drift) * (y - f_drift) AS se FROM fc
  UNION ALL
  SELECT 'naive' AS method, abs(y - f_naive) AS ae,
         (y - f_naive) * (y - f_naive) AS se FROM fc
  UNION ALL
  SELECT 'seasonal' AS method, abs(y - f_seasonal) AS ae,
         (y - f_seasonal) * (y - f_seasonal) AS se FROM fc
)
SELECT method,
       CAST(COUNT(*) AS BIGINT) AS n_origins,
       {grid_sql('CAST(SUM(ae) AS DOUBLE) / COUNT(*) / 1000.0', 0)} AS mae_milli,
       {grid_sql('sqrt(CAST(SUM(se) AS DOUBLE) / COUNT(*)) / 1000.0', 0)} AS rmse_milli
FROM err GROUP BY method
ORDER BY method
"""


@register(
    "ts_forecast_backtest",
    oracle=_backtest_sql("events", "epoch_us", "//"),
)
def ts_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast backtest — the model-selection harness
    behind `ts_forecast_eval_naive` (one method) and `ts_holt_linear`
    (one fit): every day ≥ 8 becomes a forecast origin, three
    closed-form forecasters (naive last-value, drift, seasonal-naive
    t-7) predict horizon 1, and MAE/RMSE rank them. The drift step
    uses the expanding-window mean step ((y_{t-1} - y_0)/(t-1)),
    floored to the integer grid, so every per-origin error is an exact
    long and the only IEEE steps are the two final ratios per method.

    100-TB posture: one data-sized rollup; LAG/FIRST_VALUE run over
    the collapsed daily table; the 3x method fan-out is a unionAll of
    projections, no re-scan (Spark reuses the window stage). Spark
    builds the kernel through the DataFrame API (converted from the
    shared-SQL-text form per VERDICT r9 task 4), double ops mirrored
    operand-for-operand against the unchanged DuckDB oracle.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.expr("CAST(unix_micros(ts) div 86400000000 AS BIGINT)")
        .alias("t")
    ).agg(
        F.expr(
            f"CAST(SUM({grid_sql('value', 6)})"
            " AS BIGINT) div CAST(COUNT(*) AS BIGINT)"
        ).alias("y")
    )
    rel = d.select(
        (F.col("t") - F.min("t").over(Window.partitionBy()))
        .cast("long").alias("t"),
        "y",
    )
    wt = Window.orderBy("t")
    lag1 = F.lag("y", 1).over(wt)
    feats = rel.select(
        "t", "y",
        lag1.alias("y_1"),
        F.lag("y", 2).over(wt).alias("y_2"),
        F.lag("y", 7).over(wt).alias("y_7"),
        grid(
            (lag1.cast("double") - F.first("y").over(wt)) / (F.col("t") - F.lit(1)), 0
        ).alias("step"),
    )
    fc = feats.filter(
        F.col("y_7").isNotNull() & (F.col("t") >= 8)
    ).select(
        "t", "y",
        F.col("y_1").alias("f_naive"),
        (F.col("y_1") + F.col("step")).alias("f_drift"),
        F.col("y_7").alias("f_seasonal"),
    )

    def _errs(method: str, f: str) -> DataFrame:
        e = F.col("y") - F.col(f)
        return fc.select(
            F.lit(method).alias("method"),
            F.abs(e).alias("ae"),
            (e * e).alias("se"),
        )

    err = (
        _errs("drift", "f_drift")
        .unionAll(_errs("naive", "f_naive"))
        .unionAll(_errs("seasonal", "f_seasonal"))
    )
    cnt = F.count(F.lit(1))
    return (
        err.groupBy("method")
        .agg(
            cnt.cast("long").alias("n_origins"),
            grid(
                F.sum("ae").cast("double") / cnt / F.lit(1000.0), 0
            ).alias("mae_milli"),
            grid(
                F.sqrt(F.sum("se").cast("double") / cnt) / F.lit(1000.0), 0
            ).alias("rmse_milli"),
        )
        .orderBy("method")
    )


@register(
    "stat_mcnemar",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         MAX(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-08'
                   AND event_type = 'purchase' THEN 1 ELSE 0 END) AS p1,
         MAX(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-08'
                   AND CAST(ts AS DATE) < DATE '2024-01-15'
                   AND event_type = 'purchase' THEN 1 ELSE 0 END) AS p2
  FROM events GROUP BY user_id
),
cells AS (
  SELECT CAST(SUM(CASE WHEN p1 = 1 AND p2 = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS a,
         CAST(SUM(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(SUM(CASE WHEN p1 = 0 AND p2 = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS c,
         CAST(SUM(CASE WHEN p1 = 0 AND p2 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS d
  FROM per_user
)
SELECT a, b, c, d,
       CASE WHEN b + c > 0 THEN
         {grid_sql('''(CAST(b AS DOUBLE) - c) * (CAST(b AS DOUBLE) - c)
                    / (CAST(b AS DOUBLE) + c)''', 6)}
       ELSE NULL END AS chi2_micro,
       CASE WHEN b + c > 0 THEN
         (CAST(b AS DOUBLE) - c) * (CAST(b AS DOUBLE) - c)
           / (CAST(b AS DOUBLE) + c) > 3.841
       ELSE NULL END AS reject
FROM cells
""",
)
def stat_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on PAIRED binary outcomes — did the same users'
    purchase behavior change between week 1 and week 2? The paired
    design cancels between-user variation that `stat_power_analysis`'
    unpaired two-proportion z cannot (only the b/c discordant cells
    carry signal; the concordant diagonal is noise both arms share).
    chi2 = (b-c)^2/(b+c) against chi-squared(1), 3.841 at alpha=0.05.
    One per-user rollup builds both period flags in the same pass; the
    2x2 is one 4-long reduction.

    100-TB posture: one user-keyed hash aggregate, one scalar row.
    """
    ev = load_table(spark, sf_dir, "events")
    w1 = F.col("ts").cast("date") < F.lit("2024-01-08").cast("date")
    w2 = (
        (F.col("ts").cast("date") >= F.lit("2024-01-08").cast("date"))
        & (F.col("ts").cast("date") < F.lit("2024-01-15").cast("date"))
    )
    isp = F.col("event_type") == "purchase"
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(w1 & isp, 1).otherwise(0)).alias("p1"),
        F.max(F.when(w2 & isp, 1).otherwise(0)).alias("p2"),
    )
    cells = per_user.agg(
        F.sum(F.when((F.col("p1") == 1) & (F.col("p2") == 1), 1).otherwise(0))
        .alias("a"),
        F.sum(F.when((F.col("p1") == 1) & (F.col("p2") == 0), 1).otherwise(0))
        .alias("b"),
        F.sum(F.when((F.col("p1") == 0) & (F.col("p2") == 1), 1).otherwise(0))
        .alias("c"),
        F.sum(F.when((F.col("p1") == 0) & (F.col("p2") == 0), 1).otherwise(0))
        .alias("d"),
    )
    chi2 = (
        (F.col("b").cast("double") - F.col("c"))
        * (F.col("b").cast("double") - F.col("c"))
        / (F.col("b").cast("double") + F.col("c"))
    )
    nonzero = F.col("b") + F.col("c") > 0
    return cells.select(
        "a", "b", "c", "d",
        F.when(
            nonzero,
            grid(chi2, 6),
        ).alias("chi2_micro"),
        F.when(nonzero, chi2 > F.lit(3.841)).alias("reject"),
    )


@register(
    "events_poisson_rate_test",
    oracle=f"""
WITH agg AS (
  SELECT CAST(SUM(CASE WHEN event_type = 'error'
                        AND CAST(ts AS DATE) < DATE '2024-01-16'
                       THEN 1 ELSE 0 END) AS BIGINT) AS x1,
         CAST(SUM(CASE WHEN event_type = 'error'
                        AND CAST(ts AS DATE) >= DATE '2024-01-16'
                       THEN 1 ELSE 0 END) AS BIGINT) AS x2,
         CAST((epoch_us(TIMESTAMP '2024-01-16 00:00:00')
               - epoch_us(MIN(ts))) // 3600000000 AS BIGINT) AS t1,
         CAST((epoch_us(MAX(ts))
               - epoch_us(TIMESTAMP '2024-01-16 00:00:00'))
              // 3600000000 AS BIGINT) AS t2
  FROM events
),
z AS (
  SELECT x1, x2, t1, t2,
         CASE WHEN x1 > 0 AND x2 > 0
              THEN ln((CAST(x1 AS DOUBLE) / t1) / (CAST(x2 AS DOUBLE) / t2))
                   / sqrt(1.0 / x1 + 1.0 / x2) END AS zstat,
         CASE WHEN x1 > 0 AND x2 > 0
              THEN (CAST(x1 AS DOUBLE) / t1) / (CAST(x2 AS DOUBLE) / t2)
         END AS rate_ratio
  FROM agg
)
SELECT x1, x2, t1, t2,
       {grid_sql('rate_ratio', 6)}
         AS rate_ratio_micro,
       {grid_sql('zstat', 6)} AS z_micro,
       abs(zstat) > 1.959964 AS rates_differ
FROM z
""",
)
def events_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson rate comparison for the error-event rate
    across the two half-months — the incident-rate question (counts
    per exposure TIME, not per trial) that the binomial tests
    (`stat_power_analysis`, `stat_mcnemar`) cannot pose: the log
    rate-ratio is approximately normal with variance 1/x1 + 1/x2, so
    one conditional aggregate yields counts, exposure hours and the
    test. Exposure uses the half-month boundary against observed
    min/max timestamps (exact integer hours).

    100-TB posture: one data-sized conditional aggregate, one row.
    """
    ev = load_table(spark, sf_dir, "events")
    cut_ts = F.lit("2024-01-16 00:00:00").cast("timestamp")
    iserr = F.col("event_type") == "error"
    before = F.col("ts").cast("date") < F.lit("2024-01-16").cast("date")
    agg = ev.agg(
        F.sum(F.when(iserr & before, 1).otherwise(0)).alias("x1"),
        F.sum(F.when(iserr & ~before, 1).otherwise(0)).alias("x2"),
        F.floor(
            (F.unix_micros(cut_ts) - F.unix_micros(F.min("ts")))
            / F.lit(3_600_000_000)
        ).cast("long").alias("t1"),
        F.floor(
            (F.unix_micros(F.max("ts")) - F.unix_micros(cut_ts))
            / F.lit(3_600_000_000)
        ).cast("long").alias("t2"),
    )
    r1 = F.col("x1").cast("double") / F.col("t1")
    r2 = F.col("x2").cast("double") / F.col("t2")
    # With zero errors in either half-month the log/1/x terms are
    # undefined: DuckDB's ln(0) hard-errors where Spark returns NULL
    # (ADVICE r8) — guard both engines to NULL.
    nonzero = (F.col("x1") > 0) & (F.col("x2") > 0)
    zstat = F.when(
        nonzero,
        F.log(r1 / r2) / F.sqrt(
            F.lit(1.0) / F.col("x1") + F.lit(1.0) / F.col("x2")
        ),
    )
    return agg.select(
        "x1", "x2", "t1", "t2",
        grid(F.when(nonzero, r1 / r2), 6).alias("rate_ratio_micro"),
        grid(zstat, 6).alias("z_micro"),
        (F.abs(zstat) > F.lit(1.959964)).alias("rates_differ"),
    )


@register(
    "stat_cochran_q",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         MAX(CASE WHEN CAST(ts AS DATE) BETWEEN DATE '2024-01-01'
                       AND DATE '2024-01-07'
                   AND event_type = 'purchase' THEN 1 ELSE 0 END) AS w1,
         MAX(CASE WHEN CAST(ts AS DATE) BETWEEN DATE '2024-01-08'
                       AND DATE '2024-01-14'
                   AND event_type = 'purchase' THEN 1 ELSE 0 END) AS w2,
         MAX(CASE WHEN CAST(ts AS DATE) BETWEEN DATE '2024-01-15'
                       AND DATE '2024-01-21'
                   AND event_type = 'purchase' THEN 1 ELSE 0 END) AS w3,
         MAX(CASE WHEN CAST(ts AS DATE) BETWEEN DATE '2024-01-22'
                       AND DATE '2024-01-28'
                   AND event_type = 'purchase' THEN 1 ELSE 0 END) AS w4
  FROM events GROUP BY user_id
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(w1) AS BIGINT) AS g1,
         CAST(SUM(w2) AS BIGINT) AS g2,
         CAST(SUM(w3) AS BIGINT) AS g3,
         CAST(SUM(w4) AS BIGINT) AS g4,
         CAST(SUM(w1 + w2 + w3 + w4) AS BIGINT) AS sl,
         CAST(SUM((w1 + w2 + w3 + w4) * (w1 + w2 + w3 + w4))
              AS BIGINT) AS sl2
  FROM per_user
),
q AS (
  SELECT n, g1, g2, g3, g4, sl, sl2,
         CASE WHEN 4 * sl - sl2 > 0 THEN
           3.0 * (4.0 * (CAST(g1 AS DOUBLE) * g1 + CAST(g2 AS DOUBLE) * g2
                         + CAST(g3 AS DOUBLE) * g3 + CAST(g4 AS DOUBLE) * g4)
                  - CAST(sl AS DOUBLE) * sl)
             / (4.0 * CAST(sl AS DOUBLE) - sl2)
         ELSE NULL END AS qstat
  FROM sums
)
SELECT n, g1, g2, g3, g4,
       {grid_sql('qstat', 6)} AS q_micro,
       qstat > 7.815 AS reject
FROM q
""",
)
def stat_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q — the k-treatment generalization of `stat_mcnemar`:
    do the SAME users' weekly purchase flags stay homogeneous across
    the month's four weeks? Q = (k-1)(k*sum(G_j^2) - T^2) /
    (k*T - sum(L_i^2)) with G_j = per-week successes and L_i = each
    user's success count — users with all-0 or all-k rows cancel out
    exactly as the statistic requires. One per-user rollup builds all
    four flags and both L-sums; Q is one scalar expression over 7
    exact longs (NULL-guarded when no discordance exists at tiny SF).
    7.815 = chi-squared(k-1=3) at alpha=0.05.

    100-TB posture: one user-keyed hash aggregate + one reduction.
    """
    ev = load_table(spark, sf_dir, "events")
    isp = F.col("event_type") == "purchase"
    d = F.col("ts").cast("date")

    def wk(lo, hi):
        return F.max(
            F.when(
                (d >= F.lit(lo).cast("date"))
                & (d <= F.lit(hi).cast("date"))
                & isp,
                1,
            ).otherwise(0)
        )

    per_user = ev.groupBy("user_id").agg(
        wk("2024-01-01", "2024-01-07").alias("w1"),
        wk("2024-01-08", "2024-01-14").alias("w2"),
        wk("2024-01-15", "2024-01-21").alias("w3"),
        wk("2024-01-22", "2024-01-28").alias("w4"),
    )
    li = F.col("w1") + F.col("w2") + F.col("w3") + F.col("w4")
    sums = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("w1").alias("g1"),
        F.sum("w2").alias("g2"),
        F.sum("w3").alias("g3"),
        F.sum("w4").alias("g4"),
        F.sum(li).alias("sl"),
        F.sum(li * li).alias("sl2"),
    )
    gsq = (
        F.lit(4.0)
        * (
            F.col("g1").cast("double") * F.col("g1")
            + F.col("g2").cast("double") * F.col("g2")
            + F.col("g3").cast("double") * F.col("g3")
            + F.col("g4").cast("double") * F.col("g4")
        )
        - F.col("sl").cast("double") * F.col("sl")
    )
    qstat = F.when(
        F.lit(4) * F.col("sl") - F.col("sl2") > 0,
        F.lit(3.0) * gsq
        / (F.lit(4.0) * F.col("sl").cast("double") - F.col("sl2")),
    )
    return sums.select(
        "n", "g1", "g2", "g3", "g4",
        grid(qstat, 6).alias("q_micro"),
        (qstat > F.lit(7.815)).alias("reject"),
    )


@register(
    "stat_dunn_posthoc",
    oracle=f"""
WITH {_RANK_SUMS_SQL},
tot AS (
  SELECT CAST(SUM(nj) AS BIGINT) AS n,
         (SELECT CAST(SUM(t * t * t - t) AS BIGINT) FROM t) AS ttsum
  FROM g
),
pairs AS (
  SELECT a.grp AS grp_a, b.grp AS grp_b,
         a.nj AS na, b.nj AS nb,
         CAST(a.rj2 AS DOUBLE) / 2.0 / a.nj
           - CAST(b.rj2 AS DOUBLE) / 2.0 / b.nj AS rdiff,
         tot.n, tot.ttsum
  FROM g a JOIN g b ON a.grp < b.grp CROSS JOIN tot
),
z AS (
  SELECT grp_a, grp_b, na, nb,
         rdiff / sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                        / 12.0
                       - CAST(ttsum AS DOUBLE)
                         / (12.0 * (CAST(n AS DOUBLE) - 1.0)))
                      * (1.0 / na + 1.0 / nb)) AS zval,
         rdiff
  FROM pairs
)
SELECT grp_a, grp_b, na, nb,
       {grid_sql('rdiff', 3)} AS rank_diff_milli,
       {grid_sql('zval', 6)} AS z_micro,
       abs(zval) > 2.394 AS reject_bonferroni
FROM z
ORDER BY grp_a, grp_b
""",
)
def stat_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc pairwise comparisons — WHICH groups differ once
    `stat_kruskal_wallis` says "some do": for every group pair, the
    mean-rank difference standardized by the tie-corrected KW variance
    (N(N+1)/12 - sum(t^3-t)/(12(N-1))) x (1/n_i + 1/n_j), with the
    Bonferroni cut for 3 pairwise tests (|z| > 2.394 = z at
    alpha = 0.05/6 two-sided). Re-derives the exact 2x-scaled tied
    rank sums from the same collapsed value-frequency algebra, so mean
    ranks are ratios of exact integers and the z is one double chain.

    100-TB posture: identical to stat_kruskal_wallis (two hash
    aggregates, collapsed-domain rank window); the pair table is
    k(k-1)/2 rows.
    """
    t, g = _rank_sums(spark, sf_dir)
    ties = t.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .alias("ttsum")
    )
    tot = g.agg(F.sum("nj").alias("n")).crossJoin(F.broadcast(ties))
    a = g.select(
        F.col("grp").alias("grp_a"), F.col("nj").alias("na"),
        F.col("rj2").alias("ra2"),
    )
    b = g.select(
        F.col("grp").alias("grp_b"), F.col("nj").alias("nb"),
        F.col("rj2").alias("rb2"),
    )
    rdiff = (
        F.col("ra2").cast("double") / F.lit(2.0) / F.col("na")
        - F.col("rb2").cast("double") / F.lit(2.0) / F.col("nb")
    )
    nd = F.col("n").cast("double")
    sigma = F.sqrt(
        (
            nd * (nd + F.lit(1.0)) / F.lit(12.0)
            - F.col("ttsum").cast("double")
            / (F.lit(12.0) * (nd - F.lit(1.0)))
        )
        * (F.lit(1.0) / F.col("na") + F.lit(1.0) / F.col("nb"))
    )
    pairs = (
        a.join(F.broadcast(b), F.col("grp_a") < F.col("grp_b"))
        .crossJoin(F.broadcast(tot))
        .select(
            "grp_a", "grp_b", "na", "nb",
            rdiff.alias("rdiff"),
            (rdiff / sigma).alias("zval"),
        )
    )
    return pairs.select(
        "grp_a", "grp_b", "na", "nb",
        grid("rdiff", 3).alias("rank_diff_milli"),
        grid("zval", 6).alias("z_micro"),
        (F.abs(F.col("zval")) > F.lit(2.394)).alias("reject_bonferroni"),
    ).orderBy("grp_a", "grp_b")


@register(
    "stat_page_trend",
    oracle=f"""
WITH cell AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(SUM({grid_sql('value', 6)})
              AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
kk AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k FROM events),
blocks AS (
  SELECT day FROM cell CROSS JOIN kk
  GROUP BY day, k HAVING COUNT(*) = MAX(k)
),
ranked AS (
  SELECT c.day, c.event_type,
         CAST(2 * RANK() OVER (PARTITION BY c.day ORDER BY c.y)
              + COUNT(*) OVER (PARTITION BY c.day, c.y) - 1
              AS BIGINT) AS r2
  FROM cell c JOIN blocks b ON c.day = b.day
),
g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nblocks,
         CAST(SUM(r2) AS BIGINT) AS rj2,
         CAST(ROW_NUMBER() OVER (ORDER BY event_type) AS BIGINT) AS j
  FROM ranked GROUP BY event_type
),
l AS (
  SELECT MAX(nblocks) AS n, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(j * rj2) AS BIGINT) AS l2
  FROM g
),
z AS (
  SELECT n, k, l2,
         (CAST(l2 AS DOUBLE) / 2.0
          - CAST(n AS DOUBLE) * k * (k + 1.0) * (k + 1.0) / 4.0)
         / sqrt(CAST(n AS DOUBLE) * k * k * (k + 1.0)
                * (CAST(k AS DOUBLE) * k - 1.0) / 144.0) AS zval
  FROM l
)
SELECT n, k, CAST(l2 // 2 AS BIGINT) AS page_l_x2_halved,
       {grid_sql('zval', 6)} AS z_micro,
       abs(zval) > 1.959964 AS monotone_trend
FROM z
""",
)
def stat_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L test for ordered alternatives — is there a MONOTONE
    trend in the within-day ranking across treatments in the
    alphabetical treatment order (the ordered-hypothesis sibling of
    `stat_friedman_test`, exactly as `stat_dunn_posthoc` refines
    `stat_kruskal_wallis`): L = sum_j j*R_j over the same exact
    2x-scaled within-block rank sums, z = (L - nk(k+1)^2/4) /
    sqrt(nk^2(k+1)(k^2-1)/144). Everything up to the final z is the
    Friedman kernel's exact integers; L2 = sum j*rj2 can be ODD when a
    day-block holds an even-sized rank tie (the tied cells' 2x-ranks go
    odd), so BOTH engines floor the halving identically — Spark `div`,
    DuckDB `//` (ADVICE r8: `CAST(l2 / 2 ...)` was double division with
    round-half-to-even, diverging by 1 on tied data).

    100-TB posture: identical to stat_friedman_test — one rollup to
    |days|x|types| cells, k-row per-block rank windows, a k-row
    reduction.
    """
    ev = load_table(spark, sf_dir, "events")
    cell = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(
        F.expr(
            f"CAST(sum({grid_sql('value', 6)}) "
            "AS BIGINT) div CAST(count(1) AS BIGINT)"
        ).alias("y")
    )
    kk = ev.agg(F.countDistinct("event_type").cast("long").alias("k"))
    blocks = (
        cell.crossJoin(F.broadcast(kk))
        .groupBy("day", "k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") == F.col("k"))
        .select("day")
    )
    wrank = Window.partitionBy("day").orderBy("y")
    wtie = Window.partitionBy("day", "y")
    ranked = cell.join(blocks, "day").select(
        "day", "event_type",
        (
            F.lit(2) * F.rank().over(wrank)
            + F.count(F.lit(1)).over(wtie) - F.lit(1)
        ).cast("long").alias("r2"),
    )
    g = (
        ranked.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("nblocks"),
            F.sum("r2").alias("rj2"),
        )
        .withColumn(
            "j",
            F.row_number().over(Window.orderBy("event_type")).cast("long"),
        )
    )
    l = g.agg(
        F.max("nblocks").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("j") * F.col("rj2")).alias("l2"),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    zval = (
        F.col("l2").cast("double") / F.lit(2.0)
        - nd * kd * (kd + F.lit(1.0)) * (kd + F.lit(1.0)) / F.lit(4.0)
    ) / F.sqrt(
        nd * kd * kd * (kd + F.lit(1.0))
        * (kd * kd - F.lit(1.0)) / F.lit(144.0)
    )
    return l.select(
        "n", "k",
        F.expr("CAST(l2 div 2 AS BIGINT)").alias("page_l_x2_halved"),
        grid(zval, 6).alias("z_micro"),
        (F.abs(zval) > F.lit(1.959964)).alias("monotone_trend"),
    )


@register(
    "ts_mann_kendall",
    oracle=f"""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM({grid_sql('value', 6)})
              AS BIGINT) AS y
  FROM events GROUP BY 1
),
s AS (
  SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
                       WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT)
           AS s_stat
  FROM d a JOIN d b ON a.day < b.day
),
ties AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
           AS tie_term
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM d GROUP BY y) g
  WHERE t > 1
),
v AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n,
         s.s_stat,
         ties.tie_term
  FROM s CROSS JOIN ties
),
z AS (
  SELECT n, s_stat,
         n * (n - 1) * (2 * n + 5) - tie_term AS var18,
         CASE WHEN s_stat > 0 THEN
                (CAST(s_stat AS DOUBLE) - 1.0)
                / sqrt((CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5)
                        - CAST(tie_term AS DOUBLE)) / 18.0)
              WHEN s_stat < 0 THEN
                (CAST(s_stat AS DOUBLE) + 1.0)
                / sqrt((CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5)
                        - CAST(tie_term AS DOUBLE)) / 18.0)
              ELSE 0.0 END AS zval
  FROM v
)
SELECT n, s_stat, var18,
       {grid_sql('zval', 6)} AS z_micro,
       abs(zval) > 1.959964 AS monotonic_trend
FROM z
""",
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the daily value series — the
    nonparametric SIGNIFICANCE question (`is there any monotonic
    trend?`) whose slope companion is `ts_theil_sen` and whose
    seasonal/rank siblings are `stat_page_trend` (across treatments)
    and `stat_runs_test` (any non-randomness): S = sum over day pairs
    of sign(y_j - y_i), Var(S) = [n(n-1)(2n+5) - sum t(t-1)(2t+5)]/18
    with the exact tie correction, z with the +/-1 continuity
    correction. S, the tie term and 18*Var are exact integers; the
    single division/sqrt runs on identical exact operands in both
    engines.

    100-TB posture: one data-sized rollup to |days| exact daily sums;
    the pair join and tie grouping run on the COLLAPSED daily table
    (|D|^2/2 integer comparisons — at multi-year ranges switch to the
    O(n log n) merge-count formulation over a sorted window, same
    output contract).
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(grid("value", 6)).cast("long").alias("y")
    )
    a = d.select(F.col("day").alias("da"), F.col("y").alias("ya"))
    b = d.select(F.col("day").alias("db"), F.col("y").alias("yb"))
    s = a.join(b, F.col("da") < F.col("db")).agg(
        F.sum(
            F.when(F.col("yb") > F.col("ya"), 1)
            .when(F.col("yb") < F.col("ya"), -1)
            .otherwise(0)
        ).cast("long").alias("s_stat")
    )
    t = F.col("t")
    ties = (
        d.groupBy("y").agg(F.count(F.lit(1)).cast("long").alias("t"))
        .where(t > 1)
        .agg(
            F.coalesce(
                F.sum(t * (t - 1) * (F.lit(2) * t + F.lit(5))), F.lit(0)
            ).cast("long").alias("tie_term")
        )
    )
    n_row = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    v = n_row.crossJoin(F.broadcast(s)).crossJoin(F.broadcast(ties))
    nd = F.col("n").cast("double")
    sd = F.col("s_stat").cast("double")
    sigma = F.sqrt(
        (
            nd * (nd - F.lit(1.0)) * (F.lit(2.0) * nd + F.lit(5.0))
            - F.col("tie_term").cast("double")
        ) / F.lit(18.0)
    )
    zval = (
        F.when(F.col("s_stat") > 0, (sd - F.lit(1.0)) / sigma)
        .when(F.col("s_stat") < 0, (sd + F.lit(1.0)) / sigma)
        .otherwise(F.lit(0.0))
    )
    return v.select(
        "n", "s_stat",
        (
            F.col("n") * (F.col("n") - 1)
            * (F.lit(2) * F.col("n") + F.lit(5))
            - F.col("tie_term")
        ).alias("var18"),
        grid(zval, 6).alias("z_micro"),
        (F.abs(zval) > F.lit(1.959964)).alias("monotonic_trend"),
    )


@register(
    "stat_bartlett",
    oracle=f"""
WITH base AS (
  SELECT o_orderpriority AS grp,
         {grid_sql('o_totalprice', 2)} AS cents
  FROM orders
),
gs AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS nj,
         CAST(SUM(cents) AS BIGINT) AS sj,
         SUM(CAST(cents AS DECIMAL(18,0)) * CAST(cents AS DECIMAL(18,0)))
           AS qj
  FROM base GROUP BY grp
),
anch AS (
  SELECT grp, nj, qj, sj // nj AS mj, sj - (sj // nj) * nj AS rj
  FROM gs
),
pg AS (
  SELECT grp, nj,
         CAST(CAST(qj AS HUGEINT) - CAST(mj AS HUGEINT) * mj * nj
              - 2 * CAST(mj AS HUGEINT) * rj AS DECIMAL(38,0)) AS dj,
         CAST(CAST(rj AS HUGEINT) * rj * 1000000000 // nj AS BIGINT)
           AS rq_nano
  FROM anch
),
terms AS (
  SELECT nj, dj, rq_nano,
         {grid_sql('''(CAST(nj AS DOUBLE) - 1.0)
              * ln((CAST(dj AS DOUBLE)
                    - CAST(rq_nano AS DOUBLE) / 1000000000.0)
                   / (CAST(nj AS DOUBLE) - 1.0))''', 6)} AS lnterm_micro,
         {grid_sql('1000000000.0 / (CAST(nj AS DOUBLE) - 1.0)', 0)} AS inv_nano
  FROM pg
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(nj) AS BIGINT) AS n,
         SUM(dj) AS dsum,
         CAST(SUM(rq_nano) AS BIGINT) AS rqsum_nano,
         CAST(SUM(lnterm_micro) AS BIGINT) AS lsum_micro,
         CAST(SUM(inv_nano) AS BIGINT) AS isum_nano
  FROM terms
),
tt AS (
  SELECT k, n,
         ((CAST(n AS DOUBLE) - k)
            * ln((CAST(dsum AS DOUBLE)
                  - CAST(rqsum_nano AS DOUBLE) / 1000000000.0)
                 / (CAST(n AS DOUBLE) - k))
          - CAST(lsum_micro AS DOUBLE) / 1000000.0)
         / (1.0 + (CAST(isum_nano AS DOUBLE) / 1000000000.0
                   - 1.0 / (CAST(n AS DOUBLE) - k))
                  / (3.0 * (CAST(k AS DOUBLE) - 1.0))) AS t_stat
  FROM tot
)
SELECT k, n, {grid_sql('t_stat', 6)} AS t_micro,
       t_stat > 9.488 AS unequal_variance
FROM tt
""",
)
def stat_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test for equal variances across order-priority
    groups — the PARAMETRIC (normality-assuming, variance-based)
    companion to `stat_levene`'s robust median-deviation test; when
    both are registered a user can see the classic disagreement on
    heavy-tailed data. T = [(n-k) ln s2_pooled - sum (nj-1) ln s2_j]
    / C with C = 1 + (sum 1/(nj-1) - 1/(n-k)) / (3(k-1)).

    Determinism (ADVICE r9 fix): the old bj = sj²/nj decimal lane was
    NOT engine-exact — DuckDB evaluates DECIMAL(28,0)*DECIMAL(28,0)/
    DECIMAL(18,0) as DOUBLE while Spark keeps decimal(38,6). Replaced
    by an anchor decomposition: with mj = sj div nj and
    rj = sj - mj*nj (0 <= rj < nj),  qj - sj²/nj = dj - rj²/nj  where
    dj = qj - mj²*nj - 2*mj*rj is an EXACT integer (DECIMAL(38,0) /
    HUGEINT in the two engines) and rj²/nj is gridded to a nano
    integer via exact integral division BEFORE any cross-row sum. So
    every k-row reduction (dsum, rqsum_nano, lnterm_micro, inv_nano)
    sums exact integers — no float summation order and no decimal-
    typing divergence exists anywhere; each group's (nj-1)·ln(s2_j)
    is micro-gridded off those same exact inputs. 9.488 = chi2(k-1=4)
    at alpha=0.05.

    100-TB posture: one data-sized hash aggregate; everything after
    runs on the k-row group table. Overflow ledger: dj <= qj <
    rows·cents² — DECIMAL(38,0) holds it to ~1e38 (sf1000-safe);
    rj²·1e9 < nj²·1e9 stays inside DECIMAL(38,0) for any nj, and
    rq_nano < nj·1e9 fits BIGINT for nj < 9e9 rows per group.
    """
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        grid("o_totalprice", 2).alias("cents"),
    )
    cdec = F.col("cents").cast("decimal(18,0)")
    gs = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("nj"),
        F.sum("cents").cast("long").alias("sj"),
        F.sum(cdec * cdec).alias("qj"),
    )
    anch = gs.select(
        "grp", "nj", "qj",
        F.expr("sj div nj").alias("mj"),
        F.expr("sj - (sj div nj) * nj").alias("rj"),
    )
    mjd = F.col("mj").cast("decimal(38,0)")
    pg = anch.select(
        "grp", "nj",
        (
            F.col("qj").cast("decimal(38,0)")
            - mjd * F.col("mj") * F.col("nj")
            - F.lit(2).cast("decimal(38,0)") * F.col("mj") * F.col("rj")
        ).cast("decimal(38,0)").alias("dj"),
        F.expr(
            "CAST((CAST(rj AS DECIMAL(38,0)) * rj * 1000000000) div nj"
            " AS BIGINT)"
        ).alias("rq_nano"),
    )
    njd = F.col("nj").cast("double")
    s2 = (
        F.col("dj").cast("double")
        - F.col("rq_nano").cast("double") / F.lit(1e9)
    ) / (njd - F.lit(1.0))
    terms = pg.select(
        "nj", "dj", "rq_nano",
        grid((njd - F.lit(1.0)) * F.log(s2), 6).alias("lnterm_micro"),
        grid(F.lit(1e9) / (njd - F.lit(1.0)), 0).alias("inv_nano"),
    )
    tot = terms.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("nj").cast("long").alias("n"),
        F.sum("dj").alias("dsum"),
        F.sum("rq_nano").cast("long").alias("rqsum_nano"),
        F.sum("lnterm_micro").cast("long").alias("lsum_micro"),
        F.sum("inv_nano").cast("long").alias("isum_nano"),
    )
    ndd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    t_stat = (
        (ndd - kd)
        * F.log(
            (
                F.col("dsum").cast("double")
                - F.col("rqsum_nano").cast("double") / F.lit(1e9)
            )
            / (ndd - kd)
        )
        - F.col("lsum_micro").cast("double") / F.lit(1e6)
    ) / (
        F.lit(1.0)
        + (
            F.col("isum_nano").cast("double") / F.lit(1e9)
            - F.lit(1.0) / (ndd - kd)
        ) / (F.lit(3.0) * (kd - F.lit(1.0)))
    )
    return tot.select(
        "k", "n",
        grid(t_stat, 6).alias("t_micro"),
        (t_stat > F.lit(9.488)).alias("unequal_variance"),
    )


@register(
    "stat_breusch_pagan",
    oracle=f"""
WITH d AS MATERIALIZED (
  SELECT date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
           AS x,
         CAST(SUM({grid_sql('o_totalprice', 0)}) AS BIGINT)
           AS y
  FROM orders GROUP BY 1
),
s AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM d
),
coef AS MATERIALIZED (
  SELECT n, sx, sxx,
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS beta,
         CAST(sy AS DOUBLE) / n AS ybar,
         CAST(sx AS DOUBLE) / n AS xbar
  FROM s
),
bx AS MATERIALIZED (
  SELECT d.x, d.y, coef.beta * CAST(d.x AS DOUBLE) AS bxv,
         coef.ybar - coef.beta * coef.xbar AS alpha
  FROM d CROSS JOIN coef
),
g AS MATERIALIZED (
  SELECT x,
         {grid_sql('''(CAST(y AS DOUBLE) - alpha - bxv)
                    * (CAST(y AS DOUBLE) - alpha - bxv)
                    / 1000000.0''', 0)} AS gg
  FROM bx
),
aux AS (
  SELECT CAST(SUM(gg) AS BIGINT) AS sg,
         CAST(SUM(x * gg) AS BIGINT) AS sxg,
         SUM(CAST(gg AS DECIMAL(18,0)) * CAST(gg AS DECIMAL(18,0))) AS sgg
  FROM g
),
lm AS (
  SELECT s.n, coef.beta,
         CAST(s.n AS DOUBLE)
           * ((CAST(s.n AS DOUBLE) * aux.sxg
               - CAST(s.sx AS DOUBLE) * aux.sg)
              * (CAST(s.n AS DOUBLE) * aux.sxg
                 - CAST(s.sx AS DOUBLE) * aux.sg))
           / ((CAST(s.n AS DOUBLE) * s.sxx
               - CAST(s.sx AS DOUBLE) * s.sx)
              * (CAST(s.n AS DOUBLE) * CAST(aux.sgg AS DOUBLE)
                 - CAST(aux.sg AS DOUBLE) * aux.sg)) AS lm_stat
  FROM s CROSS JOIN coef CROSS JOIN aux
)
SELECT n AS n_days,
       {grid_sql('beta', 6)} AS beta_micro,
       {grid_sql('lm_stat', 6)} AS lm_micro,
       lm_stat > 3.841 AS heteroscedastic
FROM lm
""",
)
def stat_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan heteroscedasticity test on the daily-revenue OLS
    trend — does residual VARIANCE drift with the regressor? The
    diagnostic that tells a forecaster whether `win_rolling_regression_
    slope`-style fits need robust errors. LM = n.R2 of the auxiliary
    regression of squared residuals on x; reject at chi2(1) = 3.841.

    Determinism: the trend fit rides on exact long sufficient sums
    (daily revenue in whole DOLLARS keeps every sum, including
    sum(x*y), inside 2^53 at the 10x fixture — the overflow ledger);
    per-day squared residuals are GRIDDED to exact longs (floor(e^2 /
    1e6)) before the auxiliary sums, so no cross-row float order
    exists; beta*x is MATERIALIZED as its own column before the
    subtraction to keep DuckDB from FMA-contracting `y - alpha -
    beta*x` (the dq_benford lesson, SCALE.md). R2 assembles from
    exact sums in mirrored double ops.

    100-TB posture: one data-sized rollup to |days| rows; the fit,
    residual pass and auxiliary sums all run on the collapsed daily
    table; two 1-row broadcasts.
    """
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1995-01-01").cast("date"),
        ).alias("x")
    ).agg(
        F.sum(grid("o_totalprice", 0)).cast("long").alias("y")
    ).localCheckpoint(eager=True)
    s = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    beta = (
        nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    ) / (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
    coef = s.select(
        "n", "sx", "sxx",
        beta.alias("beta"),
        (F.col("sy").cast("double") / F.col("n")).alias("ybar"),
        (F.col("sx").cast("double") / F.col("n")).alias("xbar"),
    )
    bx = d.crossJoin(F.broadcast(coef)).select(
        "x", "y",
        (F.col("beta") * F.col("x").cast("double")).alias("bxv"),
        (F.col("ybar") - F.col("beta") * F.col("xbar")).alias("alpha"),
    )
    resid = F.col("y").cast("double") - F.col("alpha") - F.col("bxv")
    g = bx.select(
        "x",
        grid(resid * resid / F.lit(1e6), 0).alias("gg"),
    )
    gdec = F.col("gg").cast("decimal(18,0)")
    aux = g.agg(
        F.sum("gg").cast("long").alias("sg"),
        F.sum(F.col("x") * F.col("gg")).cast("long").alias("sxg"),
        F.sum(gdec * gdec).alias("sgg"),
    )
    both = s.crossJoin(F.broadcast(coef.select("beta"))).crossJoin(
        F.broadcast(aux)
    )
    num = nd * F.col("sxg") - F.col("sx").cast("double") * F.col("sg")
    lm_stat = (
        nd * (num * num)
        / (
            (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
            * (
                nd * F.col("sgg").cast("double")
                - F.col("sg").cast("double") * F.col("sg")
            )
        )
    )
    return both.select(
        F.col("n").alias("n_days"),
        grid("beta", 6).alias("beta_micro"),
        grid(lm_stat, 6).alias("lm_micro"),
        (lm_stat > F.lit(3.841)).alias("heteroscedastic"),
    )


@register(
    "ts_adf_unitroot",
    oracle=f"""
WITH h AS MATERIALIZED ({_hourly_mean_sql("events", "epoch_us", "//", 3)}
),
pairs AS MATERIALIZED (
  SELECT t, y, LAG(y) OVER (ORDER BY t) AS yl FROM h
),
p AS MATERIALIZED (
  SELECT t, yl, y - yl AS dy FROM pairs WHERE yl IS NOT NULL
),
s AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(yl) AS BIGINT) AS sx,
         CAST(SUM(dy) AS BIGINT) AS sy,
         CAST(SUM(yl * yl) AS BIGINT) AS sxx,
         CAST(SUM(yl * dy) AS BIGINT) AS sxy
  FROM p
),
coef AS MATERIALIZED (
  SELECT n, sx, sxx,
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS rho,
         CAST(sy AS DOUBLE) / n AS dybar,
         CAST(sx AS DOUBLE) / n AS xbar
  FROM s
),
rx AS MATERIALIZED (
  SELECT p.t, p.yl, p.dy, coef.rho * CAST(p.yl AS DOUBLE) AS rxv,
         coef.dybar - coef.rho * coef.xbar AS alpha
  FROM p CROSS JOIN coef
),
e AS MATERIALIZED (
  SELECT {grid_sql('''(CAST(dy AS DOUBLE) - alpha - rxv)
                    * (CAST(dy AS DOUBLE) - alpha - rxv)''', 0)} AS e2
  FROM rx
),
tstat AS (
  SELECT s.n, coef.rho,
         coef.rho / sqrt((CAST(SUM(e.e2) AS DOUBLE) / (s.n - 2.0))
                         / ((CAST(s.n AS DOUBLE) * s.sxx
                             - CAST(s.sx AS DOUBLE) * s.sx) / s.n))
           AS t_stat
  FROM e CROSS JOIN s CROSS JOIN coef
  GROUP BY s.n, coef.rho, s.sxx, s.sx
)
SELECT n,
       {grid_sql('rho', 6)} AS rho_micro,
       {grid_sql('t_stat', 6)} AS t_micro,
       t_stat < -2.86 AS stationary
FROM tstat
""",
)
def ts_adf_unitroot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root test on the hourly series — the
    IS-IT-STATIONARY gate every forecasting pipeline runs before
    trusting an AR fit (`ts_pacf_durbin`, `ts_holt_linear`): regress
    delta-y on lagged level, and if rho's t-statistic clears the DF
    critical value (-2.86 at 5%, intercept case) the level reverts
    rather than wanders. This is the DF(0) rung of the ladder whose
    residual-based sibling is `ts_cointegration_egr`'s Engle-Granger
    step (unit root OF A SPREAD); here the question is asked of the
    raw series itself.

    Determinism: milli-gridded hourly means make yl/dy exact longs
    (sum(yl*yl) <= ~1.8e14 at 744 hours — inside 2^53, the overflow
    ledger); the OLS rides exact sums; rho*yl is MATERIALIZED before
    the subtraction (the FMA lesson) and squared residuals grid to
    exact longs before summation, so no cross-row float order exists.

    100-TB posture: one data-sized rollup; the lag window and
    residual pass run on the collapsed hourly table.
    """
    ev = load_table(spark, sf_dir, "events")
    h = _hourly_mean(ev, 3)
    w = Window.orderBy("t")
    p = (
        h.select("t", "y", F.lag("y").over(w).alias("yl"))
        .where(F.col("yl").isNotNull())
        .select("t", "yl", (F.col("y") - F.col("yl")).alias("dy"))
        .localCheckpoint(eager=True)
    )
    s = p.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("yl").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("yl") * F.col("yl")).cast("long").alias("sxx"),
        F.sum(F.col("yl") * F.col("dy")).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    rho = (
        nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    ) / (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
    coef = s.select(
        "n", "sx", "sxx",
        rho.alias("rho"),
        (F.col("sy").cast("double") / F.col("n")).alias("dybar"),
        (F.col("sx").cast("double") / F.col("n")).alias("xbar"),
    )
    rx = p.crossJoin(F.broadcast(coef)).select(
        "dy",
        (F.col("rho") * F.col("yl").cast("double")).alias("rxv"),
        (F.col("dybar") - F.col("rho") * F.col("xbar")).alias("alpha"),
    )
    resid = F.col("dy").cast("double") - F.col("alpha") - F.col("rxv")
    e2sum = rx.agg(
        F.sum(grid(resid * resid, 0)).cast("long").alias("se2")
    )
    both = e2sum.crossJoin(F.broadcast(coef))
    ndd = F.col("n").cast("double")
    t_stat = F.col("rho") / F.sqrt(
        (F.col("se2").cast("double") / (ndd - F.lit(2.0)))
        / (
            (ndd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
            / F.col("n")
        )
    )
    return both.select(
        "n",
        grid("rho", 6).alias("rho_micro"),
        grid(t_stat, 6).alias("t_micro"),
        (t_stat < F.lit(-2.86)).alias("stationary"),
    )


#: ml_pinball_loss: evaluated quantile levels (x10 integers) and the
#: train/test day boundary.
_PINBALL_TAUS_X10 = (5, 9)
_PINBALL_CUT = "2024-01-16"


@register(
    "ml_pinball_loss",
    oracle=f"""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM({grid_sql('value', 6)})
              AS BIGINT) AS y
  FROM events GROUP BY 1
),
train AS (
  SELECT list_sort(list(y)) AS ys, CAST(COUNT(*) AS BIGINT) AS n
  FROM d WHERE day < DATE '{_PINBALL_CUT}'
),
qs AS (
  SELECT CAST(u AS BIGINT) AS tau_x10,
         list_extract(ys, CAST(ceil(u * n / 10.0) AS BIGINT)) AS q
  FROM (SELECT unnest([{", ".join(str(t) for t in _PINBALL_TAUS_X10)}])
        AS u) CROSS JOIN train
)
SELECT q.tau_x10, q.q AS q_forecast,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN d.y > q.q THEN q.tau_x10 * (d.y - q.q)
                     ELSE (10 - q.tau_x10) * (q.q - d.y) END)
            AS BIGINT) AS pinball_x10_total
FROM d CROSS JOIN qs q
WHERE d.day >= DATE '{_PINBALL_CUT}'
GROUP BY q.tau_x10, q.q
ORDER BY q.tau_x10
""",
)
def ml_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss — the scoring rule for QUANTILE
    forecasts that `ts_forecast_backtest`'s point-forecast MAE cannot
    grade: forecast the second half-month's daily totals with the
    first half's empirical p50/p90 (Type-1 order-statistic quantile:
    smallest value with rank >= ceil(tau*n), exact integer by
    construction), then score each test day with the asymmetric hinge
    tau*(y-q) over / (1-tau)*(q-y) under, both scaled x10 so every
    term is an exact integer. A well-calibrated p90 eats 9x penalty
    for overshooting days it should rarely undershoot — the loss a
    capacity planner actually minimizes.

    100-TB posture: one data-sized rollup to |days|; the train-half
    sorted list is |train days| in one reducer (swap for the two-pass
    CDF quantile at longer ranges); test scoring is a broadcast of 2
    quantile rows against the collapsed daily table.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(grid("value", 6)).cast("long").alias("y")
    )
    cut = F.lit(_PINBALL_CUT).cast("date")
    train = d.where(F.col("day") < cut).agg(
        F.sort_array(F.collect_list("y")).alias("ys"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    taus = F.explode(
        F.array(*[F.lit(t) for t in _PINBALL_TAUS_X10])
    ).alias("tau_x10")
    qs = train.select(taus, "ys", "n").select(
        F.col("tau_x10").cast("long").alias("tau_x10"),
        F.element_at(
            "ys",
            F.ceil(F.col("tau_x10") * F.col("n") / F.lit(10.0))
            .cast("int"),
        ).alias("q"),
    )
    test = d.where(F.col("day") >= cut)
    joined = test.crossJoin(F.broadcast(qs))
    over = F.col("y") > F.col("q")
    term = F.when(
        over, F.col("tau_x10") * (F.col("y") - F.col("q"))
    ).otherwise((F.lit(10) - F.col("tau_x10")) * (F.col("q") - F.col("y")))
    return (
        joined.groupBy("tau_x10", F.col("q").alias("q_forecast"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(term).cast("long").alias("pinball_x10_total"),
        )
        .orderBy("tau_x10")
    )


#: ts_burst_viterbi: burst-state rate multiplier and the 0->1
#: transition penalty on the 1e6 cost grid (Kleinberg's gamma).
_VIT_BURST_MULT = 3
_VIT_GAMMA_MICRO = 2_000_000


def _viterbi_kernel(key, pdf):
    """Integer Viterbi forward pass over the collapsed hourly table —
    one python loop, exact int64 (the `_km_kernel` recurrence shape);
    emits the running two-state costs and the online burst flag."""
    import pandas as pd

    pdf = pdf.sort_values("t")
    out = []
    c0 = c1 = None
    for hr, n, e0, e1 in zip(pdf["hr"], pdf["n"], pdf["e0"], pdf["e1"]):
        if c0 is None:
            c0, c1 = int(e0), _VIT_GAMMA_MICRO + int(e1)
        else:
            c0, c1 = (
                min(c0, c1) + int(e0),
                min(c0 + _VIT_GAMMA_MICRO, c1) + int(e1),
            )
        out.append((int(hr), int(n), c0, c1, c1 < c0))
    return pd.DataFrame(
        out, columns=["hour_id", "n_events", "cost_base", "cost_burst",
                      "burst"],
    )


@register(
    "ts_burst_viterbi",
    oracle=f"""
WITH RECURSIVE h AS MATERIALIZED (
  SELECT epoch_us(ts) // 3600000000 AS hr,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
idx AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY hr) - 1 AS t, hr, n FROM h
),
lam AS MATERIALIZED (
  SELECT CAST(SUM(n) AS DOUBLE) / COUNT(*) AS l0 FROM h
),
e AS MATERIALIZED (
  SELECT t, hr, n,
         {grid_sql('l0 - n * ln(l0)', 6)} AS e0,
         {grid_sql(f'''({_VIT_BURST_MULT} * l0
                     - n * ln({_VIT_BURST_MULT} * l0))''', 6)} AS e1
  FROM idx, lam
),
rec(t, c0, c1) AS (
  SELECT t, e0, {_VIT_GAMMA_MICRO} + e1 FROM e WHERE t = 0
  UNION ALL
  SELECT e.t, LEAST(rec.c0, rec.c1) + e.e0,
         LEAST(rec.c0 + {_VIT_GAMMA_MICRO}, rec.c1) + e.e1
  FROM rec JOIN e ON e.t = rec.t + 1
)
SELECT e.hr AS hour_id, e.n AS n_events,
       rec.c0 AS cost_base, rec.c1 AS cost_burst,
       rec.c1 < rec.c0 AS burst
FROM rec JOIN e ON e.t = rec.t
ORDER BY hour_id
""",
)
def ts_burst_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-state burst detection by Viterbi decoding (Kleinberg's
    burst automaton, hourly-count form) — the HMM-decoding operator
    class: state q0 emits at the global base rate, q1 at
    _VIT_BURST_MULT× it, entering the burst state costs gamma, and the
    forward recursion tracks the cheapest cost of ending each hour in
    either state; burst = the burst state currently wins. Unlike
    `ts_cusum_alarm` (one-sided mean shift) this is a full
    time-structured model with hysteresis: short spikes don't pay off
    against gamma, sustained elevations do.

    The sequential recurrence follows the `ml_kaplan_meier`/
    `ts_kalman_1d` discipline: per-hour Poisson emission costs
    lambda − n·ln(lambda) land on an exact 1e6 grid BEFORE any
    sequential step (the lambdas are doubles from exact sums, shared
    operand-for-operand), so the recursion itself is pure int64
    min/add — DuckDB runs it as WITH RECURSIVE, Spark as one
    Arrow-batched kernel over the collapsed hourly table, and both
    produce bit-identical cost curves.

    100-TB posture: the only data-sized pass is the hourly rollup;
    the DP state is two longs over |hours| rows. Overflow: per-hour
    costs ≤ ~1e12 micro at sf100 rates; a year of hours keeps the
    running costs ≤ ~1e16 ≪ 2^63.
    """
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        F.expr("unix_micros(ts) div 3600000000").alias("hr")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    idx = h.select(
        (F.row_number().over(Window.orderBy("hr")) - 1).alias("t"),
        "hr", "n",
    )
    lam = h.agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("l0")
    )
    e = idx.crossJoin(F.broadcast(lam)).select(
        "t", "hr", "n",
        grid(F.col("l0") - F.col("n") * F.log(F.col("l0")), 6).alias("e0"),
        grid(
            F.lit(float(_VIT_BURST_MULT)) * F.col("l0")
            - F.col("n")
            * F.log(F.lit(float(_VIT_BURST_MULT)) * F.col("l0")),
            6,
        ).alias("e1"),
    )
    return e.groupBy(F.lit(1).alias("_g")).applyInPandas(
        _viterbi_kernel,
        "hour_id BIGINT, n_events BIGINT, cost_base BIGINT,"
        " cost_burst BIGINT, burst BOOLEAN",
    )


#: EWMA smoothing denominators: fast alpha = 1/4, slow alpha = 1/16,
#: state scaled by _EWMA_SCALE so integer rounding keeps resolution.
_EWMA_FAST_DEN = 4
_EWMA_SLOW_DEN = 16
_EWMA_SCALE = 1000


def _trunc_div(d: int, n: int) -> int:
    """Integer division truncating toward zero — DuckDB's `//` on
    integers (probed: -7 // 4 = -1 there, -2 in python). Python's
    floor `//` would drift one milli low on every negative diff."""
    return d // n if d >= 0 else -((-d) // n)


def _ewma_kernel(key, pdf):
    """Integer EWMA forward pass over the collapsed daily table — one
    python loop, exact int64 (the `_viterbi_kernel` recurrence shape).
    Division truncates toward zero to match DuckDB's integer `//`, so
    the state sequence is bit-identical."""
    import pandas as pd

    pdf = pdf.sort_values("t")
    out = []
    sf = ss = None
    prev_above = None
    for day, v in zip(pdf["day_id"], pdf["v"]):
        x = int(v) * _EWMA_SCALE
        if sf is None:
            sf, ss = x, x
        else:
            sf = sf + _trunc_div(x - sf, _EWMA_FAST_DEN)
            ss = ss + _trunc_div(x - ss, _EWMA_SLOW_DEN)
        above = sf > ss
        crossover = prev_above is not None and above != prev_above
        prev_above = above
        out.append((int(day), int(v), sf, ss, above, crossover))
    return pd.DataFrame(
        out,
        columns=["day_id", "v_cents", "ewma_fast_milli",
                 "ewma_slow_milli", "fast_above", "crossover"],
    )


@register(
    "ts_ewma_crossover",
    oracle=f"""
WITH RECURSIVE d AS MATERIALIZED (
  SELECT epoch_us(ts) // 86400000000 AS day_id,
         CAST(SUM({grid_sql('value', 2)})
              AS BIGINT) AS v
  FROM events GROUP BY 1
),
idx AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY day_id) - 1 AS t, day_id, v FROM d
),
rec AS (
  SELECT t, day_id, v,
         v * {_EWMA_SCALE} AS sf,
         v * {_EWMA_SCALE} AS ss
  FROM idx WHERE t = 0
  UNION ALL
  SELECT i.t, i.day_id, i.v,
         r.sf + (i.v * {_EWMA_SCALE} - r.sf) // {_EWMA_FAST_DEN},
         r.ss + (i.v * {_EWMA_SCALE} - r.ss) // {_EWMA_SLOW_DEN}
  FROM rec r JOIN idx i ON i.t = r.t + 1
)
SELECT day_id, v AS v_cents,
       sf AS ewma_fast_milli, ss AS ewma_slow_milli,
       sf > ss AS fast_above,
       COALESCE((sf > ss) <> LAG(sf > ss) OVER (ORDER BY t), FALSE)
         AS crossover
FROM rec ORDER BY day_id
""",
)
def ts_ewma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fast/slow EWMA crossover signals over the daily revenue series —
    the moving-average-crossover detector (trading's golden/death
    cross, ops' trend-break alarm) as an exact integer recurrence:
    s_t = s_(t-1) + (x_t - s_(t-1)) div_trunc N with N = 4 (fast,
    alpha = 1/4) and 16 (slow, alpha = 1/16), state scaled by 1e3 so
    truncation keeps milli resolution. A crossover fires on any day
    whose fast-above-slow flag flips.

    Sequential-recurrence discipline (`ts_burst_viterbi` /
    `ts_kalman_1d`): the only data-sized pass is the daily rollup;
    the recursion is pure int64 add/trunc-div over |days| rows —
    DuckDB runs it as WITH RECURSIVE, Spark as one Arrow-batched
    kernel whose division truncates toward zero to match DuckDB's
    integer `//`, so the state curves are bit-identical.

    100-TB posture: the rollup is ONE map-side-combinable aggregation;
    DP state is two longs over |days| rows (a year = 365). Overflow:
    |state| <= max daily |v|·1e3 — int64-safe to ~9e15 cents/day.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.expr("unix_micros(ts) div 86400000000").alias("day_id")
    ).agg(
        F.sum(grid("value", 2)).cast("long").alias("v")
    )
    idx = d.select(
        (F.row_number().over(Window.orderBy("day_id")) - 1).alias("t"),
        "day_id", "v",
    )
    return idx.groupBy(F.lit(1).alias("_g")).applyInPandas(
        _ewma_kernel,
        "day_id BIGINT, v_cents BIGINT, ewma_fast_milli BIGINT,"
        " ewma_slow_milli BIGINT, fast_above BOOLEAN, crossover BOOLEAN",
    )


@register(
    "ts_pettitt_test",
    oracle=f"""
WITH obs AS (
  SELECT event_type,
         {grid_sql('value', 1)} AS v,
         ts, event_id
  FROM events),
vals AS (
  SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM obs GROUP BY 1, 2),
rk AS (
  SELECT event_type, v,
         2 * (CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY v)
                   AS BIGINT) - cnt) + cnt + 1 AS r2
  FROM vals),
seq AS (
  SELECT o.event_type,
         ROW_NUMBER() OVER (PARTITION BY o.event_type
                            ORDER BY o.ts, o.event_id) AS k,
         CAST(SUM(r.r2) OVER (PARTITION BY o.event_type
                              ORDER BY o.ts, o.event_id
                              ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS w2,
         CAST(COUNT(*) OVER (PARTITION BY o.event_type)
              AS BIGINT) AS n
  FROM obs o JOIN rk r ON r.event_type = o.event_type AND r.v = o.v),
u AS (
  SELECT event_type, k, n, w2 - k * (n + 1) AS uk
  FROM seq WHERE k < n),
best AS (
  SELECT event_type, MAX(n) AS n,
         arg_min(k, (-abs(uk)) * 10000000000 + k) AS k_star,
         MAX(abs(uk)) AS k_stat
  FROM u GROUP BY event_type)
SELECT event_type, n AS n_obs, k_star, k_stat,
       CAST({grid_sql('''2.0 * exp(-6.0 * CAST(k_stat AS DOUBLE)
                                 * CAST(k_stat AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                    + CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))''', 6)} AS DOUBLE)
         / 1000000.0 AS p_approx
FROM best ORDER BY event_type
""",
)
def ts_pettitt_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt change-point test — the rank-based (distribution-free)
    complement to `ts_changepoint`'s CUSUM: U_k = sum_(i<=k, j>k)
    sign(x_i - x_j) peaks where the value DISTRIBUTION shifts, even
    when the mean barely moves. Reports, per series, the most likely
    break position k*, the statistic K = max|U_k|, and the standard
    approximate p-value 2·exp(-6K²/(n³+n²)).

    Exactness under ties: U_k = W2_k - k(n+1) where W2_k is the prefix
    sum of TWICE the average rank — 2·avgrank = 2·cnt_lt + cnt_eq + 1
    is always an integer, so the whole U curve is exact int64 and the
    tie-broken argmax (earliest k on equal |U|) cannot straddle
    engines; the final p-value lands on the 1e-6 grid (libm vs JVM
    exp agree far below it — the naive-bayes loglik discipline).

    100-TB posture: ranks come from the value-COLLAPSED distinct table
    (the `stat_mann_whitney` trick — no per-row sort beyond one
    |distinct-values| window), then one per-series time-ordered prefix
    window and one struct-min argmax aggregation; state per row is two
    longs. Overflow: W2 <= 2n² — int64-safe to ~2e9 rows per series;
    the argmax packs (-|U|, k) into one long with a 1e10 shift, safe
    while |U| <= n² < 9.2e8² and k < 1e10.
    """
    ev = load_table(spark, sf_dir, "events")
    obs = ev.select(
        "event_type",
        grid("value", 1).alias("v"),
        "ts", "event_id",
    )
    vals = obs.groupBy("event_type", "v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wv = Window.partitionBy("event_type").orderBy("v")
    rk = vals.select(
        "event_type", "v",
        (
            F.lit(2) * (F.sum("cnt").over(wv).cast("long") - F.col("cnt"))
            + F.col("cnt") + F.lit(1)
        ).alias("r2"),
    )
    wt = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = obs.join(rk, ["event_type", "v"]).select(
        "event_type",
        F.row_number().over(wt).cast("long").alias("k"),
        F.sum("r2").over(
            wt.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("long").alias("w2"),
        F.count(F.lit(1)).over(
            Window.partitionBy("event_type")
        ).cast("long").alias("n"),
    )
    u = seq.filter(F.col("k") < F.col("n")).select(
        "event_type", "k", "n",
        (F.col("w2") - F.col("k") * (F.col("n") + 1)).alias("uk"),
    )
    best = u.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.min_by(
            "k", -F.abs(F.col("uk")) * F.lit(10000000000) + F.col("k")
        ).alias("k_star"),
        F.max(F.abs(F.col("uk"))).alias("k_stat"),
    )
    nd = F.col("n").cast("double")
    return best.select(
        "event_type", F.col("n").alias("n_obs"), "k_star", "k_stat",
        (
            grid(
                F.lit(2.0)
                * F.exp(
                    F.lit(-6.0)
                    * F.col("k_stat").cast("double")
                    * F.col("k_stat").cast("double")
                    / (nd * nd * nd + nd * nd)
                ),
                6,
            ).cast("double") / F.lit(1e6)
        ).alias("p_approx"),
    ).orderBy("event_type")


#: chi-squared 5% critical value for df = 4 (|event types| - 1),
#: in micro units for the exact-integer decision compare.
_MOOD_CRIT_MICRO = 9487729


@register(
    "stat_mood_median",
    oracle=f"""
WITH obs AS (
  SELECT event_type,
         {grid_sql('value', 1)} AS v
  FROM events),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM obs),
vals AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM obs GROUP BY v),
med AS (
  SELECT MIN(v) AS m
  FROM (SELECT v, CAST(SUM(cnt) OVER (ORDER BY v) AS BIGINT) AS cum
        FROM vals) z, tot
  WHERE 2 * cum >= n),
grp AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS ng,
         CAST(SUM(CASE WHEN v > (SELECT m FROM med)
                       THEN 1 ELSE 0 END) AS BIGINT) AS a
  FROM obs GROUP BY event_type),
marg AS (
  SELECT CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(ng) AS BIGINT) AS n
  FROM grp),
terms AS (
  SELECT {grid_sql('''(
           POW(CAST(a AS DOUBLE)
               - CAST(ng AS DOUBLE) * ta / n, 2)
             / (CAST(ng AS DOUBLE) * ta / n)
           + POW(CAST(ng - a AS DOUBLE)
                 - CAST(ng AS DOUBLE) * (n - ta) / n, 2)
             / (CAST(ng AS DOUBLE) * (n - ta) / n)
         )''', 6)} AS t_micro,
         ng
  FROM grp, marg)
SELECT CAST(SUM(ng) AS BIGINT) AS n_total,
       (SELECT m FROM med) AS grand_median_deci,
       CAST(COUNT(*) - 1 AS BIGINT) AS df,
       CAST(SUM(t_micro) AS DOUBLE) / 1000000.0 AS chi2,
       CAST(SUM(t_micro) AS BIGINT) > {_MOOD_CRIT_MICRO} AS reject_5pct
FROM terms
""",
)
def stat_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test — the nonparametric k-sample location test:
    does any event type's value distribution sit above or below the
    others' around the grand median? Counts per group how many values
    exceed the grand (lower pseudo-)median, forms the 2×k contingency
    against expectation, and reports the chi-squared statistic with
    the 5%-critical decision (df = k−1).

    Exactness: the grand median is the smallest collapsed value whose
    2·cumulative-count reaches n (pure integer — no mid-point
    averaging to straddle engines); each group's chi-squared term is
    one double expression from exact longs, floored onto the 1e-6
    grid BEFORE the cross-group sum, so the total is an exact long
    sum (order-free — the repo's gridded-partial discipline) and the
    rejection flag is an integer compare against the gridded critical
    value.

    100-TB posture: two map-side-combinable aggregations (value
    histogram for the median; per-group counts) plus two 1-row scalar
    broadcasts — no data-sized join, no row-level sort; the collapsed
    value table is |distinct values|-sized.
    """
    ev = load_table(spark, sf_dir, "events")
    obs = ev.select(
        "event_type",
        grid("value", 1).alias("v"),
    )
    vals = obs.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    tot = obs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    med = (
        vals.select(
            "v", F.sum("cnt").over(Window.orderBy("v")).cast("long")
            .alias("cum"),
        )
        .crossJoin(F.broadcast(tot))  # 1-row scalar
        .filter(F.lit(2) * F.col("cum") >= F.col("n"))
        .agg(F.min("v").alias("m"))
    )
    grp = (
        obs.crossJoin(F.broadcast(med))  # 1-row scalar
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("ng"),
            F.sum(F.when(F.col("v") > F.col("m"), 1).otherwise(0))
            .cast("long").alias("a"),
            F.max("m").alias("m"),
        )
    )
    marg = grp.agg(
        F.sum("a").cast("long").alias("ta"),
        F.sum("ng").cast("long").alias("n"),
    )
    ngd = F.col("ng").cast("double")
    ea = ngd * F.col("ta") / F.col("n")
    eb = ngd * (F.col("n") - F.col("ta")) / F.col("n")
    terms = grp.crossJoin(F.broadcast(marg)).select(
        "ng", "m",
        grid(
            F.pow(F.col("a").cast("double") - ea, F.lit(2.0)) / ea
            + F.pow(
                (F.col("ng") - F.col("a")).cast("double") - eb,
                F.lit(2.0),
            ) / eb,
            6,
        ).alias("t_micro"),
    )
    return terms.agg(
        F.sum("ng").cast("long").alias("n_total"),
        F.max("m").alias("grand_median_deci"),
        (F.count(F.lit(1)) - 1).cast("long").alias("df"),
        (F.sum("t_micro").cast("double") / F.lit(1e6)).alias("chi2"),
        (F.sum("t_micro").cast("long") > F.lit(_MOOD_CRIT_MICRO))
        .alias("reject_5pct"),
    )


@register(
    "ts_seasonal_mann_kendall",
    oracle=f"""
WITH d AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
         CAST((epoch_us(ts) // 86400000000) % 7 AS BIGINT) AS season,
         CAST(SUM({grid_sql('value', 6)})
              AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
per_season AS (
  SELECT a.season,
         CAST(SUM(CASE WHEN b.y > a.y THEN 1
                       WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_m
  FROM d a JOIN d b ON a.season = b.season AND a.day < b.day
  GROUP BY a.season
),
counts AS (
  SELECT season, CAST(COUNT(*) AS BIGINT) AS n_m FROM d GROUP BY season
),
ties AS (
  SELECT season,
         CAST(COALESCE(SUM(CASE WHEN t > 1
                                THEN t * (t - 1) * (2 * t + 5)
                                ELSE 0 END), 0) AS BIGINT) AS tie_m
  FROM (SELECT season, y, CAST(COUNT(*) AS BIGINT) AS t
        FROM d GROUP BY season, y) g
  GROUP BY season
),
tot AS (
  SELECT CAST(SUM(c.n_m) AS BIGINT) AS n_days,
         CAST(SUM(COALESCE(p.s_m, 0)) AS BIGINT) AS s_total,
         CAST(SUM(c.n_m * (c.n_m - 1) * (2 * c.n_m + 5) - t.tie_m)
              AS BIGINT) AS var18
  FROM counts c
  LEFT JOIN per_season p USING (season)
  JOIN ties t USING (season)
)
SELECT n_days, s_total, var18,
       {grid_sql('''(CASE WHEN s_total > 0 THEN
                     (CAST(s_total AS DOUBLE) - 1.0)
                     / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                   WHEN s_total < 0 THEN
                     (CAST(s_total AS DOUBLE) + 1.0)
                     / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                   ELSE 0.0 END)''', 6)} AS z_micro,
       abs(CASE WHEN s_total > 0 THEN
             (CAST(s_total AS DOUBLE) - 1.0)
             / sqrt(CAST(var18 AS DOUBLE) / 18.0)
           WHEN s_total < 0 THEN
             (CAST(s_total AS DOUBLE) + 1.0)
             / sqrt(CAST(var18 AS DOUBLE) / 18.0)
           ELSE 0.0 END) > 1.959964 AS monotonic_trend
FROM tot
""",
)
def ts_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall trend test (Hirsch & Slack 1984) — the
    hydrology/monitoring standard that `ts_mann_kendall` cannot
    replace when the series has a cycle: comparing a Saturday against
    a Tuesday reads weekly seasonality as fake trend, so the seasonal
    variant forms the S statistic ONLY within each season (here
    day-of-week over daily revenue totals), sums the per-season S and
    variances, and applies the usual continuity-corrected Z on the
    totals.

    Exactness: per-season S and the tie-corrected variance terms are
    pure integer pair counts (the `ts_mann_kendall` discipline — daily
    totals land on the 1e-6 grid first); Z floor-grids to micro and
    the trend flag compares the SAME expression both engines share.

    100-TB posture: the data-sized pass is the daily rollup; the pair
    join runs per season over the COLLAPSED per-day table (|days/7|²
    per season — a decade is ~520 rows/season; beyond that the
    collapsed-value rank rewrite of `ts_pettitt_test` drops it to
    |distinct y| per season). Overflow: |S| <= n², var18 <= ~n³·4 —
    int64-safe past a million days.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.expr("unix_micros(ts) div 86400000000").alias("day")
    ).agg(
        F.sum(grid("value", 6)).cast("long").alias("y")
    ).select("day", (F.col("day") % 7).cast("long").alias("season"), "y")
    a, b = d.alias("a"), d.alias("b")
    per_season = (
        a.join(
            b,
            (F.col("a.season") == F.col("b.season"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.season").alias("season"))
        .agg(
            F.sum(
                F.when(F.col("b.y") > F.col("a.y"), 1)
                .when(F.col("b.y") < F.col("a.y"), -1)
                .otherwise(0)
            ).cast("long").alias("s_m")
        )
    )
    counts = d.groupBy("season").agg(
        F.count(F.lit(1)).cast("long").alias("n_m")
    )
    ties = (
        d.groupBy("season", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("season")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("t") > 1,
                        F.col("t") * (F.col("t") - 1)
                        * (2 * F.col("t") + 5),
                    ).otherwise(0)
                ),
                F.lit(0),
            ).cast("long").alias("tie_m")
        )
    )
    tot = (
        counts.join(per_season, "season", "left")
        .join(ties, "season")
        .agg(
            F.sum("n_m").cast("long").alias("n_days"),
            F.sum(F.coalesce("s_m", F.lit(0))).cast("long")
            .alias("s_total"),
            F.sum(
                F.col("n_m") * (F.col("n_m") - 1) * (2 * F.col("n_m") + 5)
                - F.col("tie_m")
            ).cast("long").alias("var18"),
        )
    )
    zval = (
        F.when(
            F.col("s_total") > 0,
            (F.col("s_total").cast("double") - F.lit(1.0))
            / F.sqrt(F.col("var18").cast("double") / F.lit(18.0)),
        )
        .when(
            F.col("s_total") < 0,
            (F.col("s_total").cast("double") + F.lit(1.0))
            / F.sqrt(F.col("var18").cast("double") / F.lit(18.0)),
        )
        .otherwise(F.lit(0.0))
    )
    return tot.select(
        "n_days", "s_total", "var18",
        grid(zval, 6).alias("z_micro"),
        (F.abs(zval) > F.lit(1.959964)).alias("monotonic_trend"),
    )


#: SPRT: H0 purchase-rate p0 vs H1 p1, alpha = beta = 0.05. The two
#: per-observation LLR increments and both decision thresholds are
#: CONSTANTS — gridded to nano once, so the sequential statistic is a
#: pure integer prefix sum.
_SPRT_P0, _SPRT_P1 = 0.20, 0.25


def _sprt_c_sql(expr: str) -> str:
    return f"{grid_sql(f'{expr}', 9)}"


@register(
    "stat_sprt_sequential",
    oracle=f"""
WITH c AS (
  SELECT {_sprt_c_sql(f"ln({_SPRT_P1} / {_SPRT_P0})")} AS c1,
         {_sprt_c_sql(f"ln((1.0 - {_SPRT_P1}) / (1.0 - {_SPRT_P0}))")} AS c0,
         {_sprt_c_sql("ln(0.95 / 0.05)")} AS a_hi,
         {_sprt_c_sql("ln(0.05 / 0.95)")} AS b_lo
),
seq AS (
  SELECT ROW_NUMBER() OVER (ORDER BY ts, event_id) AS k,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              OVER (ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS npos
  FROM events
),
llr AS (
  SELECT k, npos, npos * c.c1 + (k - npos) * c.c0 AS llr_nano,
         c.a_hi, c.b_lo
  FROM seq, c
),
crossing AS (
  SELECT k, npos, llr_nano,
         CASE WHEN llr_nano >= a_hi THEN 'accept_h1'
              ELSE 'accept_h0' END AS decision
  FROM llr WHERE llr_nano >= a_hi OR llr_nano <= b_lo
),
first_cross AS (
  SELECT k, npos, llr_nano, decision
  FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY k) AS rn FROM crossing) z
  WHERE rn = 1
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM events)
SELECT COALESCE(f.k, t.n_total) AS n_seen,
       COALESCE(f.decision, 'continue') AS decision,
       f.llr_nano AS llr_nano_at_stop,
       f.npos AS n_pos_at_stop,
       t.n_total
FROM tot t LEFT JOIN first_cross f ON TRUE
""",
)
def stat_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test — the always-valid
    sequential decision rule an experimentation platform runs so it
    can STOP EARLY (Wald 1945): is the purchase rate p1 = 25% (H1) or
    p0 = 20% (H0)? Each event adds one of two constant log-likelihood
    increments; the test stops the first time the running LLR exits
    [ln(β/(1−α)), ln((1−β)/α)]. Reports the stopping point, the
    decision, and the LLR there — on the fixture the test decides
    after a few hundred events, ~10× earlier than the fixed-horizon z.

    Exactness: the two increments and both thresholds are ln() of
    LITERALS, gridded to nano once (libm/JVM agree far below 1e-9 —
    the bayes-posterior discipline), so the running statistic is
    npos·c1 + (k−npos)·c0 — a pure integer expression of the
    cumulative purchase count; the first-crossing argmin is a
    tie-broken window over crossing rows only.

    100-TB posture: the prefix count is ONE time-ordered window; this
    demo runs it over the single global stream (whole-process
    sequential test), and at scale the identical plan shards per
    experiment key — the `ts_burstiness` global-window adjudication.
    Overflow: |llr| <= n·3e8 nano — int64-safe to ~3e10 events.
    """
    ev = load_table(spark, sf_dir, "events")
    import math as _m

    c1 = _m.floor(_m.log(_SPRT_P1 / _SPRT_P0) * 1e9 + 0.5)
    c0 = _m.floor(_m.log((1 - _SPRT_P1) / (1 - _SPRT_P0)) * 1e9 + 0.5)
    a_hi = _m.floor(_m.log(0.95 / 0.05) * 1e9 + 0.5)
    b_lo = _m.floor(_m.log(0.05 / 0.95) * 1e9 + 0.5)
    w = Window.orderBy("ts", "event_id")
    seq = ev.select(
        F.row_number().over(w).cast("long").alias("k"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long").alias("npos"),
    )
    llr = seq.select(
        "k", "npos",
        (F.col("npos") * F.lit(c1) + (F.col("k") - F.col("npos"))
         * F.lit(c0)).alias("llr_nano"),
    )
    crossing = llr.filter(
        (F.col("llr_nano") >= a_hi) | (F.col("llr_nano") <= b_lo)
    ).select(
        "k", "npos", "llr_nano",
        F.when(F.col("llr_nano") >= a_hi, "accept_h1")
        .otherwise("accept_h0").alias("decision"),
    )
    first = (
        crossing.withColumn(
            "rn", F.row_number().over(Window.orderBy("k"))
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    tot = ev.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    # LEFT join (not cross): a stream that never crosses must still
    # yield the one 'continue' row, matching the oracle's LEFT JOIN.
    return tot.join(F.broadcast(first), F.lit(True), "left").select(
        F.coalesce("k", "n_total").alias("n_seen"),
        F.coalesce("decision", F.lit("continue")).alias("decision"),
        F.col("llr_nano").alias("llr_nano_at_stop"),
        F.col("npos").alias("n_pos_at_stop"),
        "n_total",
    )


@register(
    "ml_expected_calibration_error",
    oracle=f"""
WITH scored AS (
  SELECT {md5_int_sql("CAST(o_orderkey AS VARCHAR)", 1, 6)} % 1000000
           AS conf_micro,
         CASE WHEN {md5_int_sql("CAST(o_orderkey AS VARCHAR)", 7, 6)} % 1000000
                   < ({md5_int_sql("CAST(o_orderkey AS VARCHAR)", 1, 6)}
                      % 1000000)
                     * 9 // 10 + 50000
              THEN 1 ELSE 0 END AS y
  FROM orders
),
bins AS (
  SELECT conf_micro // 100000 AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS pos,
         CAST(SUM(conf_micro) AS BIGINT) AS sc
  FROM scored GROUP BY 1
)
SELECT CAST(SUM(n) AS BIGINT) AS n_total,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(SUM(abs(pos * 1000000 - sc)) AS DOUBLE)
         / (CAST(SUM(n) AS DOUBLE) * 1000000.0) AS ece,
       CAST(MAX(abs(pos * 1000000 - sc) // n) AS BIGINT) AS mce_micro
FROM bins
""",
)
def ml_expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error — the scalar every model card reports
    on top of `ml_calibration_bins`' reliability table: bucket
    confidences into 10 equal-width bins and average |accuracy −
    mean confidence| weighted by bin mass; MCE is the worst bin. The
    synthetic scorer is deliberately miscalibrated (outcome rate =
    0.9·conf + 0.05, both md5-derived), so ECE is genuinely nonzero
    and the direction of the miscalibration is pinned in tests.

    Exactness WITHOUT gridding: with integer micro confidences,
    (n_b/N)·|pos_b/n_b − meanconf_b| telescopes to
    |pos_b·1e6 − Σconf_b| / (N·1e6) — the weighted ECE is ONE exact
    long sum divided once, and MCE is an integer division per bin.
    No transcendental, no float accumulation, nothing to grid.

    100-TB posture: one map-side-combinable aggregation onto 10 bins,
    then a 10-row rollup. The fixed-width binning (not quantile) is
    what keeps the bin id deterministic and the operator one pass at
    any scale (the `ml_calibration_bins` note).
    """
    o = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey").cast("string")
    conf = md5_int(key, 1, 6) % 1000000
    coin = md5_int(key, 7, 6) % 1000000
    scored = o.select(
        conf.alias("conf_micro"),
        F.when(coin < F.expr("conf_micro * 9 div 10") + 50000, 1)
        .otherwise(0).alias("y"),
    )
    bins = scored.groupBy(
        F.expr("conf_micro div 100000").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
        F.sum("conf_micro").cast("long").alias("sc"),
    )
    gap = F.abs(F.col("pos") * F.lit(1000000) - F.col("sc"))
    return bins.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        (
            F.sum(gap).cast("double")
            / (F.sum("n").cast("double") * F.lit(1e6))
        ).alias("ece"),
        F.max(F.expr("abs(pos * 1000000 - sc) div n")).cast("long")
        .alias("mce_micro"),
    )


#: Croston smoothing denominator (alpha = 1/4) and state scale.
_CRO_DEN = 4
_CRO_SCALE = 1000


def _croston_kernel(key, pdf):
    """Integer Croston forward pass over the nonzero-demand sequence —
    one python loop, exact int64 (`_ewma_kernel` discipline: division
    truncates toward zero to match DuckDB's `//`)."""
    import pandas as pd

    pdf = pdf.sort_values("t")
    out = []
    z = p = None
    prev_day = None
    for day, q in zip(pdf["day_id"], pdf["q"]):
        gap = 1 if prev_day is None else int(day) - prev_day
        if z is None:
            z, p = int(q) * _CRO_SCALE, gap * _CRO_SCALE
        else:
            z = z + _trunc_div(int(q) * _CRO_SCALE - z, _CRO_DEN)
            p = p + _trunc_div(gap * _CRO_SCALE - p, _CRO_DEN)
        prev_day = int(day)
        out.append(
            (int(day), int(q), gap, z, p, z * 1000000 // p)
        )
    return pd.DataFrame(
        out,
        columns=["day_id", "demand", "gap_days", "z_milli", "p_milli",
                 "forecast_micro"],
    )


@register(
    "ts_croston_intermittent",
    oracle=f"""
WITH RECURSIVE nz AS MATERIALIZED (
  SELECT epoch_us(ts) // 86400000000 AS day_id,
         CAST(COUNT(*) AS BIGINT) AS q
  FROM events
  WHERE event_type = 'purchase' AND value > 200.0
  GROUP BY 1
),
idx AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY day_id) - 1 AS t, day_id, q,
         COALESCE(day_id - LAG(day_id) OVER (ORDER BY day_id), 1) AS gap
  FROM nz
),
rec AS (
  SELECT t, day_id, q, gap,
         q * {_CRO_SCALE} AS z, gap * {_CRO_SCALE} AS p
  FROM idx WHERE t = 0
  UNION ALL
  SELECT i.t, i.day_id, i.q, i.gap,
         r.z + (i.q * {_CRO_SCALE} - r.z) // {_CRO_DEN},
         r.p + (i.gap * {_CRO_SCALE} - r.p) // {_CRO_DEN}
  FROM rec r JOIN idx i ON i.t = r.t + 1
)
SELECT day_id, q AS demand, CAST(gap AS BIGINT) AS gap_days,
       z AS z_milli, p AS p_milli,
       z * 1000000 // p AS forecast_micro
FROM rec ORDER BY day_id
""",
)
def ts_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for INTERMITTENT demand (Croston 1972) — the
    forecasting standard when most periods are zero (spare parts, rare
    SKUs, tail queries), where ordinary exponential smoothing decays
    toward zero between demands and systematically under-forecasts:
    smooth the nonzero demand SIZES and the INTER-DEMAND INTERVALS as
    two separate EWMA states (alpha = 1/4), forecast = size / interval.
    Demand here is the daily count of large purchases (value > 200 —
    genuinely intermittent on the fixtures).

    Sequential-recurrence discipline (`ts_ewma_crossover`): the only
    data-sized pass is the filtered daily rollup; both states are pure
    int64 add/trunc-div over |nonzero days| rows — DuckDB runs the
    recursion as WITH RECURSIVE, Spark as one Arrow kernel with
    toward-zero division matching DuckDB's `//`; the forecast is a
    positive-integer cross-multiply div.

    100-TB posture: the rollup is ONE map-side-combinable aggregation;
    DP state is two longs over the nonzero-day sequence (by
    construction far shorter than the calendar — that sparsity is the
    whole reason Croston exists). Per-SKU sharding = add the key to
    the groupBy and the applyInPandas key. Overflow: z <= max-q·1e3,
    p <= max-gap·1e3 — trivial.
    """
    ev = load_table(spark, sf_dir, "events")
    nz = (
        ev.filter(
            (F.col("event_type") == "purchase") & (F.col("value") > 200.0)
        )
        .groupBy(
            F.expr("unix_micros(ts) div 86400000000").alias("day_id")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("q"))
    )
    idx = nz.select(
        (F.row_number().over(Window.orderBy("day_id")) - 1).alias("t"),
        "day_id", "q",
    )
    return idx.groupBy(F.lit(1).alias("_g")).applyInPandas(
        _croston_kernel,
        "day_id BIGINT, demand BIGINT, gap_days BIGINT, z_milli BIGINT,"
        " p_milli BIGINT, forecast_micro BIGINT",
    )


@register(
    "stat_circular_rayleigh",
    oracle=f"""
WITH cat AS (
  SELECT c_mktsegment AS seg,
         {sky_radec_sql("c_custkey")[0]} AS ra_c
  FROM customer
),
g AS (
  SELECT seg,
         {grid_sql('cos(radians(CAST(ra_c AS DOUBLE) / 100.0))', 9)} AS c9,
         {grid_sql('sin(radians(CAST(ra_c AS DOUBLE) / 100.0))', 9)} AS s9
  FROM cat
),
s AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c9) AS BIGINT) AS sc, CAST(SUM(s9) AS BIGINT) AS ss
  FROM g GROUP BY seg
)
SELECT seg, n,
       {grid_sql('''sqrt(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
                       + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
                  / (CAST(n AS DOUBLE) * 1000000000.0)''', 6)} AS rbar_micro,
       ROUND(degrees(atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE))), 6)
         AS mean_dir_deg,
       {grid_sql('''(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
                   + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
                  / (CAST(n AS DOUBLE) * 1e18)''', 6)} AS z_micro,
       (CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
        + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
         / (CAST(n AS DOUBLE) * 1e18) > 2.995732 AS nonuniform_5pct
FROM s ORDER BY seg
""",
)
def stat_circular_rayleigh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular statistics + the Rayleigh uniformity test — the
    directional-data toolkit ordinary moments get WRONG (the
    arithmetic mean of 1° and 359° is 180°; the circular mean is 0°):
    per market segment, the resultant length R̄ (0 = uniform on the
    circle, 1 = concentrated), the circular mean direction via
    atan2(Σsin, Σcos), and Rayleigh's z = n·R̄² with the 5% decision
    (z > ~3 rejects uniformity). Angles are the md5 catalog's RA — the
    astronomy use is literal (is this sample of objects clustered in
    RA?), and the same kernel serves phase/time-of-day/wind-direction
    data.

    Exactness: per-row cos/sin land on the 1e-9 grid BEFORE any sum
    (the lf9/ln discipline — sums are exact longs, order-free); R̄ and
    z floor-grid from ONE IEEE-identical expression over those longs;
    the mean direction rounds atan2 to 6 dp (the `sky_galactic_
    transform` trig pin); the decision compares the identical shared
    expression in both engines.

    100-TB posture: ONE map-side-combinable aggregation (three longs
    of state per group) — the textbook mergeable-moments shape.
    Overflow: |c9| <= 1e9, so Σ stays int64-exact to ~9e9 rows/group;
    past that the DECIMAL(38,0) lane (stat_spearman precedent).
    """
    c = load_table(spark, sf_dir, "customer")
    cat = c.select(
        F.col("c_mktsegment").alias("seg"),
        sky_radec("c_custkey")[0].alias("ra_c"),
    )
    rad = F.radians(F.col("ra_c").cast("double") / F.lit(100.0))
    g = cat.select(
        "seg",
        grid(F.cos(rad), 9).alias("c9"),
        grid(F.sin(rad), 9).alias("s9"),
    )
    s = g.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c9").cast("long").alias("sc"),
        F.sum("s9").cast("long").alias("ss"),
    )
    r2 = (
        F.col("sc").cast("double") * F.col("sc").cast("double")
        + F.col("ss").cast("double") * F.col("ss").cast("double")
    )
    z = r2 / (F.col("n").cast("double") * F.lit(1e18))
    return s.select(
        "seg", "n",
        grid(
            F.sqrt(r2) / (F.col("n").cast("double") * F.lit(1e9)), 6
        ).alias("rbar_micro"),
        F.round(
            F.degrees(
                F.atan2(F.col("ss").cast("double"), F.col("sc").cast("double"))
            ),
            6,
        ).alias("mean_dir_deg"),
        grid(z, 6).alias("z_micro"),
        (z > F.lit(2.995732)).alias("nonuniform_5pct"),
    ).orderBy("seg")


@register(
    "stat_deming_regression",
    oracle=f"""
WITH g AS (
  SELECT {grid_sql('o_totalprice', 2)}
           + {md5_int_sql("'a' || CAST(o_orderkey AS VARCHAR)", 1, 6)} % 2001
           - 1000 AS x,
         {grid_sql('o_totalprice', 2)}
           + {md5_int_sql("'b' || CAST(o_orderkey AS VARCHAR)", 1, 6)} % 2001
           - 1000 AS y
  FROM orders
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx,
         CAST(SUM(y * y) AS DOUBLE) AS syy,
         CAST(SUM(x * y) AS DOUBLE) AS sxy
  FROM g
),
c AS (
  SELECT n, sx, sy,
         CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS cxx,
         CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS cyy,
         CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS cxy
  FROM m
)
SELECT n,
       {grid_sql('''(cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
                                    + 4.0 * cxy * cxy))
                  / (2.0 * cxy)''', 6)}
         AS slope_micro,
       {grid_sql('''(CAST(sy AS DOUBLE)
                   - (cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
                                       + 4.0 * cxy * cxy))
                     / (2.0 * cxy) * CAST(sx AS DOUBLE))
                  / CAST(n AS DOUBLE)''', 6)}
         AS intercept_micro
FROM c
""",
)
def stat_deming_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deming (errors-in-both-variables) regression, λ = 1 — the
    method-comparison fit OLS gets wrong whenever the X axis is ALSO
    measured with error (two instruments, two surveys, two pipelines):
    OLS attenuates the slope toward zero; Deming's closed form
    slope = (cyy − cxx + sqrt((cyy − cxx)² + 4·cxy²)) / (2·cxy)
    treats both axes symmetrically. The fixture scenario is the
    canonical one: TWO noisy instruments measure the same quantity
    (order totals on the cent grid, each perturbed by an independent
    md5-derived ±10-dollar error) — the true slope is 1, OLS
    attenuates below it, Deming recovers it (both pinned in tests).

    Exactness: the five sufficient moments are exact int64 sums (the
    `ml_linreg_suffstats` shape); the centered second moments, the
    discriminant sqrt, slope and intercept are ONE IEEE-identical
    expression over those longs, floor-gridded to micro.

    100-TB posture: ONE map-side-combinable aggregation — five moments
    of state, mergeable, partition-invariant. Overflow: Σy² on the
    cent grid is n·~1e14 — PAST int64 at scale, so all three
    second-moment lanes run on DECIMAL(38,0) in Spark (the
    stat_spearman_corr lane; verified at the 10× fixture). DuckDB
    widens BIGINT SUM
    to HUGEINT internally and hands the exact integer to the same
    double expression — both engines convert the identical integer
    with one correctly-rounded cast.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = grid("o_totalprice", 2)

    def noisy(tag: str):
        key = F.concat(F.lit(tag), F.col("o_orderkey").cast("string"))
        return cents + md5_int(key, 1, 6) % 2001 - 1000

    g = o.select(noisy("a").alias("x"), noisy("b").alias("y"))
    m = g.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(
            F.col("x").cast("decimal(38,0)") * F.col("x").cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("sxx"),
        F.sum(
            F.col("y").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("syy"),
        F.sum(
            F.col("x").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    cxx = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    cyy = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double")
    cxy = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    slope = (
        cyy - cxx
        + F.sqrt((cyy - cxx) * (cyy - cxx) + F.lit(4.0) * cxy * cxy)
    ) / (F.lit(2.0) * cxy)
    return m.select(
        "n",
        grid(slope, 6).alias("slope_micro"),
        grid(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / nd, 6
        ).alias("intercept_micro"),
    )
