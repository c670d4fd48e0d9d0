"""Catalog cross-match and density binning (SURVEY.md §2.12).

The reference project's domain is sky-catalog analysis; its two signature
shapes are (a) cross-matching two object catalogs by coordinate proximity
and (b) sky-density histograms over binned coordinates. Both are
re-expressed here as scale-safe relational plans over the fixture tables
(SURVEY.md §1.2 maps the astronomy model onto the fixtures: catalog ↔
dimension table, coordinate ↔ numeric column).

Cross-match at scale: the naive formulation is a non-equi (band) join —
``|a.x - b.x| <= eps`` — which Spark can only execute as a broadcast
nested loop (O(n·m) comparisons). The production pattern is
**bin-then-equi-join**, and :func:`cell_join` is its one bin/replicate
decision: each home row takes one integer cell per axis (``x div w``),
each replicated row explodes into its 3×3 neighbor cells (RA as a
mod-``n`` ring when the axis wraps at 0°/360°), the two meet in a plain
equi-join on ``(cx, cy)``, and each caller then applies its own exact
predicate. The join becomes a shuffle/broadcast hash join on integer
keys — O(n+m) shuffle, 9× replication of one side only, no quadratic
stage. At 100 TB both catalogs shuffle-partition by cell id and every
executor matches only its own cells; hot cells (dense sky regions) are
AQE-skew-split. The 1-D balance band (:func:`_balance_candidates`) is
the same plan on one axis.

The synthetic sky catalog ``(obj_id, ra_c, dec_c)``, the circular RA
distance and the haversine each have one Spark/SQL twin here
(:func:`sky_catalog` / :func:`sky_catalog_sql`, :func:`ra_dist` /
:func:`ra_dist_sql`, :func:`haversine_sql`).

Quantization is exact integer arithmetic: the fixture doubles carry two
decimals, so ``CAST(ROUND(x*100) AS BIGINT)`` is an identical integer in
every engine, and the band predicate compares integers — no float-boundary
hazard at the eps cutoff (SURVEY.md §5.3 hazard 2).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, local_frame
from ..functions.exact import (
    grid,
    grid_sql,
    md5_int,
    md5_int_sql,
    sky_radec,
    sky_radec_sql,
)
from ..pipeline.closure import components, components_sql
from ..registry import register

#: full RA circle in centi-degrees.
_SPH_CIRCLE = 36000

#: catalog key → the fixture table that holds it.
_SKY_TABLE = {"c_custkey": "customer", "s_suppkey": "supplier"}


def sky_catalog(
    spark: SparkSession, sf_dir: str, key: str = "c_custkey", salt: str = ""
) -> DataFrame:
    """The synthetic sky catalog ``(obj_id, ra_c, dec_c)`` of a fixture
    key, in centi-degrees (:func:`sky_radec`; a salt draws an independent
    catalog). Keys that carry more columns select them from this output."""
    ra, dec = sky_radec(key, salt=salt)
    return load_table(spark, sf_dir, _SKY_TABLE[key]).select(
        F.col(key).alias("obj_id"), ra.alias("ra_c"), dec.alias("dec_c")
    )


def sky_catalog_sql(key: str = "c_custkey", salt: str = "") -> str:
    """DuckDB-side twin of :func:`sky_catalog`: one ``SELECT`` to wrap in
    a CTE or a ``FROM (…)``."""
    ra, dec = sky_radec_sql(key, salt=salt)
    return f"""
  SELECT {key} AS obj_id,
         {ra} AS ra_c,
         {dec} AS dec_c
  FROM {_SKY_TABLE[key]}
"""


def ra_dist(a: Column | str, b: Column | str) -> Column:
    """Circular RA distance ``least(|Δra|, 36000 − |Δra|)`` in
    centi-degrees: the short way around the 0°/360° seam."""
    d = F.abs(
        (F.col(a) if isinstance(a, str) else a)
        - (F.col(b) if isinstance(b, str) else b)
    )
    return F.least(d, F.lit(_SPH_CIRCLE) - d)


def ra_dist_sql(a: str, b: str) -> str:
    """DuckDB-side twin of :func:`ra_dist`."""
    return f"LEAST(abs({a} - {b}), {_SPH_CIRCLE} - abs({a} - {b}))"


def haversine_sql(a_ra: str, a_dec: str, b_ra: str, b_dec: str) -> str:
    """Great-circle distance in radians, rounded to 6 dp, between two
    centi-degree positions — one SQL text both engines run (libm and JVM
    trig agree far below 1e-6). Period-safe: ``sin²(Δ/2)`` is invariant
    under Δra ± 360°."""
    return f"""
ROUND(2*ASIN(SQRT(
  POW(SIN(RADIANS(({b_dec} - {a_dec})/100.0)/2), 2)
  + COS(RADIANS({a_dec}/100.0))*COS(RADIANS({b_dec}/100.0))
    *POW(SIN(RADIANS(({b_ra} - {a_ra})/100.0)/2), 2))), 6)
"""


def cell_join(
    home: DataFrame,
    away: DataFrame,
    home_xy: tuple[str, str] | None,
    away_xy: tuple[str, str],
    width: tuple[int, int],
    ring: int | None = None,
    home_cols: Sequence[Column | str] = ("*",),
    away_cols: Sequence[Column | str] = ("*",),
) -> DataFrame:
    """The binned pair search every 2-D cross-match shares: the
    ``(cx, cy)`` equi-join of home rows against away rows replicated
    into their 3×3 neighbor cells. Callers apply their own exact
    predicate to the result.

    ``*_xy`` are SQL expressions over each input's own columns; a row's
    cell on an axis is ``expr div width``. With ``ring`` the x axis is a
    ring of that many cells (the RA circle; the width must divide it) and
    neighbors wrap with ``pmod``. ``*_cols`` are each side's output
    columns, projected in the same step as the cells. ``home_xy=None``
    takes ``home`` as already binned — a chained stage matching a third
    catalog against an earlier join's home cells.
    """
    wx, wy = width
    if home_xy is not None:
        hx, hy = home_xy
        home = home.select(
            *home_cols,
            F.expr(f"{hx} div {wx}").alias("cx"),
            F.expr(f"{hy} div {wy}").alias("cy"),
        )
    ax, ay = away_xy
    cx = f"{ax} div {wx} + dx"
    if ring is not None:
        cx = f"pmod({cx}, {ring})"
    near = away.select(
        *away_cols,
        F.explode(
            F.expr(
                f"flatten(transform(sequence(-1, 1), dx -> "
                f"transform(sequence(-1, 1), dy -> "
                f"struct({cx} AS cx, {ay} div {wy} + dy AS cy))))"
            )
        ).alias("cell"),
    )
    near = near.select(*near.columns[:-1], "cell.cx", "cell.cy")
    return home.join(near, ["cx", "cy"])


#: band half-width in cents: match |c_acctbal - s_acctbal| <= 1.00.
_EPS_CENTS = 100


def _balance_candidates(
    spark: SparkSession, sf_dir: str, eps: int = _EPS_CENTS
) -> DataFrame:
    """Candidate (customer, supplier) pairs within ``eps`` cents on balance.

    The shared 1-D bin-then-equi-join stage: quantize balances to integer
    cents, cell width = eps, replicate the smaller catalog (supplier)
    into its 3 neighboring cells, hash-join on the cell id, then apply
    the exact band predicate. Output columns: c_custkey, s_suppkey,
    c_cents, s_cents, and the customer's cell.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("c_cents"),
    ).withColumn("cell", F.expr(f"c_cents div {eps}"))
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.round(F.col("s_acctbal") * 100).cast("long").alias("s_cents"),
    ).withColumn(
        "cell",
        F.explode(
            F.array(
                F.expr(f"s_cents div {eps} - 1"),
                F.expr(f"s_cents div {eps}"),
                F.expr(f"s_cents div {eps} + 1"),
            )
        ),
    )
    return (
        c.join(s, "cell")
        .filter(F.abs(F.col("c_cents") - F.col("s_cents")) <= eps)
        .select("c_custkey", "s_suppkey", "c_cents", "s_cents", "cell")
    )


@register(
    "xmatch_binned",
    oracle=f"""
SELECT c_custkey, s_suppkey,
       CAST(ROUND(c_acctbal*100) AS BIGINT)
         - CAST(ROUND(s_acctbal*100) AS BIGINT) AS delta_cents
FROM customer, supplier
WHERE abs(CAST(ROUND(c_acctbal*100) AS BIGINT)
          - CAST(ROUND(s_acctbal*100) AS BIGINT)) <= {_EPS_CENTS}
""",
)
def xmatch_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-match customers and suppliers on account balance within eps.

    The astronomy shape: two catalogs, match pairs within a coordinate
    tolerance. Implemented as bin(+neighbor-replicate)→equi-join→exact
    filter; the oracle is the naive band join, so the hash check proves
    the binned plan finds exactly the naive pair set.
    """
    return _balance_candidates(spark, sf_dir).select(
        "c_custkey",
        "s_suppkey",
        (F.col("c_cents") - F.col("s_cents")).alias("delta_cents"),
    )


@register(
    "xmatch_nearest",
    oracle=f"""
WITH cand AS (
  SELECT c_custkey, s_suppkey,
         CAST(ROUND(c_acctbal*100) AS BIGINT)
           - CAST(ROUND(s_acctbal*100) AS BIGINT) AS delta_cents
  FROM customer, supplier
  WHERE abs(CAST(ROUND(c_acctbal*100) AS BIGINT)
            - CAST(ROUND(s_acctbal*100) AS BIGINT)) <= {_EPS_CENTS}
)
SELECT c_custkey,
       arg_min(s_suppkey, abs(delta_cents)*1000000 + s_suppkey) AS s_suppkey,
       arg_min(delta_cents, abs(delta_cents)*1000000 + s_suppkey) AS delta_cents,
       MIN(abs(delta_cents)) AS abs_delta_cents
FROM cand GROUP BY c_custkey
""",
)
def xmatch_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-match-within-radius — nearest-neighbor catalog cross-match.

    The other signature astronomy join: for each object in catalog A,
    keep only the single closest object from catalog B within the match
    radius (not all pairs). Candidates come from the same binned
    equi-join stage as ``xmatch_binned``; the per-object argmin is one
    aggregation over a lexicographic struct min (struct buffers plan as
    SortAggregate — partial+final phases intact) — fully deterministic
    because the ordinal ``|delta|*1e6 + s_suppkey`` embeds a unique
    tie-break. No window, no second shuffle: groupBy(c_custkey) with
    map-side partial min, so at 100 TB the reduce stage carries one row
    per matched object, not one per candidate pair.
    """
    cand = _balance_candidates(spark, sf_dir).select(
        "c_custkey",
        "s_suppkey",
        (F.col("c_cents") - F.col("s_cents")).alias("delta_cents"),
    )
    ordinal = F.abs(F.col("delta_cents")) * 1000000 + F.col("s_suppkey")
    best = cand.groupBy("c_custkey").agg(
        F.min(
            F.struct(
                ordinal.alias("ord"),
                F.col("s_suppkey").alias("s_suppkey"),
                F.col("delta_cents").alias("delta_cents"),
            )
        ).alias("m")
    )
    return best.select(
        "c_custkey",
        F.col("m.s_suppkey").alias("s_suppkey"),
        F.col("m.delta_cents").alias("delta_cents"),
        F.abs(F.col("m.delta_cents")).alias("abs_delta_cents"),
    )


@register(
    "density_map_2d",
    oracle="""
SELECT CAST(FLOOR(o_totalprice / 25000) AS BIGINT) AS price_cell,
       CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS month_cell,
       COUNT(*) AS n_objects
FROM orders
GROUP BY 1, 2
""",
)
def density_map_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D density histogram — the sky-density-map shape.

    Bin two numeric axes, count per cell: one hash aggregation with
    map-side partial combine, so the shuffle carries only (cell, count)
    rows — at 100 TB the shuffle volume is the number of occupied cells,
    not the number of input rows.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 25000).alias("price_cell"),
            F.month("o_orderdate").cast("long").alias("month_cell"),
        )
        .agg(F.count(F.lit(1)).alias("n_objects"))
    )


@register(
    "lightcurve_stats",
    oracle="""
SELECT user_id, event_id, ts,
       epoch_us(ts) - epoch_us(LAG(ts) OVER w) AS gap_us,
       CAST(SUM(CAST(ROUND(value * 1000000.0) AS BIGINT)) OVER w5 AS DOUBLE)
         / 1000000.0 / COUNT(*) OVER w5 AS roll_mean,
       MAX(value) OVER w5 AS roll_max
FROM events
WINDOW w  AS (PARTITION BY user_id ORDER BY ts, event_id),
       w5 AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
""",
)
def lightcurve_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-object time-series statistics — the light-curve shape.

    An observation log keyed by object id: inter-observation gap (lag)
    plus a 5-point rolling mean/max of the measured value. One shuffle on
    the object key; frames evaluate within each partition, so at 100 TB
    this scales with objects, not observations-per-executor. The rolling
    mean uses the engine's exact scaled-long sum so the oracle hash is
    bit-stable; the gap is exact integer microseconds.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w5 = w.rowsBetween(-4, 0)
    us = F.unix_micros("ts")
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        (us - F.lag(us).over(w)).alias("gap_us"),
        (
            F.sum(F.round(F.col("value") * 1000000.0).cast("long")).over(w5)
            .cast("double")
            / 1000000.0
            / F.count(F.lit(1)).over(w5)
        ).alias("roll_mean"),
        F.max("value").over(w5).alias("roll_max"),
    )


@register(
    "xmatch_2d",
    oracle="""
SELECT a.p_partkey AS ia, b.p_partkey AS ib,
       CAST(ROUND(a.p_retailprice*100) AS BIGINT)
         - CAST(ROUND(b.p_retailprice*100) AS BIGINT) AS dprice_cents,
       a.p_size - b.p_size AS dsize
FROM part a, part b
WHERE a.p_partkey < b.p_partkey
  AND abs(CAST(ROUND(a.p_retailprice*100) AS BIGINT)
          - CAST(ROUND(b.p_retailprice*100) AS BIGINT)) <= 25
  AND abs(a.p_size - b.p_size) <= 1
""",
)
def xmatch_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional self cross-match — the full sky-coordinate shape.

    Pairs of parts within 0.25 on price AND 1 on size. Each row gets one
    home cell on the integer grid (price div 25-cents, size div 1); one
    side replicates into its 3x3 neighborhood, the join is a plain
    equi-join on the composite cell id, and the exact 2-D band predicate
    prunes the candidates. Versus the naive theta join (O(n^2) nested
    loop), the pair space shrinks to co-celled candidates — the same
    plan RA/Dec cross-match uses at survey scale, with AQE splitting any
    hot cell (a dense cluster) at runtime.
    """
    eps_p, eps_s = 25, 1
    base = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
        F.col("p_size").cast("long").alias("size"),
    )
    xy = ("cents", "size")
    return (
        cell_join(
            base, base, xy, xy, (eps_p, eps_s),
            home_cols=[
                F.col("p_partkey").alias("ia"),
                F.col("cents").alias("a_cents"),
                F.col("size").alias("a_size"),
            ],
            away_cols=[
                F.col("p_partkey").alias("ib"),
                F.col("cents").alias("b_cents"),
                F.col("size").alias("b_size"),
            ],
        )
        .filter(
            (F.col("ia") < F.col("ib"))
            & (F.abs(F.col("a_cents") - F.col("b_cents")) <= eps_p)
            & (F.abs(F.col("a_size") - F.col("b_size")) <= eps_s)
        )
        .select(
            "ia",
            "ib",
            (F.col("a_cents") - F.col("b_cents")).alias("dprice_cents"),
            (F.col("a_size") - F.col("b_size")).alias("dsize"),
        )
    )


#: spherical match box half-width in centi-degrees (2.00 deg). It
#: divides _SPH_CIRCLE exactly, so the RA cell ring has
#: _SPH_CIRCLE // _SPH_EPS uniform cells and modular neighbor
#: replication is exact.
_SPH_EPS = 200
_SPH_RA_CELLS = _SPH_CIRCLE // _SPH_EPS


@register(
    "xmatch_sphere",
    oracle=f"""
WITH cat AS ({sky_catalog_sql()})
SELECT a.obj_id AS ia, b.obj_id AS ib,
       {haversine_sql("a.ra_c", "a.dec_c", "b.ra_c", "b.dec_c")}
         AS dist_rad
FROM cat a JOIN cat b ON a.obj_id < b.obj_id
WHERE {ra_dist_sql("a.ra_c", "b.ra_c")} <= {_SPH_EPS}
  AND abs(a.dec_c - b.dec_c) <= {_SPH_EPS}
""",
)
def xmatch_sphere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical-coordinate cross-match with great-circle distance.

    The literal astronomy operator: objects on the celestial sphere
    (RA 0–360°, Dec −90–90°, here derived deterministically from md5
    bits so both engines see the same catalog), matched within a 2°
    box, scored by haversine angular distance. The pair search is the
    binned 2-D equi-join (one side replicated into its 3×3 neighbor
    cells; integer centi-degree cells make the box predicate exact);
    the transcendental distance is computed only on surviving pairs and
    rounded to 6 dp — libm vs JVM trig agree far below that.

    RA wraparound at 0°/360° is handled: the RA axis is a ring of
    ``_SPH_RA_CELLS`` uniform cells (eps divides the circle exactly), so
    neighbor replication is ``pmod(cx+dx, n_cells)`` and the exact
    predicate is the circular distance ``least(|Δra|, 36000-|Δra|)`` —
    pairs straddling 0°/360° land in the same (mod-ring) cell and
    survive the filter. The haversine itself is period-safe
    (``sin²(Δ/2)`` is invariant under Δ±360°). Equivalent to HEALPix-
    style ring indexing restricted to one axis; same join shape. At
    100 TB: shuffle on cell id, AQE splits dense sky cells.
    """
    return sphere_match(sky_catalog(spark, sf_dir))


def sphere_match(base: DataFrame) -> DataFrame:
    """Binned spherical pair search over (obj_id, ra_c, dec_c) rows.

    The reusable kernel behind ``xmatch_sphere`` — exposed so tests can
    plant coordinates (the md5-derived fixture catalog has no pair that
    genuinely straddles RA 0°/360°, so wraparound correctness is pinned
    by a planted-pair test instead).
    """
    eps = _SPH_EPS
    xy = ("ra_c", "dec_c")
    return (
        cell_join(
            base, base, xy, xy, (eps, eps), _SPH_RA_CELLS,
            home_cols=[
                F.col("obj_id").alias("ia"),
                F.col("ra_c").alias("a_ra_c"),
                F.col("dec_c").alias("a_dec_c"),
            ],
            away_cols=[
                F.col("obj_id").alias("ib"),
                F.col("ra_c").alias("b_ra_c"),
                F.col("dec_c").alias("b_dec_c"),
            ],
        )
        .filter(
            (F.col("ia") < F.col("ib"))
            & (ra_dist("a_ra_c", "b_ra_c") <= eps)
            & (F.abs(F.col("a_dec_c") - F.col("b_dec_c")) <= eps)
        )
        .select(
            "ia", "ib",
            F.expr(
                haversine_sql("a_ra_c", "a_dec_c", "b_ra_c", "b_dec_c")
            ).alias("dist_rad"),
        )
    )


#: cone-search center (centi-degrees) and radius. RA center sits 10 deg
#: from the 0/360 seam, inside the 20-deg radius, so the cone genuinely
#: wraps and exercises the circular-distance predicate. The RA box
#: halfwidth is the radius widened by 1/cos(dec0 + r) = 1/cos(20 deg)
#: so the box contains every point the exact haversine cut keeps.
_CONE_RA0 = 1000
_CONE_DEC0 = 0
_CONE_R_CDEG = 2000
_CONE_RA_BOX = 2130
#: radius in radians, rounded to the same 6 dp as the distance column.
_CONE_R_RAD = 0.349066

#: haversine to the cone center. Not ``haversine_sql``: with the center
#: as the first point the cosine product flips its operand order, which
#: changes the printed plan for no gain.
_CONE_DIST = f"""
ROUND(2*ASIN(SQRT(
  POW(SIN(RADIANS((dec_c - {_CONE_DEC0})/100.0)/2), 2)
  + COS(RADIANS(dec_c/100.0))*COS(RADIANS({_CONE_DEC0}/100.0))
    *POW(SIN(RADIANS((ra_c - {_CONE_RA0})/100.0)/2), 2))), 6)
"""


@register(
    "cone_search",
    oracle=f"""
WITH cat AS ({sky_catalog_sql()})
SELECT obj_id, ra_c, dec_c, {_CONE_DIST} AS dist_rad
FROM cat
WHERE {ra_dist_sql("ra_c", str(_CONE_RA0))} <= {_CONE_RA_BOX}
  AND abs(dec_c - {_CONE_DEC0}) <= {_CONE_R_CDEG}
  AND {_CONE_DIST} <= {_CONE_R_RAD}
""",
)
def cone_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cone search: all objects within 20 deg of a sky position — the
    single most common astronomy catalog query.

    Two-stage predicate: a cheap box prefilter (circular RA distance on
    the mod-ring plus a dec band — pure comparisons, pushed to the
    scan) prunes the catalog before the transcendental haversine runs
    on survivors; the exact cut compares the 6-dp-rounded distance in
    both engines, so no float-boundary hazard. The center sits 10 deg
    from RA 0/360, inside the radius, so the box genuinely wraps the
    seam (the Spark query and oracle share the predicate formula, so a
    symmetric wraparound bug would be hash-invisible — the planted-
    object test on :func:`cone_filter` pins it independently). At
    100 TB the catalog is partitioned by sky cell (sink_partitioned
    layout on ``ra_c div eps``): the box predicate becomes static
    partition pruning and the query reads only the handful of cells
    under the cone — the relational form of a HEALPix index lookup.
    """
    return cone_filter(sky_catalog(spark, sf_dir))


def cone_filter(cat: DataFrame) -> DataFrame:
    """The reusable cone predicate over (obj_id, ra_c, dec_c) rows —
    exposed so tests can plant an object across the RA 0/360 seam."""
    return cat.filter(
        (ra_dist("ra_c", F.lit(_CONE_RA0)) <= _CONE_RA_BOX)
        & (F.abs(F.col("dec_c") - _CONE_DEC0) <= _CONE_R_CDEG)
        & (F.expr(_CONE_DIST) <= _CONE_R_RAD)
    ).select("obj_id", "ra_c", "dec_c", F.expr(_CONE_DIST).alias("dist_rad"))


#: folding period: 7 days in microseconds, split into 10 phase bins.
_FOLD_P_US = 7 * 86400 * 1_000_000
_FOLD_BIN_US = _FOLD_P_US // 10


@register(
    "lightcurve_fold",
    oracle=f"""
SELECT event_type,
       (epoch_us(ts) % {_FOLD_P_US}) // {_FOLD_BIN_US} AS phase_bin,
       COUNT(*) AS n_obs,
       CAST(SUM({grid_sql('value', 6)}) AS DOUBLE)
         / 1000000.0 / COUNT(*) AS mean_value
FROM events
GROUP BY event_type, (epoch_us(ts) % {_FOLD_P_US}) // {_FOLD_BIN_US}
""",
)
def lightcurve_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-fold a time series on a known period — the light-curve
    folding operator (variable-star / transit analysis).

    Each observation maps to a phase bin via exact integer arithmetic
    (``epoch_us mod period div bin`` — no float phase, so both engines
    bin identically), then one hash aggregation computes the folded
    profile per series. Map-side partials make the shuffle one row per
    (series, bin): at 100 TB folding a trillion observations moves only
    #series × 10 rows. The mean uses the engine's exact scaled-long sum
    (functions/exact.py) so the profile hash is bit-stable.
    """
    ev = load_table(spark, sf_dir, "events")
    phase_bin = F.expr(
        f"(unix_micros(ts) % {_FOLD_P_US}) div {_FOLD_BIN_US}"
    ).alias("phase_bin")
    return ev.groupBy("event_type", phase_bin).agg(
        F.count(F.lit(1)).alias("n_obs"),
        (
            F.sum(grid("value", 6))
            .cast("double")
            / 1000000.0
            / F.count(F.lit(1))
        ).alias("mean_value"),
    )


#: candidate period grid for the period scan, in integer days. Includes
#: the weekly cycle the fixture's activity actually carries plus decoys
#: on both sides; all coprime-ish so phase bins don't alias.
_SCAN_PERIODS_D = (3, 4, 5, 6, 7, 8, 9, 10, 11, 14)
_SCAN_NBINS = 8
_DAY_US = 86400 * 1_000_000


def period_scan_kernel(ev: DataFrame, periods_us: tuple[int, ...], nbins: int) -> DataFrame:
    """Phase-dispersion period scan over an observation log.

    For every candidate period P the series is phase-folded
    (``t mod P``, ``nbins`` bins — exact integer arithmetic) and the
    folded profile's amplitude (max bin mean − min bin mean) measured:
    a true periodicity concentrates signal into a high-amplitude
    profile, while a wrong period smears it flat. ``rnk=1`` marks each
    series' best-supported period.

    Determinism for the oracle hash: bin sums are exact scaled longs
    (cents), each bin mean is ONE double division of two exact
    integers, and max/min/subtract are order-free — no float
    accumulation, so both engines emit bit-identical amplitudes and
    the rank's (amp DESC, period) ordering agrees.

    Scale: the only data-sized stage is the ×P map-side fan-out into
    the first hash aggregation, whose partials reduce the shuffle to
    one row per (series, period, bin) — scanning a trillion-row log
    over 10 periods moves #series × 10 × 8 rows. The profile rollup
    and the rank window both ride the same series key.
    """
    from pyspark.sql import Window

    e = ev.select(
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        F.round(F.col("value") * 100.0).cast("long").alias("cv"),
        F.explode(
            F.array(*[F.lit(int(p)) for p in periods_us])
        ).alias("p_us"),
    )
    per_bin = (
        e.withColumn(
            "phase_bin", F.expr(f"(t_us % p_us) * {nbins} div p_us")
        )
        .groupBy("event_type", "p_us", "phase_bin")
        .agg(F.count(F.lit(1)).alias("n_b"), F.sum("cv").alias("a_b"))
    )
    bin_mean = F.col("a_b").cast("double") / F.col("n_b").cast("double")
    prof = per_bin.groupBy("event_type", "p_us").agg(
        F.max(bin_mean).alias("hi"),
        F.min(bin_mean).alias("lo"),
        F.count(F.lit(1)).alias("n_bins"),
    )
    w = Window.partitionBy("event_type").orderBy(
        (F.col("hi") - F.col("lo")).desc(), "p_us"
    )
    return prof.select(
        "event_type",
        F.expr(f"p_us div {_DAY_US}").alias("period_days"),
        "n_bins",
        ((F.col("hi") - F.col("lo")) / F.lit(100.0)).alias("amp"),
        F.row_number().over(w).alias("rnk"),
    )


@register(
    "lightcurve_period_scan",
    oracle=f"""
WITH e AS (
  SELECT event_type, epoch_us(ts) AS t_us,
         CAST(ROUND(value*100.0) AS BIGINT) AS cv, p.p_us
  FROM events,
       (SELECT UNNEST([{", ".join(str(p * _DAY_US) for p in _SCAN_PERIODS_D)}]) AS p_us) p
), b AS (
  SELECT event_type, p_us, (t_us % p_us) * {_SCAN_NBINS} // p_us AS phase_bin,
         COUNT(*) AS n_b, CAST(SUM(cv) AS BIGINT) AS a_b
  FROM e GROUP BY 1, 2, 3
), prof AS (
  SELECT event_type, p_us,
         MAX(CAST(a_b AS DOUBLE) / CAST(n_b AS DOUBLE)) AS hi,
         MIN(CAST(a_b AS DOUBLE) / CAST(n_b AS DOUBLE)) AS lo,
         COUNT(*) AS n_bins
  FROM b GROUP BY 1, 2
)
SELECT event_type, p_us // {_DAY_US} AS period_days, n_bins,
       (hi - lo) / 100.0 AS amp,
       ROW_NUMBER() OVER (PARTITION BY event_type
                          ORDER BY (hi - lo) DESC, p_us) AS rnk
FROM prof
""",
)
def lightcurve_period_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period search over the event log's light curves — the
    variable-star operator upstream of :func:`lightcurve_fold` (which
    folds on a KNOWN period; this finds it). See
    :func:`period_scan_kernel` for semantics, determinism and the
    100-TB shuffle shape; the planted-period recovery test lives in
    tests/test_xmatch_sphere.py.
    """
    ev = load_table(spark, sf_dir, "events")
    return period_scan_kernel(
        ev, tuple(p * _DAY_US for p in _SCAN_PERIODS_D), _SCAN_NBINS
    )


#: quadtree depth for the pixel rollup: level 3 = 8 x 8 grid cells.
_PIX_LEVELS = 3


@register(
    "sky_pixel_rollup",
    oracle=f"""
WITH cat AS ({sky_catalog_sql()}), fine AS (
  SELECT (ra_c * 8) // 36000 AS x, ((dec_c + 9000) * 8) // 18000 AS y,
         COUNT(*) AS n
  FROM cat GROUP BY 1, 2
)
SELECT 3 AS level, x * 8 + y AS pix, n AS n_objects FROM fine
UNION ALL
SELECT 2, (x // 2) * 4 + (y // 2), CAST(SUM(n) AS BIGINT) FROM fine GROUP BY 2
UNION ALL
SELECT 1, (x // 4) * 2 + (y // 4), CAST(SUM(n) AS BIGINT) FROM fine GROUP BY 2
UNION ALL
SELECT 0, 0, CAST(SUM(n) AS BIGINT) FROM fine
""",
)
def sky_pixel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical sky-pixel density rollup — a HEALPix-style
    multi-resolution map (8×8 quadtree down to the full sky) built the
    way a hypertable continuous aggregate is: touch the data ONCE.

    The only data-sized aggregation is the finest level (level 3,
    map-side partials → ≤64 rows). Every coarser level re-aggregates
    the fine *aggregate* — parent pixel ids are integer divisions of
    the child's grid coordinates, so rolling a trillion-object catalog
    up through L levels costs one scan plus L re-aggs over ≤64-row
    tables. (The oracle states the same four levels as independent
    GROUP BYs over the fine CTE.) This is the same
    aggregate-once-re-roll-many contract as `agg_hll_sketch`, with
    COUNT's trivial merge in place of sketch union.
    """
    fine = (
        sky_catalog(spark, sf_dir).select(
            (F.col("ra_c") * 8 / 36000).cast("long").alias("x"),
            ((F.col("dec_c") + 9000) * 8 / 18000).cast("long").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    fine = fine.localCheckpoint(eager=True)  # scan data once, re-roll 4x
    lvl3 = fine.select(
        F.lit(3).cast("int").alias("level"),
        (F.col("x") * 8 + F.col("y")).alias("pix"),
        F.col("n").alias("n_objects"),
    )
    lvl2 = (
        fine.groupBy(
            ((F.col("x") / 2).cast("long") * 4 + (F.col("y") / 2).cast("long")).alias("pix")
        )
        .agg(F.sum("n").alias("n_objects"))
        .select(F.lit(2).cast("int").alias("level"), "pix", "n_objects")
    )
    lvl1 = (
        fine.groupBy(
            ((F.col("x") / 4).cast("long") * 2 + (F.col("y") / 4).cast("long")).alias("pix")
        )
        .agg(F.sum("n").alias("n_objects"))
        .select(F.lit(1).cast("int").alias("level"), "pix", "n_objects")
    )
    lvl0 = fine.agg(F.sum("n").alias("n_objects")).select(
        F.lit(0).cast("int").alias("level"),
        F.lit(0).cast("long").alias("pix"),
        "n_objects",
    )
    return lvl3.unionByName(lvl2).unionByName(lvl1).unionByName(lvl0)


@register(
    "lightcurve_trend",
    oracle="""
WITH e AS (
  SELECT user_id,
         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         CAST(ROUND(value * 100.0) AS BIGINT) AS y
  FROM events
), s AS (
  SELECT user_id, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx,
         CAST(SUM(y*y) AS BIGINT) AS syy
  FROM e GROUP BY user_id
)
SELECT user_id, n,
       (CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
       / ((CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) * 100.0)
         AS slope_per_day,
       (CAST(sy AS DOUBLE)
        - sx * ((CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
                / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)))
       / (CAST(n AS DOUBLE) * 100.0) AS intercept,
       CASE WHEN CAST(n AS DOUBLE)*syy - CAST(sy AS DOUBLE)*sy > 0 THEN
         ((CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
          * (CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy))
         / ((CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)
            * (CAST(n AS DOUBLE)*syy - CAST(sy AS DOUBLE)*sy))
       END AS r2
FROM s
WHERE n >= 2 AND CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx > 0
""",
)
def lightcurve_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series least-squares linear trend (slope per day + intercept)
    — secular-drift detection over an observation log, the regr_slope /
    regr_intercept shape. The built-in ``F.regr_slope`` accumulates
    float co-moments whose value depends on partition order (not
    hash-checkable); the engine instead aggregates the five EXACT
    integer sums (n, Σx, Σy, Σxy, Σx² — days × cents, all BIGINT) in
    one hash aggregation with map-side partials (Σy² added for the
    fit-quality term), then finishes with a fixed IEEE expression in
    DOUBLE (the n·Σxx − Σx² normal-equation form, same
    overflow-to-double pattern as `anomaly_zscore`) — both engines
    emit bit-identical slopes, intercepts, and R² (= corr², NULL for
    zero-variance series where no fit quality exists). Series with n < 2 or a
    degenerate single-epoch x are excluded (no fit exists).

    Scale: shuffle carries five longs per series regardless of series
    length — a trillion-observation log fits the same plan.
    """
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.unix_date(F.to_date("ts")).cast("long").alias("x"),
        F.round(F.col("value") * 100.0).cast("long").alias("y"),
    )
    s = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    slope = num / den
    return (
        s.where((F.col("n") >= 2) & (den > 0))
        .select(
            "user_id",
            "n",
            (num / (den * 100.0)).alias("slope_per_day"),
            (
                (F.col("sy").cast("double") - F.col("sx") * slope)
                / (nd * 100.0)
            ).alias("intercept"),
            F.when(
                nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
                > 0,
                (num * num)
                / (
                    den
                    * (
                        nd * F.col("syy")
                        - F.col("sy").cast("double") * F.col("sy")
                    )
                ),
            ).alias("r2"),
        )
    )


#: epoch-propagation id offset for the second-epoch copies.
_EPOCH_OFF = 10_000_000


@register(
    "xmatch_epoch",
    oracle=f"""
WITH cat AS (
  SELECT *,
         {md5_int_sql("CAST(obj_id AS VARCHAR)", 13, 4)} % 81 - 40 AS pm_ra,
         {md5_int_sql("CAST(obj_id AS VARCHAR)", 17, 4)} % 81 - 40 AS pm_dec
  FROM ({sky_catalog_sql()})
), e1 AS (
  SELECT obj_id, ((ra_c + pm_ra) % 36000 + 36000) % 36000 AS ra_c,
         dec_c + pm_dec AS dec_c
  FROM cat
)
SELECT a.obj_id AS ia, b.obj_id AS ib_src,
       {haversine_sql("a.ra_c", "a.dec_c", "b.ra_c", "b.dec_c")}
         AS dist_rad,
       a.obj_id = b.obj_id AS is_self
FROM cat a JOIN e1 b
  ON {ra_dist_sql("a.ra_c", "b.ra_c")} <= {_SPH_EPS}
 AND abs(a.dec_c - b.dec_c) <= {_SPH_EPS}
""",
)
def xmatch_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-propagated cross-match: every object carries a proper
    motion (md5-derived centi-degrees per epoch step, |pm| ≤ 0.4°);
    the catalog is PROPAGATED one epoch (RA wraps the 0/360 ring,
    exact integer arithmetic) and the moved catalog is cross-matched
    against the original positions — the survey-to-survey match where
    the two observation epochs differ and fast movers would be LOST
    without propagation. ``is_self`` marks an object re-finding itself
    (always true here since |pm| < eps — the planted guarantee that
    propagation arithmetic is exercised on every row); other pairs are
    genuine near-neighbors across epochs.

    Implementation: union the two epochs under disjoint id ranges and
    reuse the binned ring-cell kernel (`sphere_match`) unchanged —
    epoch handling is pure data prep, the O(n+m)-shuffle join shape is
    untouched. Dec may exit ±90° by up to the pm bound on the synthetic
    catalog (fixture artifact, noted; a production catalog clamps at
    the poles where RA cells degenerate anyway — see the kernel's
    HEALPix note).
    """
    key = F.col("obj_id").cast("string")
    cat = sky_catalog(spark, sf_dir).select(
        "*",
        (md5_int(key, 13, 4) % 81 - 40).alias("pm_ra"),
        (md5_int(key, 17, 4) % 81 - 40).alias("pm_dec"),
    )
    e0 = cat.select("obj_id", "ra_c", "dec_c")
    e1 = cat.select(
        (F.col("obj_id") + _EPOCH_OFF).alias("obj_id"),
        F.pmod(F.col("ra_c") + F.col("pm_ra"), F.lit(_SPH_CIRCLE)).alias("ra_c"),
        (F.col("dec_c") + F.col("pm_dec")).alias("dec_c"),
    )
    pairs = sphere_match(e0.unionByName(e1))
    return (
        pairs.filter(
            (F.col("ia") < _EPOCH_OFF) & (F.col("ib") >= _EPOCH_OFF)
        )
        .select(
            "ia",
            (F.col("ib") - _EPOCH_OFF).alias("ib_src"),
            "dist_rad",
            (F.col("ia") == F.col("ib") - _EPOCH_OFF).alias("is_self"),
        )
    )


#: robust-sigma scale factor: MAD → σ for a normal distribution.
_MAD_SIGMA = 1.4826


@register(
    "lightcurve_sigma_clip",
    oracle=f"""
WITH med AS (
  SELECT user_id, ROUND(quantile_cont(value, 0.5), 6) AS med, COUNT(*) AS n
  FROM events GROUP BY user_id
), mad AS (
  SELECT e.user_id,
         ROUND(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
  FROM events e JOIN med m ON e.user_id = m.user_id
  GROUP BY e.user_id
)
SELECT m.user_id, m.n, m.med, d.mad,
       CAST(SUM(CASE WHEN abs(e.value - m.med)
                          > 3.0 * {_MAD_SIGMA} * d.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
FROM events e
JOIN med m ON e.user_id = m.user_id
JOIN mad d ON e.user_id = d.user_id
WHERE d.mad > 0
GROUP BY m.user_id, m.n, m.med, d.mad
""",
)
def lightcurve_sigma_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust sigma clipping per series: median + MAD (median absolute
    deviation, scaled by 1.4826 to σ-equivalent) and the count of
    observations beyond 3 robust sigmas — the astronomy-standard
    outlier rejection (`anomaly_zscore`'s mean/stddev breaks down when
    the outliers themselves inflate the dispersion; median/MAD does
    not). Two grouped exact medians and one clipping count, all keyed
    on the series id — three aggregations riding ONE user-key
    partitioning via exchange reuse. The 6-dp rounds on both medians
    pin the only interpolated doubles; the clip comparison then uses
    identical rounded inputs in both engines. Zero-MAD series (>50%
    identical values) are excluded — no robust scale exists there.

    At 100 TB the same caveat as `agg_median_exact` applies to the
    exact medians (reducer buffers a group's values): huge series take
    the approx-percentile sketch for med/MAD — same plan, sketch agg
    swapped in.
    """
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("user_id").agg(
        F.round(F.expr("percentile(value, 0.5D)"), 6).alias("med"),
        F.count(F.lit(1)).alias("n"),
    )
    dev = ev.join(med, "user_id").select(
        "user_id", "med", "n", F.abs(F.col("value") - F.col("med")).alias("ad")
    )
    mad = dev.groupBy("user_id").agg(
        F.round(F.expr("percentile(ad, 0.5D)"), 6).alias("mad")
    )
    clipped = (
        ev.join(med, "user_id")
        .join(mad, "user_id")
        .where(F.col("mad") > 0)
        .groupBy("user_id", "n", "med", "mad")
        .agg(
            F.sum(
                (
                    F.abs(F.col("value") - F.col("med"))
                    > 3.0 * _MAD_SIGMA * F.col("mad")
                ).cast("long")
            ).alias("n_clipped")
        )
    )
    return clipped.select("user_id", "n", "med", "mad", "n_clipped")


@register(
    "xmatch_neighbor_density",
    oracle=f"""
WITH cat AS ({sky_catalog_sql()})
SELECT a.obj_id, CAST(COUNT(b.obj_id) AS BIGINT) AS n_neighbors
FROM cat a LEFT JOIN cat b
  ON a.obj_id <> b.obj_id
 AND {ra_dist_sql("a.ra_c", "b.ra_c")} <= {_SPH_EPS}
 AND abs(a.dec_c - b.dec_c) <= {_SPH_EPS}
GROUP BY a.obj_id
""",
)
def xmatch_neighbor_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-object neighbor counts within the match box — the local sky
    density / clustering measure (crowded-field flags, blend risk,
    cluster finding all start here). Pairs come from the same binned
    ring-cell kernel as `xmatch_sphere`; each undirected pair feeds
    BOTH endpoints' counts, and a left join back to the catalog keeps
    isolated objects at 0 — the oracle's LEFT JOIN ... COUNT(b) states
    the same inclusive contract declaratively. Scale = the kernel's
    (cell-bucketed pair space, never n²) plus one count aggregation on
    the object id.
    """
    base = sky_catalog(spark, sf_dir)
    pairs = sphere_match(base)
    ends = pairs.select(F.col("ia").alias("obj_id")).unionAll(
        pairs.select(F.col("ib").alias("obj_id"))
    )
    counts = ends.groupBy("obj_id").agg(F.count(F.lit(1)).alias("n"))
    return base.join(counts, "obj_id", "left").select(
        "obj_id", F.coalesce("n", F.lit(0)).cast("bigint").alias("n_neighbors")
    )


_SF_MAX_LAG_D = 7


@register(
    "lightcurve_structure_function",
    oracle=f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM({grid_sql('value', 6)}) AS BIGINT)
           AS sv,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.user_id, b.day - a.day AS lag_days,
         abs(CAST(b.sv AS DOUBLE) / b.n - CAST(a.sv AS DOUBLE) / a.n)
           AS adiff
  FROM daily a JOIN daily b
    ON a.user_id = b.user_id AND b.day > a.day
   AND b.day - a.day <= {_SF_MAX_LAG_D}
)
SELECT CAST(lag_days AS BIGINT) AS lag_days,
       COUNT(*) AS n_pairs,
       ROUND(AVG(adiff) / 1000000.0, 6) AS sf
FROM pairs
GROUP BY lag_days
""",
)
def lightcurve_structure_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structure function SF(τ): mean absolute brightness change between
    observations τ days apart — the time-domain variability
    characterization (quasar/AGN analysis lives on this curve: rising
    SF = correlated variability, flat = noise floor). Computed on the
    DAILY-aggregated series: per-(series, day) exact means first (one
    data-sized aggregation), then a series-keyed self-join bounded to
    lags ≤ 7 days — the pair space is days-per-series × lag-window,
    never observations². Each |Δ| is one subtraction of two exact-
    integer ratios; the per-lag mean is rounded once at the end.
    At 100 TB the lag bound IS the scale control (pairs grow linearly
    with the window), and the daily pre-aggregation is what keeps the
    join sides small — the same pre-reduce-then-pair shape as
    `basket_item_pairs`.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.sum(grid("value", 6)).alias("sv"),
        F.count(F.lit(1)).alias("n"),
    )
    a, b = daily.alias("a"), daily.alias("b")
    lag = F.datediff(F.col("b.day"), F.col("a.day"))
    mean_a = F.col("a.sv").cast("double") / F.col("a.n")
    mean_b = F.col("b.sv").cast("double") / F.col("b.n")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.day") > F.col("a.day"))
        & (lag <= _SF_MAX_LAG_D),
    ).select(
        lag.cast("long").alias("lag_days"),
        F.abs(mean_b - mean_a).alias("adiff"),
    )
    return pairs.groupBy("lag_days").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("adiff") / 1000000.0, 6).alias("sf"),
    )


@register(
    "xmatch_completeness",
    oracle=f"""
WITH cat AS (
  SELECT *,
         {md5_int_sql("CAST(obj_id AS VARCHAR)", 21, 3)} % 10 + 12 AS mag_bin
  FROM ({sky_catalog_sql()})
), matched AS (
  SELECT DISTINCT a.obj_id
  FROM cat a JOIN cat b
    ON a.obj_id <> b.obj_id
   AND {ra_dist_sql("a.ra_c", "b.ra_c")} <= {_SPH_EPS}
   AND abs(a.dec_c - b.dec_c) <= {_SPH_EPS}
)
SELECT c.mag_bin, COUNT(*) AS n_objects,
       CAST(COUNT(m.obj_id) AS BIGINT) AS n_matched,
       CAST(COUNT(m.obj_id) AS DOUBLE) / COUNT(*) AS completeness
FROM cat c LEFT JOIN matched m ON c.obj_id = m.obj_id
GROUP BY c.mag_bin
""",
)
def xmatch_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completeness curve: the fraction of objects per magnitude bin
    that find ANY counterpart within the match radius — the survey-QA
    metric that exposes depth-dependent detection loss (completeness
    falling off at faint magnitudes is THE plot in every survey
    paper). Matched ids derive from the binned ring-cell kernel's pair
    stream (both endpoints, deduplicated — no second all-pairs pass);
    a left join back to the catalog keeps unmatched objects in the
    denominator, and the per-bin fraction is a ratio of exact counts.
    The synthetic magnitude rides the same md5 derivation as the
    coordinates, so both engines bin identically.
    """
    key = F.col("obj_id").cast("string")
    cat = sky_catalog(spark, sf_dir).select(
        "*", (md5_int(key, 21, 3) % 10 + 12).alias("mag_bin")
    )
    pairs = sphere_match(cat.select("obj_id", "ra_c", "dec_c"))
    matched = (
        pairs.select(F.col("ia").alias("obj_id"))
        .unionAll(pairs.select(F.col("ib").alias("obj_id")))
        .distinct()
        .select("obj_id", F.lit(1).alias("is_matched"))
    )
    return (
        cat.join(matched, "obj_id", "left")
        .groupBy("mag_bin")
        .agg(
            F.count(F.lit(1)).alias("n_objects"),
            F.count("is_matched").cast("long").alias("n_matched"),
            (
                F.count("is_matched").cast("double") / F.count(F.lit(1))
            ).alias("completeness"),
        )
    )


#: variability pipeline: shortlist size and its period grid (days).
_VAR_TOP = 20
_VAR_PERIODS_D = (3, 5, 7, 11)


@register(
    "sky_variability_pipeline",
    oracle=f"""
WITH med AS (
  SELECT user_id, ROUND(quantile_cont(value, 0.5), 6) AS med, COUNT(*) AS n
  FROM events GROUP BY user_id
),
mad AS (
  SELECT e.user_id,
         ROUND(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
  FROM events e JOIN med m ON e.user_id = m.user_id
  GROUP BY e.user_id
),
cand AS (
  SELECT m.user_id, m.n, m.med, d.mad
  FROM med m JOIN mad d ON m.user_id = d.user_id
  WHERE m.n >= 30 AND d.mad > 0
  ORDER BY d.mad DESC, m.user_id
  LIMIT {_VAR_TOP}
),
e AS (
  SELECT c.user_id, epoch_us(ts) AS t_us,
         CAST(ROUND(value * 100.0) AS BIGINT) AS cv, p.p_us
  FROM events ev JOIN cand c ON ev.user_id = c.user_id,
       (SELECT UNNEST([{", ".join(str(p * _DAY_US) for p in _VAR_PERIODS_D)}])
          AS p_us) p
),
b AS (
  SELECT user_id, p_us, (t_us % p_us) * {_SCAN_NBINS} // p_us AS phase_bin,
         COUNT(*) AS n_b, CAST(SUM(cv) AS BIGINT) AS a_b
  FROM e GROUP BY 1, 2, 3
),
prof AS (
  SELECT user_id, p_us,
         MAX(CAST(a_b AS DOUBLE) / CAST(n_b AS DOUBLE)) AS hi,
         MIN(CAST(a_b AS DOUBLE) / CAST(n_b AS DOUBLE)) AS lo
  FROM b GROUP BY 1, 2
),
best AS (
  SELECT user_id, p_us, (hi - lo) / 100.0 AS amp,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY (hi - lo) DESC, p_us) AS rnk
  FROM prof
)
SELECT c.user_id, c.n, c.med, c.mad,
       b.p_us // {_DAY_US} AS period_days, b.amp
FROM cand c JOIN best b ON b.user_id = c.user_id AND b.rnk = 1
""",
)
def sky_variability_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed variable-object pipeline — the query an astronomy
    user actually runs end-to-end: (1) robust per-series statistics
    (median + MAD, the `lightcurve_sigma_clip` kernel), (2) shortlist
    the {20} most variable well-sampled series (n ≥ 30, MAD > 0,
    ranked by MAD), (3) period-search ONLY the shortlist
    (`period_scan_kernel` shape over a 4-period grid) and report each
    candidate's best-supported period and folded amplitude.

    The composition order IS the scale design: the expensive ×periods
    fan-out runs after the shortlist semi-join, so it touches 20
    series, not the whole catalog — shortlist-then-refine is how every
    real survey pipeline stages its compute (cheap robust stats on
    everything, expensive period fits on candidates). All stages key on
    the series id, so the exchanges reuse one partitioning; the
    shortlist is 20 rows and broadcasts into the refine join.

    Determinism: medians are 6-dp-rounded interpolated quantiles (the
    sigma-clip precedent), the shortlist ORDER BY is fully tie-broken,
    bin sums are exact cent-longs, and each amplitude is max/min over
    identical per-bin divisions — rank ties resolve by period.
    """
    ev = load_table(spark, sf_dir, "events")
    # r13 (VERDICT r12 item 1): the r12 form computed the median as
    # percentile(value) OVER (PARTITION BY user_id) evaluated against
    # EVERY event row — the driver read it 3× slower than r11 (1.20 →
    # 3.58 s): the window needs a full sort of events by user_id plus a
    # per-partition percentile buffer, where a plain aggregate gets
    # map-side partials and no sort. Reshape per the verdict's
    # prescription: aggregate med/n once per user (ONE exchange) and
    # join the small result (|users| rows, not |events|) back onto the
    # scan for the MAD aggregate — no sort of events. The planner picks
    # the join: under the broadcast threshold AQE, having measured med's
    # stage (its percentile buffers carry every value), broadcasts the
    # event side and streams med, which keeps med's user_id partitioning
    # and drops the post-join exchange; past it, AQE chooses on the
    # measured sizes. No checkpoint on med: it has exactly one consumer,
    # so materializing it would only add a Spark job. The n >= 30
    # filter moves onto the med table (an inner join drops those users'
    # events before the MAD pass; they could never reach the
    # shortlist). Identical rounding and tie-breaks.
    med = (
        ev.groupBy("user_id")
        .agg(
            F.round(F.expr("percentile(value, 0.5D)"), 6).alias("med"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") >= 30)
    )
    cand = (
        ev.join(med, "user_id")
        .groupBy("user_id")
        .agg(
            F.max("med").alias("med"),
            F.max("n").alias("n"),
            F.round(
                F.expr("percentile(abs(value - med), 0.5D)"), 6
            ).alias("mad"),
        )
        .filter(F.col("mad") > 0)
        .orderBy(F.col("mad").desc(), "user_id")
        .limit(_VAR_TOP)
        .select("user_id", "med", "n", "mad")
        .localCheckpoint(eager=True)
    )
    e = (
        ev.join(F.broadcast(cand.select("user_id")), "user_id", "left_semi")
        .select(
            "user_id",
            F.unix_micros("ts").alias("t_us"),
            F.round(F.col("value") * 100.0).cast("long").alias("cv"),
            F.explode(
                F.array(*[F.lit(p * _DAY_US) for p in _VAR_PERIODS_D])
            ).alias("p_us"),
        )
    )
    per_bin = (
        e.withColumn(
            "phase_bin", F.expr(f"(t_us % p_us) * {_SCAN_NBINS} div p_us")
        )
        .groupBy("user_id", "p_us", "phase_bin")
        .agg(F.count(F.lit(1)).alias("n_b"), F.sum("cv").alias("a_b"))
    )
    from pyspark.sql import Window

    bin_mean = F.col("a_b").cast("double") / F.col("n_b").cast("double")
    prof = per_bin.groupBy("user_id", "p_us").agg(
        F.max(bin_mean).alias("hi"), F.min(bin_mean).alias("lo")
    )
    wr = Window.partitionBy("user_id").orderBy(
        (F.col("hi") - F.col("lo")).desc(), "p_us"
    )
    best = (
        prof.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") == 1)
        .select(
            "user_id",
            (F.col("p_us") / F.lit(_DAY_US)).cast("long").alias("period_days"),
            ((F.col("hi") - F.col("lo")) / F.lit(100.0)).alias("amp"),
        )
    )
    return cand.join(best, "user_id").select(
        "user_id", "n", "med", "mad", "period_days", "amp"
    )


#: spectral scan: candidate periods (days) for the DFT power probe.
_DFT_PERIODS_D = (3, 5, 7, 11)


@register(
    "ts_spectral_power",
    oracle=f"""
WITH daily AS (
  SELECT event_type,
         epoch_us(date_trunc('day', ts)) // 86400000000 AS day_idx,
         SUM({grid_sql('value', 2)}) AS cv
  FROM events GROUP BY 1, 2
),
base AS (
  SELECT event_type, day_idx - MIN(day_idx) OVER (PARTITION BY event_type)
           AS t, CAST(cv AS DOUBLE) / 100.0 AS v
  FROM daily
),
terms AS (
  SELECT event_type, p.period_d,
         {grid_sql('v * cos(2 * pi() * t / p.period_d)', 6)} AS c_term,
         {grid_sql('v * sin(2 * pi() * t / p.period_d)', 6)} AS s_term
  FROM base,
       (SELECT UNNEST([{", ".join(str(p) for p in _DFT_PERIODS_D)}])
          AS period_d) p
)
SELECT event_type, period_d,
       CAST(SUM(c_term) AS DOUBLE) / 1000000.0 AS re_part,
       CAST(SUM(s_term) AS DOUBLE) / 1000000.0 AS im_part,
       COUNT(*) AS n_days
FROM terms GROUP BY event_type, period_d
""",
)
def ts_spectral_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete Fourier probe at candidate periods: the real and
    imaginary projections of each event type's daily-revenue series
    onto 3/5/7/11-day harmonics — the frequency-domain complement to
    `lightcurve_period_scan`'s phase folding (folding finds sharp
    periodic structure; the DFT coefficient measures sinusoidal power
    and is the textbook periodogram building block).

    Scale shape: the series first DOWNSAMPLES to daily exact-cent
    totals (map-side partials; the shuffle carries days, not events),
    then the ×periods fan-out and the cos/sin projections run over the
    daily rows only. Re/Im accumulate as floor-gridded micro-unit
    longs — cos/sin are libm-dependent, so each term is gridded BEFORE
    the sum, leaving no ordered-float accumulation; power |X|² is one
    downstream arithmetic step the caller applies (kept split here so
    the hash pins both projections).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.floor(
                F.unix_micros(F.date_trunc("day", F.col("ts")))
                / F.lit(86_400_000_000)
            ).alias("day_idx"),
        )
        .agg(
            F.sum(grid("value", 2)).alias("cv")
        )
    )
    from pyspark.sql import Window

    wmin = Window.partitionBy("event_type")
    base = daily.select(
        "event_type",
        (F.col("day_idx") - F.min("day_idx").over(wmin)).alias("t"),
        (F.col("cv").cast("double") / F.lit(100.0)).alias("v"),
    )
    terms = base.select(
        "event_type",
        "v",
        "t",
        F.explode(
            F.array(*[F.lit(p) for p in _DFT_PERIODS_D])
        ).alias("period_d"),
    )
    angle = 2 * math.pi * F.col("t") / F.col("period_d")
    c_term = grid(F.col("v") * F.cos(angle), 6)
    s_term = grid(F.col("v") * F.sin(angle), 6)
    return terms.groupBy("event_type", "period_d").agg(
        (F.sum(c_term).cast("double") / F.lit(1e6)).alias("re_part"),
        (F.sum(s_term).cast("double") / F.lit(1e6)).alias("im_part"),
        F.count(F.lit(1)).alias("n_days"),
    )


#: positional error (radians) for the probabilistic match weight.
_LR_SIGMA = 0.005


def _lr_oracle() -> str:
    """Stitch the registered xmatch_sphere oracle into the likelihood
    query (dedup_minhash_eval precedent — the weight op can never drift
    from the pair kernel it scores)."""
    from ..registry import ORACLE

    pairs = ORACLE["xmatch_sphere"].strip()
    s2 = 2.0 * _LR_SIGMA * _LR_SIGMA
    return f"""
WITH pairs AS ({pairs}),
n AS (SELECT COUNT(*) AS n_obj FROM customer)
SELECT ia, ib, dist_rad,
       {grid_sql(f'exp(-(dist_rad * dist_rad) / {s2})', 12)} AS w_pico,
       CAST({grid_sql(f'exp(-(dist_rad * dist_rad) / {s2})', 12)} AS DOUBLE)
       / 1000000000000.0
       / ({s2} * pi() * (CAST(n_obj AS DOUBLE) / (4.0 * pi()))) AS lr
FROM pairs, n
"""


@register("xmatch_likelihood_ratio", oracle=_lr_oracle())
def xmatch_likelihood_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic cross-match weighting (the Budavári–Szalay
    Bayesian-crossmatch shape): each geometric pair gets a likelihood
    ratio — a Gaussian positional-error kernel exp(−d²/2σ²) over the
    chance-alignment density (uniform sky rate n/4π) — so downstream
    consumers can threshold on MATCH CONFIDENCE instead of raw
    distance, which is how modern survey crossmatches (and
    entity-resolution scorers generally) actually decide.

    Riding the same binned pair kernel as `xmatch_sphere` — the oracle
    is stitched from that key's registered SQL, so the scorer can never
    drift from the pair search. The Gaussian (libm exp) floor-grids to
    pico-units before the one shared division; the catalog size enters
    as a 1-row broadcast.
    """
    pairs = xmatch_sphere(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer")
    n = c.agg(F.count(F.lit(1)).alias("n_obj"))
    s2 = 2.0 * _LR_SIGMA * _LR_SIGMA
    w_pico = grid(F.exp(-(F.col("dist_rad") * F.col("dist_rad")) / F.lit(s2)), 12)
    import math as _m

    return (
        pairs.crossJoin(F.broadcast(n))
        .select(
            "ia",
            "ib",
            "dist_rad",
            w_pico.cast("long").alias("w_pico"),
            (
                w_pico.cast("double")
                / F.lit(1e12)
                / (
                    F.lit(s2)
                    * F.lit(_m.pi)
                    * (F.col("n_obj").cast("double") / F.lit(4.0 * _m.pi))
                )
            ).alias("lr"),
        )
    )


#: point-in-polygon test region: an irregular convex pentagon in the
#: DOUBLED integer coordinate space (x = 2·cents(value), y =
#: 2·100·(event_id mod 500)). Vertices sit on odd coordinates while
#: every data point is even, so no point ever lies exactly on an edge
#: — the strict ray-casting inequalities are boundary-safe.
_PIP_POLY = (
    (20001, 10001),
    (80001, 20001),
    (90001, 60001),
    (50001, 90001),
    (10001, 70001),
)


def _pip_edges_sql() -> str:
    vals = ", ".join(
        f"({x1}, {y1}, {x2}, {y2})"
        for (x1, y1), (x2, y2) in zip(
            _PIP_POLY, _PIP_POLY[1:] + _PIP_POLY[:1]
        )
    )
    return f"(VALUES {vals}) AS edges(x1, y1, x2, y2)"


@register(
    "geo_point_in_polygon",
    oracle=f"""
WITH pts AS (
  SELECT event_id,
         2 * CAST(ROUND(value * 100.0) AS BIGINT) AS px,
         200 * (event_id % 500) AS py
  FROM events
),
hits AS (
  SELECT p.event_id,
         CAST(SUM(CASE WHEN (y1 > py) != (y2 > py)
                        AND CAST(px AS DOUBLE)
                            < x1 + CAST(py - y1 AS DOUBLE) * (x2 - x1)
                                   / (y2 - y1)
                       THEN 1 ELSE 0 END) AS BIGINT) AS crossings
  FROM pts p CROSS JOIN {_pip_edges_sql()}
  GROUP BY p.event_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(crossings % 2) AS BIGINT) AS n_inside,
       CAST(SUM(CASE WHEN crossings % 2 = 1 THEN event_id ELSE 0 END)
            AS BIGINT) AS inside_id_sum
FROM hits
""",
)
def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon containment by ray casting — the geospatial
    primitive behind geofencing and footprint filters, as a pure
    relational plan: the polygon's edge list is a 5-row literal that
    BROADCASTS onto the point stream (a narrow ×E fan-out, E = edge
    count), each (point, edge) row contributes one odd/even crossing
    test against a rightward ray, and the parity of the per-point sum
    decides containment. No geometry library: the crossing test is
    arithmetic, exactly how a SQL engine without GEOMETRY types runs
    geofencing at scale.

    Robustness without an epsilon: both axes are doubled exact
    integers (even for data, odd for vertices), so a point can never
    sit ON an edge and the strict inequalities are decisive; the one
    division produces the identical IEEE double in both engines from
    identical integer inputs. Scale: the fan-out is map-side (edges
    broadcast), the parity reduce keys on the point id — one shuffle
    of E·n small rows, or zero shuffles with the crossing sum folded
    into a single aggregate expression per point when E is literal (as
    here). For million-edge polygons the edge side stops being a
    literal and the bin-then-join grid of `xmatch_binned` takes over
    (points and edges share a cell id).
    """
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        (F.lit(2) * F.round(F.col("value") * 100.0).cast("long")).alias("px"),
        (F.lit(200) * (F.col("event_id") % 500)).alias("py"),
    )
    edges = F.array(
        *[
            F.struct(
                F.lit(x1).alias("x1"),
                F.lit(y1).alias("y1"),
                F.lit(x2).alias("x2"),
                F.lit(y2).alias("y2"),
            )
            for (x1, y1), (x2, y2) in zip(
                _PIP_POLY, _PIP_POLY[1:] + _PIP_POLY[:1]
            )
        ]
    )
    e = pts.select(
        "event_id", "px", "py", F.explode(edges).alias("ed")
    ).select("event_id", "px", "py", "ed.*")
    crossing = F.when(
        ((F.col("y1") > F.col("py")) != (F.col("y2") > F.col("py")))
        & (
            F.col("px").cast("double")
            < F.col("x1")
            + (F.col("py") - F.col("y1")).cast("double")
            * (F.col("x2") - F.col("x1"))
            / (F.col("y2") - F.col("y1"))
        ),
        F.lit(1),
    ).otherwise(F.lit(0))
    hits = e.groupBy("event_id").agg(F.sum(crossing).alias("crossings"))
    return hits.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(F.col("crossings") % 2).alias("n_inside"),
        F.sum(
            F.when(F.col("crossings") % 2 == 1, F.col("event_id")).otherwise(
                F.lit(0)
            )
        ).alias("inside_id_sum"),
    )


#: calibration band: ±100.00 between the two "magnitude" columns —
#: wide enough that every populated cell holds a usable calibrator
#: sample at sf0.01 (the match band _EPS_CENTS is for identity
#: cross-match; calibration pairs tolerate a coarser association).
_PHOT_EPS = 10000

@register(
    "xmatch_photometric_offset",
    oracle=f"""
WITH c AS (
  SELECT c_custkey, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS c_cents,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) // {_PHOT_EPS} AS cell
  FROM customer
),
s AS (
  SELECT s_suppkey, CAST(ROUND(s_acctbal * 100) AS BIGINT) AS s_cents
  FROM supplier
),
pairs AS (
  SELECT c.cell, c.c_cents - s.s_cents AS d
  FROM c JOIN s
    ON CAST(ROUND(s.s_cents) AS BIGINT) // {_PHOT_EPS}
       BETWEEN c.cell - 1 AND c.cell + 1
   AND abs(c.c_cents - s.s_cents) <= {_PHOT_EPS}
),
g AS (SELECT cell, d, COUNT(*) AS n FROM pairs GROUP BY cell, d),
cum AS (
  SELECT cell, d,
         CAST(SUM(n) OVER (PARTITION BY cell ORDER BY d) AS BIGINT)
           AS cum,
         CAST(SUM(n) OVER (PARTITION BY cell) AS BIGINT) AS tot
  FROM g
)
SELECT cell, MIN(tot) AS n_pairs, MIN(d) AS offset_cents
FROM cum WHERE 2 * cum >= tot GROUP BY cell
HAVING MIN(tot) >= 5
""",
)
def xmatch_photometric_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Photometric zero-point calibration between two catalogs: for
    every matched pair (the `xmatch_binned` band-join kernel), the
    magnitude difference, then the per-CELL MEDIAN offset — the robust
    statistic survey pipelines fit to tie a new epoch's photometry to
    the reference catalog (mean offsets are wrecked by exactly the
    blended/variable sources a cross-match always contains; the median
    is the standard choice). Cells with < 5 matched pairs are dropped
    — too few calibrators.

    Reuses the bin-then-equi-join candidate structure (the supplier
    side probes its 3 neighboring cells via the BETWEEN on the cell
    id), differences are exact integer cents, and the median is the
    DISCRETE cumulative-count selection (`agg_weighted_median`) — the
    reported offset IS one of the observed differences, no
    interpolation. One shuffle to the (cell, diff) aggregate; the
    median window runs per cell over collapsed counts.
    """
    pairs = _balance_candidates(spark, sf_dir, _PHOT_EPS).select(
        "cell", (F.col("c_cents") - F.col("s_cents")).alias("d")
    )
    g = pairs.groupBy("cell", "d").agg(F.count(F.lit(1)).alias("n"))
    wc = Window.partitionBy("cell").orderBy("d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("cell")
    cum = g.select(
        "cell",
        "d",
        F.sum("n").over(wc).alias("cum"),
        F.sum("n").over(wt).alias("tot"),
    )
    return (
        cum.where(F.lit(2) * F.col("cum") >= F.col("tot"))
        .groupBy("cell")
        .agg(
            F.min("tot").alias("n_pairs"),
            F.min("d").alias("offset_cents"),
        )
        .where(F.col("n_pairs") >= 5)
    )


@register(
    "sky_lognlogs",
    oracle=f"""
WITH m AS (
  SELECT CAST(FLOOR(c_acctbal / 500.0) AS BIGINT) AS mag_bin
  FROM customer WHERE c_acctbal > 0
),
h AS (SELECT mag_bin, CAST(COUNT(*) AS BIGINT) AS n FROM m GROUP BY mag_bin),
c AS (
  SELECT mag_bin, n,
         CAST(SUM(n) OVER (ORDER BY mag_bin) AS BIGINT) AS n_brighter
  FROM h
)
SELECT mag_bin, n, n_brighter,
       CAST({grid_sql('log10(CAST(n_brighter AS DOUBLE))', 6)} AS DOUBLE) / 1000000.0
         AS log_n_cum
FROM c
""",
)
def sky_lognlogs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source counts vs limiting magnitude — the log N(<m) / log S
    diagram, astronomy's oldest statistical test (its slope separates
    Euclidean source populations from evolving ones, and a roll-off
    reveals the survey's completeness limit — the companion to
    `xmatch_completeness`): histogram the flux proxy into magnitude
    bins, cumulative-sum to counts-brighter-than, take log₁₀ on a
    1e-6 grid.

    One hash aggregation (shuffle carries occupied bins only, the
    `density_map_2d` property), one cumulative window over the
    |bins|-row histogram, exact integers until the single gridded
    log. The engine's N(<m) curve hash-matches DuckDB's bin for bin.
    """
    cu = load_table(spark, sf_dir, "customer")
    m = cu.where(F.col("c_acctbal") > 0).select(
        F.floor(F.col("c_acctbal") / F.lit(500.0)).cast("long").alias(
            "mag_bin"
        )
    )
    h = m.groupBy("mag_bin").agg(F.count(F.lit(1)).alias("n"))
    wc = Window.orderBy("mag_bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = h.select(
        "mag_bin", "n", F.sum("n").over(wc).alias("n_brighter")
    )
    log_n = (
        grid(F.log10(F.col("n_brighter").cast("double")), 6).cast("double")
        / F.lit(1e6)
    )
    return c.select("mag_bin", "n", "n_brighter", log_n.alias("log_n_cum"))


@register(
    "xmatch_three_way",
    oracle="""
WITH cat AS (
  SELECT p_partkey,
         CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents,
         CAST(p_size AS BIGINT) AS size,
         p_partkey % 3 AS cat_id
  FROM part
)
SELECT a.p_partkey AS ia, b.p_partkey AS ib, c.p_partkey AS ic,
       a.cents - b.cents AS dab_cents,
       a.cents - c.cents AS dac_cents
FROM cat a
JOIN cat b ON b.cat_id = 1
          AND abs(a.cents - b.cents) <= 25 AND abs(a.size - b.size) <= 1
JOIN cat c ON c.cat_id = 2
          AND abs(a.cents - c.cents) <= 25 AND abs(a.size - c.size) <= 1
WHERE a.cat_id = 0
ORDER BY ia, ib, ic
LIMIT 200
""",
)
def xmatch_three_way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-catalog cross-match — the multi-survey astronomy workflow
    (match optical to infrared to radio): catalog A matches B and C
    within the same 2-D tolerance, anchored on A's coordinates. Each
    stage is the `xmatch_2d` plan — home-cell binning on one side, 3×3
    neighborhood replication on the other, equi-join on the cell id,
    exact band predicate as the verify — so the chained match is two
    banded equi-joins, never a cascade of theta joins. Deltas are exact
    integer cents; the triple list orders and limits deterministically.

    At 100 TB each stage shuffles on the composite cell key and AQE
    splits hot cells (dense sky regions); stage order follows
    selectivity (match the rarest catalog first) exactly like a join
    reorder. The anchor's coordinates ride through stage 2 unchanged,
    so no re-binning pass is needed between stages.
    """
    eps_p, eps_s = 25, 1
    cat = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
        F.col("p_size").cast("long").alias("size"),
        (F.col("p_partkey") % 3).alias("cat_id"),
    )

    xy = ("cents", "size")

    def cols(key_out):
        return [
            F.col("p_partkey").alias(key_out),
            F.col("cents").alias(f"{key_out}_cents"),
            F.col("size").alias(f"{key_out}_size"),
        ]

    def catalog(cat_id):
        return cat.where(F.col("cat_id") == cat_id)

    ab = cell_join(
        catalog(0), catalog(1), xy, xy, (eps_p, eps_s),
        home_cols=cols("ia"), away_cols=cols("ib"),
    ).filter(
        (F.abs(F.col("ia_cents") - F.col("ib_cents")) <= eps_p)
        & (F.abs(F.col("ia_size") - F.col("ib_size")) <= eps_s)
    )
    # stage 2 matches the third catalog against the anchor's cells
    abc = cell_join(
        ab, catalog(2), None, xy, (eps_p, eps_s), away_cols=cols("ic")
    ).filter(
        (F.abs(F.col("ia_cents") - F.col("ic_cents")) <= eps_p)
        & (F.abs(F.col("ia_size") - F.col("ic_size")) <= eps_s)
    )
    return (
        abc.select(
            "ia",
            "ib",
            "ic",
            (F.col("ia_cents") - F.col("ib_cents")).alias("dab_cents"),
            (F.col("ia_cents") - F.col("ic_cents")).alias("dac_cents"),
        )
        .orderBy("ia", "ib", "ic")
        .limit(200)
    )


#: Bright-source exclusion mask radius (centi-degrees) and the dec-band
#: width for the survivor summary.
_MASK_R = 300
_MASK_BAND = 3000


@register(
    "xmatch_mask_exclusion",
    oracle=f"""
WITH c AS MATERIALIZED (
  SELECT obj_id AS k, ra_c AS ra, dec_c AS dec FROM ({sky_catalog_sql()})
),
m AS MATERIALIZED (
  SELECT ra_c AS ra, dec_c AS dec FROM ({sky_catalog_sql("s_suppkey")})
),
flag AS MATERIALIZED (
  SELECT k, dec,
         CASE WHEN EXISTS (
           SELECT 1 FROM m
           WHERE (c.ra - m.ra) * (c.ra - m.ra)
                 + (c.dec - m.dec) * (c.dec - m.dec) <= {_MASK_R * _MASK_R}
         ) THEN 1 ELSE 0 END AS masked
  FROM c
)
SELECT (dec + 9000) // {_MASK_BAND} AS dec_band,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(masked) AS BIGINT) AS n_masked,
       CAST(COUNT(*) - SUM(masked) AS BIGINT) AS n_clear
FROM flag
GROUP BY 1
ORDER BY 1
""",
)
def xmatch_mask_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bright-source mask exclusion — the survey-catalog hygiene step
    every photometric sample starts with: objects (customers at their
    deterministic md5 sky positions, the `cluster_grid_density` coin)
    falling within ``_MASK_R`` centi-degrees of ANY mask center
    (suppliers, same coin) are flagged, and the survivor summary is
    counted per declination band. Masks model saturated stars /
    diffraction spikes; the flat-2D integer distance matches the rest
    of the synthetic-sky family.

    The plan is the banded cross-match, not a cartesian: masks
    replicate into their 3×3 neighborhood on an ``R``-sized grid (a
    catalog-sized 9× blow-up of the SMALL side only), objects take one
    home cell, candidates meet in a cell equi-join, and the exact
    integer circle test prunes. The matched set reduces to DISTINCT
    object keys (an object inside two masks is excluded once) before a
    k-keyed flag join back onto the object stream (that subset is
    data-sized, so it shuffles rather than broadcasts) — so the
    data-sized path is: one narrow projection, one cell equi-join
    against a broadcast-scale mask table, one distinct on object key,
    one band aggregate. The oracle brute-forces the same circle
    predicate with EXISTS — banding must change nothing but cost.
    """
    obj = sky_catalog(spark, sf_dir).select(
        F.col("obj_id").alias("k"), F.col("ra_c").alias("ra"),
        F.col("dec_c").alias("dec"),
    )
    mask = sky_catalog(spark, sf_dir, "s_suppkey").select(
        F.col("ra_c").alias("m_ra"), F.col("dec_c").alias("m_dec")
    )
    masked = (
        cell_join(
            obj, F.broadcast(mask), ("ra", "(dec + 9000)"),
            ("m_ra", "(m_dec + 9000)"), (_MASK_R, _MASK_R),
        )
        .filter(
            (F.col("ra") - F.col("m_ra")) * (F.col("ra") - F.col("m_ra"))
            + (F.col("dec") - F.col("m_dec"))
            * (F.col("dec") - F.col("m_dec"))
            <= F.lit(_MASK_R * _MASK_R)
        )
        .select("k")
        .distinct()
        .withColumn("masked", F.lit(1))
    )
    # the masked-key set is DATA-sized (objects inside masks), so the
    # flag join shuffles on k — never broadcast the big side's subset
    return (
        obj.join(masked, "k", "left")
        .groupBy(
            F.expr(f"(dec + 9000) div {_MASK_BAND}").alias("dec_band")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum(F.coalesce("masked", F.lit(0))).cast("long").alias("n_masked"),
        )
        .select(
            "dec_band", "n_total", "n_masked",
            (F.col("n_total") - F.col("n_masked"))
            .cast("long")
            .alias("n_clear"),
        )
        .orderBy("dec_band")
    )


#: BLS transit search: candidate periods (days) and phase bins per fold.
_BLS_PERIODS_D = (5, 7, 9)
_BLS_NBINS = 16


def _bls_sql(tbl: str, epoch_fn: str, div: str) -> str:
    """Box-least-squares depth scan, one template for both dialects
    (only the epoch-micros function name and the integer-division
    token differ). Bin stats are exact integers; the depth score is
    double computed from identical expression text on identical ints
    (`ml_split_histogram` discipline), so the per-series argmax row is
    bit-for-bit equal in both engines."""
    day_us = 86400 * 1_000_000
    vals = ", ".join(f"({p * day_us})" for p in _BLS_PERIODS_D)
    return f"""
WITH b AS (
  SELECT event_type, p.p_us,
         ({epoch_fn}(ts) % p.p_us) {div} (p.p_us {div} {_BLS_NBINS})
           AS bin,
         {grid_sql('value', 6)} AS f
  FROM {tbl}, (VALUES {vals}) AS p(p_us)),
agg AS (
  SELECT event_type, p_us, bin,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(f) AS BIGINT) AS s
  FROM b GROUP BY 1, 2, 3),
tot AS (
  SELECT event_type, p_us,
         CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(s) AS BIGINT) AS st
  FROM agg GROUP BY 1, 2),
sc AS (
  SELECT a.event_type, a.p_us, a.bin, a.n,
         (CAST(t.st - a.s AS DOUBLE) / CAST(t.nt - a.n AS DOUBLE)
          - CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)) / 1000000.0
           AS depth
  FROM agg a
  JOIN tot t ON t.event_type = a.event_type AND t.p_us = a.p_us
  WHERE a.n < t.nt),
best AS (
  SELECT event_type, p_us, bin, n, depth,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY depth DESC, p_us, bin) AS rn
  FROM sc)
SELECT event_type,
       CAST(p_us {div} {day_us} AS BIGINT) AS period_days,
       CAST(bin AS BIGINT) AS phase_bin,
       n AS n_in_box, depth
FROM best WHERE rn = 1 ORDER BY event_type
"""


@register(
    "lightcurve_bls_box",
    oracle=_bls_sql("events", "epoch_us", "//"),
)
def lightcurve_bls_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box-least-squares transit depth scan — the exoplanet-search
    operator over folded light curves: for each series and each
    candidate period, fold on the exact integer phase grid
    (`lightcurve_fold`'s bin rule), treat each phase bin as the
    in-transit box, and score depth = mean(out) − mean(in); report
    each series' deepest (period, phase) box. A real BLS scans a dense
    period×duration grid — this is the same computation with the grid
    as a VALUES literal, so the plan shape is the production one.

    Scale: the data-sized pass is one grouped aggregation whose key
    space is |series|×|periods|×|bins| — folding a trillion
    observations shuffles only aggregated bins (the lightcurve_fold
    argument), and every downstream step runs on the bin table. Depth
    is double but computed from exact integer (n, Σflux-micro) pairs
    mirrored operand-for-operand, so the tie-broken argmax row
    hash-matches DuckDB bit-for-bit (`ml_split_histogram` precedent).
    Spark builds the kernel through the DataFrame API (converted from
    the shared-SQL form); the period grid fans out via
    explode(array(literals)) INSIDE the scan stage — a constant
    10-element generator in whole-stage codegen — instead of a
    broadcast nested-loop join against a one-column LocalRelation,
    which cost an extra exchange + join stage and ran ~2x slower
    (VERDICT r10 "period-scan regression"; measured 0.75 s vs 1.43 s
    median at sf0.1).
    """
    day_us = 86400 * 1_000_000
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.explode(
            F.array(*[F.lit(int(p * day_us)) for p in _BLS_PERIODS_D])
        ).alias("p_us"),
        "ts", "value",
    ).select(
        "event_type", "p_us",
        F.expr(
            f"(unix_micros(ts) % p_us) div (p_us div {_BLS_NBINS})"
        ).alias("bin"),
        grid("value", 6).alias("f"),
    )
    agg = b.groupBy("event_type", "p_us", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("f").cast("long").alias("s"),
    )
    tot = agg.groupBy("event_type", "p_us").agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("s").cast("long").alias("st"),
    )
    sc = (
        agg.join(tot, ["event_type", "p_us"])
        .filter(F.col("n") < F.col("nt"))
        .select(
            "event_type", "p_us", "bin", "n",
            (
                (
                    (F.col("st") - F.col("s")).cast("double")
                    / (F.col("nt") - F.col("n")).cast("double")
                    - F.col("s").cast("double")
                    / F.col("n").cast("double")
                ) / F.lit(1e6)
            ).alias("depth"),
        )
    )
    best = sc.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.col("depth").desc(), "p_us", "bin"
            )
        ),
    )
    return (
        best.filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.expr(f"CAST(p_us div {day_us} AS BIGINT)")
            .alias("period_days"),
            F.col("bin").cast("long").alias("phase_bin"),
            F.col("n").alias("n_in_box"),
            "depth",
        )
        .orderBy("event_type")
    )


#: PDM trial-period grid (integer days) and phase-bin count. Same grid
#: family as the amplitude scan (`_SCAN_PERIODS_D`): the fixture's true
#: 7-day activity cycle plus decoys on both sides.
_PDM_PERIODS_D = (3, 4, 5, 6, 7, 8, 9, 10, 11, 14)
_PDM_NBINS = 8


def _pdm_sql(tbl: str, epoch_fn: str, div: str) -> str:
    """Stellingwerf phase-dispersion-minimization scan, one template for
    both dialects (only the epoch-micros function and the integer-
    division token differ — `_bls_sql` discipline). All bin statistics
    are exact integers on a DECI-value grid (value*10: f <= ~6e3, so
    n*ss stays ~2.3e16 at the 10x sweep's sf1 — 400x inside BIGINT;
    cents would leave only 4x headroom), the per-bin dispersion term
    ``ss - s*s div n`` is a truncating integer division on positive
    values (identical in both engines), and theta is ONE double
    expression over those exact integers, so the per-series argmin row
    hash-matches bit-for-bit."""
    day_us = 86400 * 1_000_000
    vals = ", ".join(f"({p * day_us})" for p in _PDM_PERIODS_D)
    return f"""
WITH b AS (
  SELECT event_type, p.p_us,
         ({epoch_fn}(ts) % p.p_us) {div} (p.p_us {div} {_PDM_NBINS})
           AS bin,
         {grid_sql('value', 1)} AS f
  FROM {tbl}, (VALUES {vals}) AS p(p_us)),
agg AS (
  SELECT event_type, p_us, bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(f) AS BIGINT) AS s,
         CAST(SUM(f * f) AS BIGINT) AS ss
  FROM b GROUP BY 1, 2, 3),
pooled AS (
  SELECT event_type, p_us,
         CAST(SUM(ss - (s * s) {div} n) AS BIGINT) AS num_pooled,
         CAST(SUM(n) AS BIGINT) AS nt,
         CAST(SUM(s) AS BIGINT) AS st,
         CAST(SUM(ss) AS BIGINT) AS sst,
         CAST(COUNT(*) AS BIGINT) AS nbins
  FROM agg GROUP BY 1, 2),
sc AS (
  SELECT event_type, p_us, nt, nbins,
         (CAST(num_pooled AS DOUBLE) * CAST(nt - 1 AS DOUBLE))
           / (CAST(nt - nbins AS DOUBLE)
              * CAST(sst - (st * st) {div} nt AS DOUBLE)) AS theta
  FROM pooled
  WHERE nt > nbins AND sst - (st * st) {div} nt > 0),
best AS (
  SELECT event_type, p_us, nt, nbins, theta,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY theta ASC, p_us) AS rn
  FROM sc)
SELECT event_type,
       CAST(p_us {div} {day_us} AS BIGINT) AS period_days,
       nt AS n_obs, nbins AS nbins_used, theta
FROM best WHERE rn = 1 ORDER BY event_type
"""


@register(
    "lightcurve_pdm_theta",
    oracle=_pdm_sql("events", "epoch_us", "//"),
)
def lightcurve_pdm_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-dispersion-minimization period search (Stellingwerf 1978)
    — the variance-ratio complement to the amplitude scan
    (`lightcurve_period_scan`) and the box scan (`lightcurve_bls_box`):
    fold each series on every trial period (exact integer phase bins),
    and score theta = pooled within-bin dispersion / total dispersion.
    A true period aligns like phases, collapsing within-bin variance
    (theta << 1); a wrong period leaves theta ~= 1. PDM needs no
    sinusoid assumption, so it finds non-sinusoidal variables (eclipses,
    eruptives) that a Fourier scan smears — and it needs no
    transcendental functions, which is what keeps it oracle-exact.

    Scale: identical shape to BLS — ONE data-sized grouped aggregation
    whose key space is |series| x |periods| x |bins| with map-side
    partials, then everything downstream runs on the bin table. A
    trillion-row log shuffles only aggregated (n, sum-f, sum-f2) bins.
    Spark builds the kernel through the DataFrame API (converted from
    the shared-SQL form); the integer dispersion terms are identical
    F.expr fragments. The period grid fans out via
    explode(array(literals)) inside the scan stage (whole-stage
    codegen) rather than a broadcast nested-loop join against a
    LocalRelation — the join form cost an extra exchange + join stage
    and ran ~2x slower (VERDICT r10 "period-scan regression").
    """
    day_us = 86400 * 1_000_000
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.explode(
            F.array(*[F.lit(int(p * day_us)) for p in _PDM_PERIODS_D])
        ).alias("p_us"),
        "ts", "value",
    ).select(
        "event_type", "p_us",
        F.expr(
            f"(unix_micros(ts) % p_us) div (p_us div {_PDM_NBINS})"
        ).alias("bin"),
        grid("value", 1).alias("f"),
    )
    agg = b.groupBy("event_type", "p_us", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("f").cast("long").alias("s"),
        F.sum(F.col("f") * F.col("f")).cast("long").alias("ss"),
    )
    pooled = agg.groupBy("event_type", "p_us").agg(
        F.sum(F.expr("ss - (s * s) div n")).cast("long")
        .alias("num_pooled"),
        F.sum("n").cast("long").alias("nt"),
        F.sum("s").cast("long").alias("st"),
        F.sum("ss").cast("long").alias("sst"),
        F.count(F.lit(1)).cast("long").alias("nbins"),
    )
    tvar = F.expr("sst - (st * st) div nt")
    sc = pooled.filter(
        (F.col("nt") > F.col("nbins")) & (tvar > 0)
    ).select(
        "event_type", "p_us", "nt", "nbins",
        (
            (
                F.col("num_pooled").cast("double")
                * (F.col("nt") - 1).cast("double")
            )
            / (
                (F.col("nt") - F.col("nbins")).cast("double")
                * tvar.cast("double")
            )
        ).alias("theta"),
    )
    best = sc.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.col("theta").asc(), "p_us"
            )
        ),
    )
    return (
        best.filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.expr(f"CAST(p_us div {day_us} AS BIGINT)")
            .alias("period_days"),
            F.col("nt").alias("n_obs"),
            F.col("nbins").alias("nbins_used"),
            "theta",
        )
        .orderBy("event_type")
    )


def _eta_sql(tbl: str) -> str:
    """Von Neumann variability index, single shared text (no dialect
    tokens needed: lag window + integer sums parse identically in both
    engines). Values on the exact cent grid; eta is ONE double
    expression over exact integer sums (products in double are
    correctly rounded identically — all operands < 2^53)."""
    return f"""
WITH v AS (
  SELECT event_type,
         {grid_sql('value', 2)} AS f,
         LAG({grid_sql('value', 2)})
           OVER (PARTITION BY event_type ORDER BY ts, event_id) AS fp
  FROM {tbl}),
s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(f) AS BIGINT) AS sv,
         CAST(SUM(f * f) AS BIGINT) AS sv2,
         CAST(SUM(CASE WHEN fp IS NULL THEN 0
                       ELSE (f - fp) * (f - fp) END) AS BIGINT) AS sd2
  FROM v GROUP BY 1)
SELECT event_type, n,
       (CAST(n AS DOUBLE) * CAST(sd2 AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sv2 AS DOUBLE)
            - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)) AS eta
FROM s
WHERE n > 1 ORDER BY event_type
"""


@register(
    "lightcurve_eta_von_neumann",
    oracle=_eta_sql("events"),
)
def lightcurve_eta_von_neumann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Von Neumann eta variability index — the standard first-pass
    variability classifier for survey light curves: eta = mean
    successive squared difference / variance. Smooth trends and
    periodic signals make successive points correlated (eta < 2);
    pure noise gives eta ~= 2; anti-correlated jitter pushes higher.
    Cheap enough to compute for every object in a catalog, it is the
    shortlist filter upstream of the expensive period scans
    (`lightcurve_pdm_theta`, `lightcurve_bls_box`).

    Scale: one shuffle on the series key; the lag window and the sums
    both evaluate within each series partition, and the output is one
    row per series. The only data-sized motion is the partition-by
    exchange a per-series statistic cannot avoid. Spark builds the
    kernel through the DataFrame API (converted from the shared-SQL
    form) with the eta double mirrored operand-for-operand.
    """
    ev = load_table(spark, sf_dir, "events")
    f = grid("value", 2)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    v = ev.select("event_type", f.alias("f"), F.lag(f).over(w).alias("fp"))
    s = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("f").cast("long").alias("sv"),
        F.sum(F.col("f") * F.col("f")).cast("long").alias("sv2"),
        F.sum(
            F.when(F.col("fp").isNull(), 0).otherwise(
                (F.col("f") - F.col("fp")) * (F.col("f") - F.col("fp"))
            )
        ).cast("long").alias("sd2"),
    )
    nd = F.col("n").cast("double")
    eta = (nd * F.col("sd2").cast("double")) / (
        nd * F.col("sv2").cast("double")
        - F.col("sv").cast("double") * F.col("sv").cast("double")
    )
    return (
        s.filter(F.col("n") > 1)
        .select("event_type", "n", eta.alias("eta"))
        .orderBy("event_type")
    )


def _string_length_sql(tbl: str, epoch_fn: str, div: str) -> str:
    """Dworetsky string-length period scan (L1 variant), one template
    for both dialects. Phase and magnitude both land on exact integer
    10000-grids (phase: ``(t mod P)*10^4 div P``; magnitude: min/max-
    normalized deci-values), every per-step length is
    ``|dm| + |dphase|`` — pure integers, so the per-(series, period)
    sum is exact and order-free, unlike the classic sqrt form whose
    cross-row float summation would be engine-order-dependent. The
    phase-sort window is fully tie-broken (phase, magnitude, event_id;
    event_id is unique in the fixtures)."""
    day_us = 86400 * 1_000_000
    vals = ", ".join(f"({p * day_us})" for p in _PDM_PERIODS_D)
    return f"""
WITH mm AS (
  SELECT event_type,
         MIN({grid_sql('value', 1)}) AS mn,
         MAX({grid_sql('value', 1)}) AS mx
  FROM {tbl} GROUP BY event_type),
b AS (
  SELECT e.event_type, p.p_us,
         ((({epoch_fn}(ts) % p.p_us) * 10000) {div} p.p_us) AS phg,
         ((({grid_sql('value', 1)} - mm.mn) * 10000)
            {div} (mm.mx - mm.mn + 1)) AS mg,
         event_id
  FROM {tbl} e JOIN mm ON mm.event_type = e.event_type,
       (VALUES {vals}) AS p(p_us)),
d AS (
  SELECT event_type, p_us,
         ABS(mg - LAG(mg) OVER w) + ABS(phg - LAG(phg) OVER w) AS step
  FROM b
  WINDOW w AS (PARTITION BY event_type, p_us
               ORDER BY phg, mg, event_id)),
s AS (
  SELECT event_type, p_us, CAST(SUM(step) AS BIGINT) AS l1_length
  FROM d WHERE step IS NOT NULL GROUP BY event_type, p_us),
best AS (
  SELECT event_type, p_us, l1_length,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY l1_length ASC, p_us) AS rn
  FROM s)
SELECT event_type,
       CAST(p_us {div} {day_us} AS BIGINT) AS period_days,
       l1_length
FROM best WHERE rn = 1 ORDER BY event_type
"""


@register(
    "lightcurve_string_length",
    oracle=_string_length_sql("events", "epoch_us", "//"),
)
def lightcurve_string_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-length period search (Dworetsky 1983, L1 form) — the
    third member of the period-scan family, orthogonal to both: PDM
    (`lightcurve_pdm_theta`) bins phases and scores dispersion, BLS
    (`lightcurve_bls_box`) assumes a box transit; string-length bins
    NOTHING — it folds, sorts by phase, and sums consecutive jumps in
    (phase, magnitude), so sparse and irregularly sampled curves that
    leave phase bins empty still score correctly. The true period
    minimizes the string length.

    Scale: the x|periods| fan-out flows into per-(series, period) sort
    windows rather than a hash agg — the one period scan whose cost is
    a sort, which is exactly its production trade-off: for dense
    series prefer PDM's aggregation; for sparse series the sort input
    is small by definition. Everything is exact integers (see
    `_string_length_sql`), so the argmin row hash-matches. Spark
    builds the kernel through the DataFrame API (converted from the
    shared-SQL form); the period table broadcasts, integer grids are
    identical F.expr fragments.
    """
    day_us = 86400 * 1_000_000
    ev = load_table(spark, sf_dir, "events")
    v10 = grid("value", 1)
    mm = ev.groupBy("event_type").agg(
        F.min(v10).alias("mn"), F.max(v10).alias("mx")
    )
    periods = local_frame(
        spark, [(int(p * day_us),) for p in _PDM_PERIODS_D], "p_us LONG"
    )
    b = (
        ev.join(mm, "event_type")
        .crossJoin(F.broadcast(periods))
        .select(
            "event_type", "p_us",
            F.expr(
                "((unix_micros(ts) % p_us) * 10000) div p_us"
            ).alias("phg"),
            F.expr(
                f"((({grid_sql('value', 1)} - mn)"
                " * 10000) div (mx - mn + 1))"
            ).alias("mg"),
            "event_id",
        )
    )
    wp = Window.partitionBy("event_type", "p_us").orderBy(
        "phg", "mg", "event_id"
    )
    d = b.select(
        "event_type", "p_us",
        (
            F.abs(F.col("mg") - F.lag("mg").over(wp))
            + F.abs(F.col("phg") - F.lag("phg").over(wp))
        ).alias("step"),
    )
    s = (
        d.filter(F.col("step").isNotNull())
        .groupBy("event_type", "p_us")
        .agg(F.sum("step").cast("long").alias("l1_length"))
    )
    best = s.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.col("l1_length").asc(), "p_us"
            )
        ),
    )
    return (
        best.filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.expr(f"CAST(p_us div {day_us} AS BIGINT)")
            .alias("period_days"),
            "l1_length",
        )
        .orderBy("event_type")
    )


#: Lomb–Scargle trial periods (days) — irregular-sampling periodogram.
_LS_PERIODS_D = (2.5, 3.0, 4.0, 5.0, 7.0, 9.0, 11.0, 14.0)
_LS_S = 6  # per-term grid scale before any sum


@register(
    "lightcurve_lomb_scargle",
    oracle=f"""
WITH pts AS (
  SELECT CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0 AS t,
         CAST({grid_sql('value', 2)} AS DOUBLE) / 100.0
           AS y
  FROM events WHERE event_type = 'purchase'
),
terms AS (
  SELECT p.period_d,
         {grid_sql('y * cos(2.0 * pi() * t / p.period_d)', 6)} AS yc,
         {grid_sql('y * sin(2.0 * pi() * t / p.period_d)', 6)} AS ys,
         {grid_sql('cos(2.0 * pi() * t / p.period_d)', 6)} AS c1,
         {grid_sql('sin(2.0 * pi() * t / p.period_d)', 6)} AS s1,
         {grid_sql('''cos(2.0 * pi() * t / p.period_d)
                    * cos(2.0 * pi() * t / p.period_d)''', 6)} AS cc,
         {grid_sql('''sin(2.0 * pi() * t / p.period_d)
                    * sin(2.0 * pi() * t / p.period_d)''', 6)} AS ss,
         {grid_sql('''sin(2.0 * pi() * t / p.period_d)
                    * cos(2.0 * pi() * t / p.period_d)''', 6)} AS sc,
         {grid_sql('y', 6)} AS yg
  FROM pts,
       (SELECT UNNEST([{", ".join(str(p) for p in _LS_PERIODS_D)}])
          AS period_d) p
),
agg AS (
  SELECT period_d, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(yc) AS DOUBLE) / 1000000.0 AS yc,
         CAST(SUM(ys) AS DOUBLE) / 1000000.0 AS ys,
         CAST(SUM(c1) AS DOUBLE) / 1000000.0 AS c1,
         CAST(SUM(s1) AS DOUBLE) / 1000000.0 AS s1,
         CAST(SUM(cc) AS DOUBLE) / 1000000.0 AS cc,
         CAST(SUM(ss) AS DOUBLE) / 1000000.0 AS ss,
         CAST(SUM(sc) AS DOUBLE) / 1000000.0 AS sc,
         CAST(SUM(yg) AS DOUBLE) / 1000000.0 AS sy
  FROM terms GROUP BY period_d
),
tau AS (
  SELECT *, atan2(2.0 * sc - 2.0 * s1 * c1 / n,
                  cc - ss - (c1 * c1 - s1 * s1) / n) / 2.0 AS wtau,
         sy / n AS ybar
  FROM agg
),
comp AS (
  SELECT period_d, n,
         (yc - ybar * c1) * cos(wtau) + (ys - ybar * s1) * sin(wtau)
           AS num_c,
         (ys - ybar * s1) * cos(wtau) - (yc - ybar * c1) * sin(wtau)
           AS num_s,
         cc * cos(wtau) * cos(wtau) + ss * sin(wtau) * sin(wtau)
           + 2.0 * sc * sin(wtau) * cos(wtau)
           - (c1 * cos(wtau) + s1 * sin(wtau))
             * (c1 * cos(wtau) + s1 * sin(wtau)) / n AS den_c,
         ss * cos(wtau) * cos(wtau) + cc * sin(wtau) * sin(wtau)
           - 2.0 * sc * sin(wtau) * cos(wtau)
           - (s1 * cos(wtau) - c1 * sin(wtau))
             * (s1 * cos(wtau) - c1 * sin(wtau)) / n AS den_s
  FROM tau
)
SELECT period_d, n,
       {grid_sql('0.5 * (num_c * num_c / den_c + num_s * num_s / den_s)', 6)}
         AS p_ls_micro
FROM comp
ORDER BY period_d
""",
)
def lightcurve_lomb_scargle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lomb–Scargle periodogram at a trial-period grid — the
    irregular-sampling periodogram astronomy actually uses (the DFT
    probe `ts_spectral_power` needs the regular daily grid; LS weights
    each REAL observation time, so gaps and uneven cadence don't alias
    power away). Implemented in the generalized single-pass form: per
    row only the 8 trig projection terms (y·cos, y·sin, cos, sin,
    cos², sin², sin·cos, y) are computed and FLOOR-GRIDDED onto 1e-6
    micro-units before aggregation (ts_spectral_power's libm
    discipline — no ordered-float accumulation anywhere); the phase
    offset τ (atan2), mean-centering, and the normalized power then
    derive from the 8 exact aggregate sums by scalar double math with
    identical expression text in both engines.

    Scale: ONE data-sized pass over (event, trial period) — the
    |periods|-row VALUES grid fans out as a broadcast, partial
    aggregation is map-side combinable, and everything after the
    8-rows-per-period reduction is constant work. At 100 TB widen the
    period grid, not the shape: cost is rows × periods, embarrassingly
    parallel, no shuffle beyond the 8-key aggregate.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    pts = ev.select(
        (F.unix_micros("ts").cast("double") / F.lit(86400000000.0)).alias("t"),
        (
            grid("value", 2).cast("double")
            / F.lit(100.0)
        ).alias("y"),
    )
    spec = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in _LS_PERIODS_D])).alias("period_d")
    )
    ph = F.lit(2.0) * F.lit(math.pi) * F.col("t") / F.col("period_d")

    def g(expr):
        return grid(expr, _LS_S)

    terms = pts.crossJoin(F.broadcast(spec)).select(
        "period_d",
        g(F.col("y") * F.cos(ph)).alias("yc"),
        g(F.col("y") * F.sin(ph)).alias("ys"),
        g(F.cos(ph)).alias("c1"),
        g(F.sin(ph)).alias("s1"),
        g(F.cos(ph) * F.cos(ph)).alias("cc"),
        g(F.sin(ph) * F.sin(ph)).alias("ss"),
        g(F.sin(ph) * F.cos(ph)).alias("sc"),
        g(F.col("y")).alias("yg"),
    )

    def d(c):
        return F.sum(c).cast("double") / F.lit(float(10**_LS_S))

    agg = terms.groupBy("period_d").agg(
        F.count(F.lit(1)).alias("n"),
        d("yc").alias("yc"), d("ys").alias("ys"),
        d("c1").alias("c1"), d("s1").alias("s1"),
        d("cc").alias("cc"), d("ss").alias("ss"),
        d("sc").alias("sc"), d("yg").alias("sy"),
    )
    wtau = F.atan2(
        F.lit(2.0) * F.col("sc")
        - F.lit(2.0) * F.col("s1") * F.col("c1") / F.col("n"),
        F.col("cc") - F.col("ss")
        - (F.col("c1") * F.col("c1") - F.col("s1") * F.col("s1")) / F.col("n"),
    ) / F.lit(2.0)
    tau = agg.select(
        "*", wtau.alias("wtau"), (F.col("sy") / F.col("n")).alias("ybar")
    )
    cw, sw = F.cos(F.col("wtau")), F.sin(F.col("wtau"))
    num_c = (F.col("yc") - F.col("ybar") * F.col("c1")) * cw + (
        F.col("ys") - F.col("ybar") * F.col("s1")
    ) * sw
    num_s = (F.col("ys") - F.col("ybar") * F.col("s1")) * cw - (
        F.col("yc") - F.col("ybar") * F.col("c1")
    ) * sw
    den_c = (
        F.col("cc") * cw * cw
        + F.col("ss") * sw * sw
        + F.lit(2.0) * F.col("sc") * sw * cw
        - (F.col("c1") * cw + F.col("s1") * sw)
        * (F.col("c1") * cw + F.col("s1") * sw)
        / F.col("n")
    )
    den_s = (
        F.col("ss") * cw * cw
        + F.col("cc") * sw * sw
        - F.lit(2.0) * F.col("sc") * sw * cw
        - (F.col("s1") * cw - F.col("c1") * sw)
        * (F.col("s1") * cw - F.col("c1") * sw)
        / F.col("n")
    )
    comp = tau.select(
        "period_d", "n",
        num_c.alias("num_c"), num_s.alias("num_s"),
        den_c.alias("den_c"), den_s.alias("den_s"),
    )
    return comp.select(
        "period_d",
        "n",
        grid(
            F.lit(0.5)
            * (
                F.col("num_c") * F.col("num_c") / F.col("den_c")
                + F.col("num_s") * F.col("num_s") / F.col("den_s")
            ),
            6,
        )
        .alias("p_ls_micro"),
    ).orderBy("period_d")


@register(
    "xmatch_offset_false_rate",
    oracle=f"""
WITH a AS (
  SELECT p_partkey,
         CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents,
         CAST(p_size AS BIGINT) AS size
  FROM part WHERE p_partkey % 2 = 0
),
b AS (
  SELECT p_partkey,
         CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents,
         CAST(p_size AS BIGINT) AS size
  FROM part WHERE p_partkey % 2 = 1
),
true_m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n
  FROM a JOIN b ON abs(a.cents - b.cents) <= 25
                AND abs(a.size - b.size) <= 1
),
off_m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n
  FROM a JOIN b ON abs(a.cents - (b.cents + 1000)) <= 25
                AND abs(a.size - b.size) <= 1
)
SELECT true_m.n AS n_true, off_m.n AS n_offset,
       {grid_sql('CAST(off_m.n AS DOUBLE) / true_m.n', 6)} AS false_rate_micro,
       CAST(true_m.n - off_m.n AS BIGINT) AS n_real_excess
FROM true_m CROSS JOIN off_m
""",
)
def xmatch_offset_false_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset-catalog false-match estimate — the standard cross-match
    validation: re-run the match with one catalog artificially shifted
    far beyond the tolerance (here +10 on the price axis) so every
    surviving pair is chance coincidence, and report the
    offset-to-true ratio as the contamination estimate (the companion
    to `xmatch_completeness`'s recall side). Both passes use the
    xmatch_2d cell-grid join — each row hashes to its home cell, one
    side replicates into the 3x3 neighborhood, exact band predicates
    prune — so the offset pass costs the same as the real one, never a
    cartesian.

    100-TB posture: two cell-partitioned equi-joins; the offset is a
    constant added before cell assignment, so the plan is identical.
    """
    eps_p, eps_s, cell_p = 25, 1, 25

    def catalog(parity: int, shift: int) -> DataFrame:
        return (
            load_table(spark, sf_dir, "part")
            .where(F.pmod("p_partkey", F.lit(2)) == parity)
            .select(
                "p_partkey",
                (
                    F.round(F.col("p_retailprice") * 100).cast("long")
                    + F.lit(shift)
                ).alias("cents"),
                F.col("p_size").cast("long").alias("size"),
            )
        )

    def match_count(shift: int) -> DataFrame:
        a = catalog(0, 0)
        b = catalog(1, shift)
        bg = b.select(
            "cents", "size",
            F.explode(
                F.sequence(
                    F.expr(f"cents div {cell_p} - 1"),
                    F.expr(f"cents div {cell_p} + 1"),
                )
            ).alias("pc"),
            F.explode(F.sequence(F.col("size") - 1, F.col("size") + 1))
            .alias("sc"),
        )
        ag = a.select(
            F.col("cents").alias("a_cents"),
            F.col("size").alias("a_size"),
            F.expr(f"cents div {cell_p}").alias("pc"),
            F.col("size").alias("sc"),
        )
        return (
            ag.join(bg, ["pc", "sc"])
            .where(
                (F.abs(F.col("a_cents") - F.col("cents")) <= eps_p)
                & (F.abs(F.col("a_size") - F.col("size")) <= eps_s)
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )

    t = match_count(0).select(F.col("n").alias("n_true"))
    o = match_count(1000).select(F.col("n").alias("n_offset"))
    return t.crossJoin(F.broadcast(o)).select(
        "n_true", "n_offset",
        grid(
            F.col("n_offset").cast("double") / F.col("n_true"), 6
        ).alias("false_rate_micro"),
        (F.col("n_true") - F.col("n_offset")).cast("long")
        .alias("n_real_excess"),
    )


@register(
    "ts_spectral_entropy",
    oracle=f"""
WITH daily AS (
  SELECT event_type,
         epoch_us(date_trunc('day', ts)) // 86400000000 AS day_idx,
         SUM({grid_sql('value', 2)}) AS cv
  FROM events GROUP BY 1, 2
),
base AS (
  SELECT event_type, day_idx - MIN(day_idx) OVER (PARTITION BY event_type)
           AS t, CAST(cv AS DOUBLE) / 100.0 AS v
  FROM daily
),
terms AS (
  SELECT event_type, p.period_d,
         {grid_sql('v * cos(2 * pi() * t / p.period_d)', 6)} AS c_term,
         {grid_sql('v * sin(2 * pi() * t / p.period_d)', 6)} AS s_term
  FROM base,
       (SELECT UNNEST([{", ".join(str(p) for p in _DFT_PERIODS_D)}])
          AS period_d) p
),
coef AS (
  SELECT event_type, period_d,
         CAST(SUM(c_term) AS DOUBLE) / 1000000.0 AS re_part,
         CAST(SUM(s_term) AS DOUBLE) / 1000000.0 AS im_part
  FROM terms GROUP BY event_type, period_d
),
pw AS (
  SELECT event_type, period_d,
         {grid_sql('re_part * re_part + im_part * im_part', 3)} AS p_milli
  FROM coef
),
tot AS (
  SELECT event_type, CAST(SUM(p_milli) AS BIGINT) AS p_tot,
         CAST(MAX(p_milli) AS BIGINT) AS p_max
  FROM pw GROUP BY event_type
),
ent AS (
  SELECT pw.event_type,
         CAST(SUM(CASE WHEN pw.p_milli > 0 THEN
           {grid_sql('''-(CAST(pw.p_milli AS DOUBLE) / tot.p_tot)
                      * ln(CAST(pw.p_milli AS DOUBLE) / tot.p_tot)''', 9)}
           ELSE 0 END) AS BIGINT) AS h_nano
  FROM pw JOIN tot ON pw.event_type = tot.event_type
  GROUP BY pw.event_type
),
dom AS (
  SELECT event_type, MIN(period_d) AS dominant_period
  FROM pw JOIN tot USING (event_type)
  WHERE p_milli = p_max GROUP BY event_type
)
SELECT ent.event_type,
       {grid_sql(f'''CAST(ent.h_nano AS DOUBLE)
                  / ln({len(_DFT_PERIODS_D)}.0) / 1000.0''', 0)}
         AS spectral_entropy_norm_micro,
       CAST(dom.dominant_period AS BIGINT) AS dominant_period,
       {grid_sql('CAST(tot.p_max AS DOUBLE) / tot.p_tot', 6)} AS concentration_micro
FROM ent JOIN dom ON ent.event_type = dom.event_type
JOIN tot ON ent.event_type = tot.event_type
ORDER BY ent.event_type
""",
)
def ts_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized spectral entropy over the candidate-period power set
    — the HOW-PERIODIC-IS-IT summary that compresses
    `ts_spectral_power`'s per-period coefficients into one number per
    series (near 0 = one harmonic dominates, near 1 = power spread
    flat; the signal-vs-noise triage a variability pipeline runs
    before fitting periods), completing the entropy triptych with
    `ts_permutation_entropy` (ordinal) and `ts_sample_entropy`
    (amplitude regularity).

    Determinism ladder: per-day cos/sin terms grid to micro longs
    BEFORE summation (the ts_spectral_power discipline); each
    period's power grids to milli longs; each period's -p·ln(p) term
    grids to nano longs before the per-series sum; the dominant
    period breaks power ties by smallest period; the concentration
    ratio is ONE double division over exact longs (a p_max*1e6
    cross-multiply overflows BIGINT past sf0.1 — overflow ledger:
    p_milli <= ~9e17 at sf1, drop the power grid to micro past 100x).
    No ordered-float accumulation anywhere.

    100-TB posture: identical to ts_spectral_power — daily rollup is
    the only data-sized pass; everything after runs on
    |types| x |periods| rows.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.floor(
            F.unix_micros(F.date_trunc("day", F.col("ts")))
            / F.lit(86_400_000_000)
        ).alias("day_idx"),
    ).agg(
        F.sum(grid("value", 2)).alias("cv")
    )
    wmin = Window.partitionBy("event_type")
    base = daily.select(
        "event_type",
        (F.col("day_idx") - F.min("day_idx").over(wmin)).alias("t"),
        (F.col("cv").cast("double") / F.lit(100.0)).alias("v"),
    )
    ang = (
        F.lit(2.0) * F.lit(math.pi) * F.col("t") / F.col("period_d")
    )
    terms = base.select(
        "event_type", "v", "t",
        F.explode(
            F.array(*[F.lit(p) for p in _DFT_PERIODS_D])
        ).alias("period_d"),
    ).select(
        "event_type", "period_d",
        grid(F.col("v") * F.cos(ang), 6).alias("c_term"),
        grid(F.col("v") * F.sin(ang), 6).alias("s_term"),
    )
    coef = terms.groupBy("event_type", "period_d").agg(
        (F.sum("c_term").cast("double") / F.lit(1e6)).alias("re_part"),
        (F.sum("s_term").cast("double") / F.lit(1e6)).alias("im_part"),
    )
    pw = coef.select(
        "event_type", "period_d",
        grid(
            F.col("re_part") * F.col("re_part") + F.col("im_part") * F.col("im_part"), 3
        ).alias("p_milli"),
    )
    # r12 (guide §2.4): the totals used to be a groupBy + broadcast
    # self-join, and the final select joined `tot` AGAIN — three copies
    # of the whole daily-rollup lineage in one plan (the before plan
    # shows the duplicated scan subtrees; ~15 Exchanges). The per-type
    # total/max now ride a window over the collapsed |types|×|periods|
    # table and ONE aggregate emits entropy, dominant period and
    # concentration together — identical grids and arithmetic, single
    # events scan.
    wt = Window.partitionBy("event_type")
    joined = pw.select(
        "event_type", "period_d", "p_milli",
        F.sum("p_milli").over(wt).cast("long").alias("p_tot"),
        F.max("p_milli").over(wt).cast("long").alias("p_max"),
    )
    p = F.col("p_milli").cast("double") / F.col("p_tot")
    hterm = F.when(
        F.col("p_milli") > 0,
        grid(-p * F.log(p), 9),
    ).otherwise(F.lit(0))
    return (
        joined.groupBy("event_type")
        .agg(
            F.sum(hterm).cast("long").alias("h_nano"),
            F.min(
                F.when(F.col("p_milli") == F.col("p_max"), F.col("period_d"))
            ).cast("long").alias("dominant_period"),
            F.max("p_tot").alias("p_tot"),
            F.max("p_max").alias("p_max"),
        )
        .select(
            "event_type",
            grid(
                F.col("h_nano").cast("double")
                / F.lit(math.log(float(len(_DFT_PERIODS_D))))
                / F.lit(1e3),
                0,
            ).alias("spectral_entropy_norm_micro"),
            "dominant_period",
            grid(
                F.col("p_max").cast("double") / F.col("p_tot"), 6
            ).alias("concentration_micro"),
        )
        .orderBy("event_type")
    )


@register(
    "lightcurve_stetson_jk",
    oracle=f"""
WITH m AS (
  SELECT user_id, ts, event_id,
         {grid_sql('value', 3)} AS v3
  FROM events
),
s AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v3) AS BIGINT) AS sy,
         CAST(SUM(v3 * v3) AS BIGINT) AS syy
  FROM m GROUP BY user_id
  HAVING COUNT(*) >= 10
   AND COUNT(*) * SUM(v3 * v3) > SUM(v3) * SUM(v3)
),
d AS (
  SELECT m.user_id, m.ts, m.event_id,
         {grid_sql('''(CAST(m.v3 AS DOUBLE) - CAST(s.sy AS DOUBLE) / s.n)
                    / sqrt((CAST(s.syy AS DOUBLE)
                            - CAST(s.sy AS DOUBLE) * s.sy / s.n)
                           / (CAST(s.n AS DOUBLE) - 1.0))''', 6)} AS d6
  FROM m JOIN s ON m.user_id = s.user_id
),
p AS (
  SELECT user_id, d6,
         LEAD(d6) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS d6n
  FROM d
),
terms AS (
  SELECT user_id,
         CASE WHEN d6 * d6n > 0 THEN
                {grid_sql('sqrt(CAST(abs(d6 * d6n) AS DOUBLE))', 0)}
              WHEN d6 * d6n < 0 THEN
                -{grid_sql('sqrt(CAST(abs(d6 * d6n) AS DOUBLE))', 0)}
              ELSE 0 END AS t6,
         abs(d6) AS a6
  FROM p WHERE d6n IS NOT NULL
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(t6) AS BIGINT) AS jsum_micro,
       {grid_sql('CAST(SUM(t6) AS DOUBLE) / COUNT(*) / 1000.0', 0)} AS j_milli,
       {grid_sql('CAST(SUM(a6) AS DOUBLE) / (COUNT(*) + 1) / 1000.0', 0)} AS k_milli
FROM terms GROUP BY user_id ORDER BY user_id
""",
)
def lightcurve_stetson_jk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stetson J/K variability indices per object — the robust
    variability statistics (Stetson 1996) a survey runs after
    `lightcurve_eta_von_neumann`: J correlates CONSECUTIVE residual
    pairs (a real variable wanders coherently, noise does not — J ~ 0
    for noise, J > 0 for correlated variation), K is the mean-absolute
    to rms residual ratio (0.798 Gaussian, ~0.9 sinusoid, smaller for
    spiky curves).

    Determinism ladder: magnitudes grid to milli at birth; per-object
    mean/std come off exact (n, sy, syy) long sums; standardized
    residuals grid to micro BEFORE pairing, so each pair product is an
    exact int64 (|d6·d6n| <= ~1e14) whose signed root re-grids to
    micro per pair; the per-object J/K reductions sum exact longs. The
    HAVING guard drops constant curves (zero variance) and n < 10.

    100-TB posture: one shuffle on the object key (shared with every
    lightcurve_* kernel); the pair window is per-object ordered, the
    reductions map-side combinable. jsum may be negative — the final
    per-object means divide as DOUBLE (not integer div) because Spark
    `div` truncates while DuckDB `//` floors, and they disagree below
    zero (overflow ledger note in SCALE.md).
    """
    ev = load_table(spark, sf_dir, "events")
    m = ev.select(
        "user_id", "ts", "event_id",
        grid("value", 3).alias("v3"),
    )
    s = (
        m.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v3").cast("long").alias("sy"),
            F.sum(F.col("v3") * F.col("v3")).cast("long").alias("syy"),
        )
        .filter(
            (F.col("n") >= 10)
            & (F.col("n") * F.col("syy") > F.col("sy") * F.col("sy"))
        )
    )
    nd = F.col("n").cast("double")
    d6 = grid(
        (F.col("v3").cast("double") - F.col("sy").cast("double") / F.col("n"))
        / F.sqrt(
            (
                F.col("syy").cast("double")
                - F.col("sy").cast("double") * F.col("sy") / F.col("n")
            ) / (nd - F.lit(1.0))
        ),
        6,
    )
    d = m.join(s, "user_id").select("user_id", "ts", "event_id", d6.alias("d6"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = d.select("user_id", "d6", F.lead("d6").over(w).alias("d6n")).filter(
        F.col("d6n").isNotNull()
    )
    prod = F.col("d6") * F.col("d6n")
    root = grid(F.sqrt(F.abs(prod).cast("double")), 0)
    terms = p.select(
        "user_id",
        F.when(prod > 0, root).when(prod < 0, -root).otherwise(F.lit(0))
        .alias("t6"),
        F.abs(F.col("d6")).alias("a6"),
    )
    cnt = F.count(F.lit(1))
    return (
        terms.groupBy("user_id")
        .agg(
            cnt.cast("long").alias("n_pairs"),
            F.sum("t6").cast("long").alias("jsum_micro"),
            grid(F.sum("t6").cast("double") / cnt / F.lit(1000.0), 0).alias("j_milli"),
            grid(
                F.sum("a6").cast("double") / (cnt + F.lit(1)) / F.lit(1000.0), 0
            ).alias("k_milli"),
        )
        .orderBy("user_id")
    )


@register(
    "xmatch_proper_motion",
    oracle=f"""
WITH obs AS (
  SELECT user_id,
         epoch_us(ts) // 86400000000 AS day,
         {grid_sql('value', 3)} AS pos3
  FROM events
),
anch AS (
  SELECT user_id, day - MIN(day) OVER (PARTITION BY user_id) AS t, pos3
  FROM obs
),
sums AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS st,
         CAST(SUM(t * t) AS BIGINT) AS stt,
         CAST(SUM(pos3) AS BIGINT) AS sy,
         CAST(SUM(t * pos3) AS BIGINT) AS sty,
         CAST(MAX(t) AS BIGINT) AS span_days
  FROM anch GROUP BY user_id
  HAVING COUNT(*) >= 5 AND MAX(t) > 0
),
fit AS (
  SELECT user_id, n, span_days,
         (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st) AS mu
  FROM sums
  WHERE CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st > 0.0
)
SELECT user_id, n AS n_epochs, span_days,
       {grid_sql('mu', 3)} AS pm_micro_per_day,
       {grid_sql('mu * span_days', 0)} AS drift_milli,
       abs(mu * span_days) > 50.0 AS high_pm
FROM fit ORDER BY user_id
""",
)
def xmatch_proper_motion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proper-motion fit per object — the multi-epoch astrometry step
    after `xmatch_epoch` (two-epoch offsets): each object's position
    drifts linearly over the survey, and the per-object OLS slope of
    position vs time IS the proper motion; the high-pm flag is the
    classic fast-mover shortlist (|total drift| above threshold). The
    epoch frame anchors per object at its first observation so the
    time sums stay small exact integers regardless of absolute date.

    One data-sized pass builds (t, pos) observations; the per-object
    sufficient statistics (n, st, stt, sy, sty, span) are one map-side
    combinable aggregate — the `ml_linreg_suffstats` discipline keyed
    by object — and the slope is a single double expression over exact
    longs per object row. Degenerate objects (n < 5, zero span, zero
    time variance) are filtered in BOTH engines before any division.

    100-TB posture: one shuffle on the object key; no windows except
    the per-object MIN anchor (rides the same partitioning); output is
    catalog-sized. Slopes may be negative — milli/micro gridding uses
    FLOOR on doubles (identical in both engines), never integer div.
    """
    ev = load_table(spark, sf_dir, "events")
    obs = ev.select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        grid("value", 3).alias("pos3"),
    )
    anch = obs.select(
        "user_id",
        (
            F.col("day")
            - F.min("day").over(Window.partitionBy("user_id"))
        ).alias("t"),
        "pos3",
    )
    sums = (
        anch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("t").cast("long").alias("st"),
            F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
            F.sum("pos3").cast("long").alias("sy"),
            F.sum(F.col("t") * F.col("pos3")).cast("long").alias("sty"),
            F.max("t").cast("long").alias("span_days"),
        )
        .filter((F.col("n") >= 5) & (F.col("span_days") > 0))
    )
    nd = F.col("n").cast("double")
    denom = nd * F.col("stt") - F.col("st").cast("double") * F.col("st")
    mu = (
        nd * F.col("sty") - F.col("st").cast("double") * F.col("sy")
    ) / denom
    fit = sums.filter(denom > F.lit(0.0)).select(
        "user_id", "n", "span_days", mu.alias("mu")
    )
    return fit.select(
        "user_id",
        F.col("n").alias("n_epochs"),
        "span_days",
        grid("mu", 3).alias("pm_micro_per_day"),
        grid(F.col("mu") * F.col("span_days"), 0).alias("drift_milli"),
        (F.abs(F.col("mu") * F.col("span_days")) > F.lit(50.0))
        .alias("high_pm"),
    ).orderBy("user_id")


@register(
    "sky_mag_cmd",
    oracle=f"""
WITH flux AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'view' THEN
                       {grid_sql('value', 3)}
                       ELSE 0 END) AS BIGINT) AS s1,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN event_type = 'click' THEN
                       {grid_sql('value', 3)}
                       ELSE 0 END) AS BIGINT) AS s2,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS c2
  FROM events GROUP BY user_id
),
mags AS (
  SELECT user_id,
         {grid_sql('-2500.0 * log10(CAST(s1 AS DOUBLE) / c1 / 1000.0)', 0)} AS m1_milli,
         {grid_sql('-2500.0 * log10(CAST(s2 AS DOUBLE) / c2 / 1000.0)', 0)} AS m2_milli
  FROM flux WHERE c1 > 0 AND c2 > 0 AND s1 > 0 AND s2 > 0
),
cmd AS (
  SELECT CAST(FLOOR(m1_milli / 500.0) AS BIGINT) AS mag_bin,
         CAST(FLOOR((m1_milli - m2_milli) / 250.0) AS BIGINT) AS color_bin,
         m1_milli, m1_milli - m2_milli AS color_milli
  FROM mags
)
SELECT mag_bin, color_bin,
       CAST(COUNT(*) AS BIGINT) AS n_objects,
       CAST(MIN(m1_milli) AS BIGINT) AS m1_min_milli,
       CAST(MAX(m1_milli) AS BIGINT) AS m1_max_milli,
       CAST(SUM(color_milli) AS BIGINT) AS color_sum_milli
FROM cmd GROUP BY mag_bin, color_bin ORDER BY mag_bin, color_bin
""",
)
def sky_mag_cmd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Color-magnitude diagram — flux -> magnitude conversion plus the
    2-D (magnitude x color) histogram every photometric survey plots:
    each object's two "bands" are its mean view/click fluxes, m =
    -2.5 log10(flux) lands on an exact millimag grid (one gridded
    log10 per object per band — never summed as floats), color =
    m1 - m2, and the CMD cell counts aggregate exactly.

    Both bands come out of ONE conditional aggregate over the event
    stream (no self-join — the `ts_cointegration_egr` shape); objects
    missing either band or with non-positive flux are filtered in both
    engines before the log. Bin indices use FLOOR on double division
    (magnitudes and colors go negative; integer div would diverge
    between engines below zero — Spark truncates, DuckDB floors).

    100-TB posture: one data-sized shuffle on the object key; the CMD
    rollup runs on catalog-sized rows and is map-side combinable;
    output is bounded by the bin grid.
    """
    ev = load_table(spark, sf_dir, "events")
    v3 = grid("value", 3)
    flux = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", v3).otherwise(0))
        .cast("long").alias("s1"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long").alias("c1"),
        F.sum(F.when(F.col("event_type") == "click", v3).otherwise(0))
        .cast("long").alias("s2"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long").alias("c2"),
    )

    def mag(s: str, c: str):
        return grid(
            F.lit(-2500.0)
            * F.log10(
                F.col(s).cast("double") / F.col(c) / F.lit(1000.0)
            ),
            0,
        )

    mags = flux.filter(
        (F.col("c1") > 0) & (F.col("c2") > 0)
        & (F.col("s1") > 0) & (F.col("s2") > 0)
    ).select(
        "user_id",
        mag("s1", "c1").alias("m1_milli"),
        mag("s2", "c2").alias("m2_milli"),
    )
    cmd = mags.select(
        F.floor(F.col("m1_milli") / F.lit(500.0)).cast("long")
        .alias("mag_bin"),
        F.floor(
            (F.col("m1_milli") - F.col("m2_milli")) / F.lit(250.0)
        ).cast("long").alias("color_bin"),
        "m1_milli",
        (F.col("m1_milli") - F.col("m2_milli")).alias("color_milli"),
    )
    return (
        cmd.groupBy("mag_bin", "color_bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_objects"),
            F.min("m1_milli").cast("long").alias("m1_min_milli"),
            F.max("m1_milli").cast("long").alias("m1_max_milli"),
            F.sum("color_milli").cast("long").alias("color_sum_milli"),
        )
        .orderBy("mag_bin", "color_bin")
    )


#: J2000 galactic pole / node constants (published IAU values, degrees):
#: NGP at (192.85948, 27.12825), ascending node of the galactic plane
#: l_NCP = 122.93192. Shared verbatim by both engines.
_GAL_RA_NGP = 192.85948
_GAL_DEC_NGP = 27.12825
_GAL_L_NCP = 122.93192

_GAL_EXPR = f"""
ROUND(DEGREES(ASIN(
  SIN(RADIANS({_GAL_DEC_NGP})) * SIN(RADIANS(dec_c / 100.0))
  + COS(RADIANS({_GAL_DEC_NGP})) * COS(RADIANS(dec_c / 100.0))
    * COS(RADIANS(ra_c / 100.0 - {_GAL_RA_NGP})))), 6)
"""

_GAL_L_EXPR = f"""
ROUND((CAST({_GAL_L_NCP} AS DOUBLE) - DEGREES(ATAN2(
   COS(RADIANS(dec_c / 100.0))
     * SIN(RADIANS(ra_c / 100.0 - {_GAL_RA_NGP})),
   COS(RADIANS({_GAL_DEC_NGP})) * SIN(RADIANS(dec_c / 100.0))
   - SIN(RADIANS({_GAL_DEC_NGP})) * COS(RADIANS(dec_c / 100.0))
     * COS(RADIANS(ra_c / 100.0 - {_GAL_RA_NGP}))))
  + 360.0) % 360.0, 6)
"""


@register(
    "sky_galactic_transform",
    oracle=f"""
WITH cat AS ({sky_catalog_sql()}),
gal AS (
  SELECT obj_id, ra_c, dec_c,
         {_GAL_L_EXPR} AS l_deg,
         {_GAL_EXPR} AS b_deg
  FROM cat
)
SELECT obj_id, ra_c, dec_c, l_deg, b_deg,
       abs(b_deg) < 10.0 AS in_plane
FROM gal ORDER BY obj_id
""",
)
def sky_galactic_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equatorial -> galactic coordinate transform — the frame
    rotation every Milky-Way analysis starts with (the reference
    domain's `project_compute` with real spherical trigonometry):
    each object's (RA, Dec) rotates through the published J2000
    galactic-pole constants to (l, b), plus the |b| < 10 deg
    galactic-plane membership flag that drives extinction masks and
    disk/halo splits. The same md5-derived catalog as `xmatch_sphere`,
    so the transformed positions feed the existing cross-match family
    directly.

    Determinism: the rotation is pure per-row trigonometry ROUNDED to
    6 dp — the `xmatch_sphere` haversine discipline (libm vs JVM trig
    agree far below 1e-6); longitudes normalize into [0, 360) with a
    double %, identical in both engines; the plane flag compares the
    ROUNDED latitude so it cannot straddle engines. atan2 handles
    every quadrant including the poles (the fixture grid excludes the
    exact pole where l is undefined).

    100-TB posture: a stateless narrow projection — no shuffle, no
    state; whole-stage codegen keeps it JVM-side. The natural next
    stage (`sphere_match` on l/b cells) reuses the binned-join kernel
    unchanged.
    """
    gal = sky_catalog(spark, sf_dir).select(
        "obj_id", "ra_c", "dec_c",
        F.expr(_GAL_L_EXPR).alias("l_deg"),
        F.expr(_GAL_EXPR).alias("b_deg"),
    )
    return gal.select(
        "obj_id", "ra_c", "dec_c", "l_deg", "b_deg",
        (F.abs(F.col("b_deg")) < F.lit(10.0)).alias("in_plane"),
    ).orderBy("obj_id")


#: tracklet linking: velocity gate (centi-deg per epoch) and the cell
#: edge for the binned pair join (>= gate so 3x3 neighbors cover it).
_TRK_GATE = 5
_TRK_CELL = 8


def _mover_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sky catalog at epoch 0, ``(obj_id, ra0, dec0)``, with the
    planted proper motion ``(vra, vdec)``: every 20th object drifts at an
    id-derived integer velocity in centi-degrees per epoch."""
    mover = F.col("obj_id") % 20 == 0
    return sky_catalog(spark, sf_dir).select(
        "obj_id",
        F.col("ra_c").alias("ra0"),
        F.col("dec_c").alias("dec0"),
        F.when(mover, F.col("obj_id") % 7 - 3)
        .otherwise(0).cast("long").alias("vra"),
        F.when(mover, F.col("obj_id") % 5 - 2)
        .otherwise(0).cast("long").alias("vdec"),
    )


def _mover_catalog_sql() -> str:
    """DuckDB-side twin of :func:`_mover_catalog`."""
    return f"""
  SELECT obj_id, ra_c AS ra0, dec_c AS dec0,
         CASE WHEN obj_id % 20 = 0
              THEN (obj_id % 7) - 3 ELSE 0 END AS vra,
         CASE WHEN obj_id % 20 = 0
              THEN (obj_id % 5) - 2 ELSE 0 END AS vdec
  FROM ({sky_catalog_sql()})
"""


@register(
    "sky_tracklet_link",
    oracle=f"""
WITH cat AS ({_mover_catalog_sql()}),
det AS (
  SELECT e.e, ra0 + vra * e.e AS ra, dec0 + vdec * e.e AS dec
  FROM cat CROSS JOIN (VALUES (0), (1), (2)) e(e)
),
stationary AS (
  SELECT ra, dec FROM det GROUP BY ra, dec HAVING COUNT(*) >= 3
),
mv AS (
  SELECT d.e, d.ra, d.dec FROM det d
  ANTI JOIN stationary s ON s.ra = d.ra AND s.dec = d.dec
),
p01 AS (
  SELECT a.ra AS ra_start, a.dec AS dec_start,
         b.ra - a.ra AS v_ra, b.dec - a.dec AS v_dec
  FROM mv a JOIN mv b
    ON a.e = 0 AND b.e = 1
   AND abs(b.ra - a.ra) <= {_TRK_GATE}
   AND abs(b.dec - a.dec) <= {_TRK_GATE}
),
p12 AS (
  SELECT a.ra AS ra_mid, a.dec AS dec_mid,
         b.ra - a.ra AS v_ra, b.dec - a.dec AS v_dec
  FROM mv a JOIN mv b
    ON a.e = 1 AND b.e = 2
   AND abs(b.ra - a.ra) <= {_TRK_GATE}
   AND abs(b.dec - a.dec) <= {_TRK_GATE}
)
SELECT p.ra_start, p.dec_start, p.v_ra, p.v_dec,
       CAST(COUNT(*) AS BIGINT) AS n_chains
FROM p01 p JOIN p12 q
  ON q.ra_mid = p.ra_start + p.v_ra
 AND q.dec_mid = p.dec_start + p.v_dec
 AND q.v_ra = p.v_ra AND q.v_dec = p.v_dec
GROUP BY p.ra_start, p.dec_start, p.v_ra, p.v_dec
ORDER BY p.ra_start, p.dec_start, p.v_ra, p.v_dec
""",
)
def sky_tracklet_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-object tracklet linking — the asteroid-pipeline step
    after `sky_source_extract`: three epochs of detections, stationary
    sources removed by exact-position self-match (an anti-join against
    positions seen in every epoch), the survivors linked epoch-to-
    epoch within a velocity gate, and 3-detection TRACKLETS kept only
    where the two links agree on velocity (linear-motion consistency —
    the cut that kills chance alignments). The linker never sees
    object identity: it works purely on (epoch, ra, dec), exactly like
    a real pipeline; planted movers (every 20th object drifts at an
    id-derived integer velocity) are recovered by the pytest.

    The epoch-pair search is the binned equi-join (`xmatch_sphere`
    discipline): each epoch-1 detection replicates into its 3x3
    neighbor cells at the _TRK_CELL grid and equi-joins on the cell
    key, with the exact |dra|,|ddec| <= gate predicate applied after —
    no quadratic pair space. The chain step is a pure EQUI-join on the
    predicted position + velocity, because a consistent tracklet's
    third detection is exactly determined by its first two.

    100-TB posture: stationary removal and both link stages shuffle on
    position/cell keys only; tracklet volume is mover-sized, and the
    velocity gate bounds candidates per detection by the local mover
    density (production adds a time-scaled gate per epoch spacing).
    Positions here stay on the integer centi-degree grid without RA
    wraparound (synthetic field; production wraps mod 360 deg like
    `sphere_match`'s ring cells).
    """
    det = _mover_catalog(spark, sf_dir).select(
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("e"),
        "ra0", "vra", "dec0", "vdec",
    ).select(
        "e",
        (F.col("ra0") + F.col("vra") * F.col("e")).alias("ra"),
        (F.col("dec0") + F.col("vdec") * F.col("e")).alias("dec"),
    ).localCheckpoint(eager=True)
    stationary = (
        det.groupBy("ra", "dec")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 3)
        .select("ra", "dec")
    )
    mv = det.join(stationary, ["ra", "dec"], "left_anti")

    def link(e_from: int, e_to: int) -> DataFrame:
        xy = ("ra", "dec")
        return (
            cell_join(
                mv.filter(F.col("e") == e_from), mv.filter(F.col("e") == e_to),
                xy, xy, (_TRK_CELL, _TRK_CELL),
                home_cols=[F.col("ra").alias("ra_a"), F.col("dec").alias("dec_a")],
                away_cols=[F.col("ra").alias("ra_b"), F.col("dec").alias("dec_b")],
            )
            .filter(
                (F.abs(F.col("ra_b") - F.col("ra_a")) <= _TRK_GATE)
                & (F.abs(F.col("dec_b") - F.col("dec_a")) <= _TRK_GATE)
            )
            .select(
                F.col("ra_a").alias("ra_start"),
                F.col("dec_a").alias("dec_start"),
                (F.col("ra_b") - F.col("ra_a")).alias("v_ra"),
                (F.col("dec_b") - F.col("dec_a")).alias("v_dec"),
            )
        )

    p01 = link(0, 1)
    p12 = link(1, 2).select(
        F.col("ra_start").alias("ra_mid"),
        F.col("dec_start").alias("dec_mid"),
        F.col("v_ra").alias("qv_ra"), F.col("v_dec").alias("qv_dec"),
    )
    return (
        p01.join(
            p12,
            (F.col("ra_mid") == F.col("ra_start") + F.col("v_ra"))
            & (F.col("dec_mid") == F.col("dec_start") + F.col("v_dec"))
            & (F.col("qv_ra") == F.col("v_ra"))
            & (F.col("qv_dec") == F.col("v_dec")),
        )
        .groupBy("ra_start", "dec_start", "v_ra", "v_dec")
        .agg(F.count(F.lit(1)).cast("long").alias("n_chains"))
        .orderBy("ra_start", "dec_start", "v_ra", "v_dec")
    )


#: HEALPix resolution for `sky_healpix_ring`: Nside = 4 → 192 pixels,
#: ncap = 2·Nside·(Nside−1) = 24 polar-cap pixels per hemisphere edge.
_HPX_NSIDE = 4
_HPX_NPIX = 12 * _HPX_NSIDE * _HPX_NSIDE
_HPX_NCAP = 2 * _HPX_NSIDE * (_HPX_NSIDE - 1)


def _hpx_ring_expr(ra_col: str, z9_col: str, div: str) -> str:
    """RING-scheme ang2pix (Górski et al. 2005, the public HEALPix
    primer's ang2pix_ring algorithm) as ONE SQL expression shared
    textually by both engines.

    Determinism: the only transcendental, z = sin(dec), is gridded to
    1e-9 BEFORE this expression (``{z9_col}`` is a BIGINT — the
    `stat_bayes_ab_posterior` lf9 discipline), and phi enters as the
    exact integer centi-degree RA (tt = phi/(pi/2) = ra_c/9000 — no pi
    anywhere). Every downstream operation is IEEE double +,·,/, SQRT
    (correctly rounded per IEEE in both engines) and FLOOR of
    identical doubles, so the integer pixel id cannot straddle
    engines. All FLOOR arguments are provably non-negative, so FLOOR
    equals the C code's int truncation. ``div`` is the integer-
    division token (Spark ``div``, DuckDB ``//`` — the `_bls_sql`
    dialect discipline); its operand is non-negative in the belt
    (jp + jm >= Nside - 1 by the edge-line construction).
    """
    n = _HPX_NSIDE
    zd = f"(CAST({z9_col} AS DOUBLE) / 1000000000.0)"
    tt = f"(CAST({ra_col} AS DOUBLE) / 9000.0)"
    # equatorial belt |z| <= 2/3: two edge-line indices jp/jm
    jp = f"CAST(FLOOR({n}*(0.5 + {tt}) - 3.0*{zd}) AS BIGINT)"
    jm = f"CAST(FLOOR({n}*(0.5 + {tt}) + 3.0*{zd}) AS BIGINT)"
    ir = f"({n} + 1 + {jp} - {jm})"
    kshift = f"(1 - ({ir} % 2))"
    ip_eq = f"((({jp} + {jm} - {n} + {kshift} + 1) {div} 2) % {4 * n})"
    pix_eq = f"({_HPX_NCAP} + ({ir} - 1) * {4 * n} + {ip_eq})"
    # polar caps |z| > 2/3: ring index from the cap-area radius
    tp = f"({tt} - FLOOR({tt}))"
    tmp = f"({n} * SQRT(3.0 * (1.0 - ABS({zd}))))"
    irp = (
        f"(CAST(FLOOR({tp} * {tmp}) AS BIGINT)"
        f" + CAST(FLOOR((1.0 - {tp}) * {tmp}) AS BIGINT) + 1)"
    )
    ipp = f"(CAST(FLOOR({tt} * {irp}) AS BIGINT) % (4 * {irp}))"
    pix_n = f"(2 * {irp} * ({irp} - 1) + {ipp})"
    pix_s = f"({_HPX_NPIX} - 2 * {irp} * ({irp} + 1) + {ipp})"
    return (
        f"CAST(CASE WHEN ABS({zd}) <= 2.0/3.0 THEN {pix_eq}"
        f" WHEN {zd} > 0 THEN {pix_n} ELSE {pix_s} END AS BIGINT)"
    )



def _hpx_sql_oracle() -> str:
    z9 = grid_sql("SIN(RADIANS(CAST(dec_c AS DOUBLE) / 100.0))", 9)
    pix = _hpx_ring_expr("ra_c", "z9", "//")
    return f"""
WITH cat AS ({sky_catalog_sql()}),
z AS (
  SELECT obj_id, ra_c, dec_c, {z9} AS z9 FROM cat),
px AS (
  SELECT obj_id, {pix} AS pix FROM z)
SELECT pix, CAST(COUNT(*) AS BIGINT) AS n_src,
       CAST(MIN(obj_id) AS BIGINT) AS min_obj_id
FROM px GROUP BY pix ORDER BY pix
"""


@register("sky_healpix_ring", oracle=_hpx_sql_oracle())
def sky_healpix_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEALPix RING-scheme pixelization + per-pixel source counts —
    the survey-standard equal-area sky index (Górski et al. 2005;
    every modern catalog keys spatial joins, density maps and coverage
    masks on it). Each object's (RA, Dec) maps to one of
    12·Nside² = 192 equal-area pixels (Nside = 4) via the public
    ang2pix_ring integer algorithm; the result is the pixel source-
    count map — the sky-density histogram every survey QA page shows.

    Determinism: z = sin(dec) is the ONLY transcendental and lands on
    an exact 1e-9 integer grid before the pixel math (libm and JVM sin
    agree far below that — the lf9/ln discipline); phi enters as the
    exact integer centi-degree RA over 9000 (phi/(pi/2) needs no pi),
    and everything downstream is IEEE-identical double arithmetic +
    FLOOR on provably non-negative operands, so the pixel ids match
    DuckDB bit-for-bit.

    100-TB posture: a stateless narrow projection (whole-stage
    codegen) followed by ONE map-side-combinable count per pixel —
    the output is |pixels| rows regardless of catalog size. At
    production Nside (1024+) the same expression emits the shuffle key
    that co-partitions every downstream spatial join (`xmatch_sphere`
    replaces its ad-hoc cells with this id unchanged); neighbor
    replication stays 3×3 in (ring, intra-ring) space.
    """
    z = sky_catalog(spark, sf_dir).select(
        "obj_id", "ra_c",
        grid(
            F.sin(F.radians(F.col("dec_c").cast("double") / F.lit(100.0))), 9
        ).alias("z9"),
    )
    px = z.select("obj_id", F.expr(_hpx_ring_expr("ra_c", "z9", "div")).alias("pix"))
    return (
        px.groupBy("pix")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_src"),
            F.min("obj_id").cast("long").alias("min_obj_id"),
        )
        .orderBy("pix")
    )


#: two-point separation-bin edges in 6dp-rounded radians (0.5/1/2 deg)
#: — compared against the 6dp-rounded haversine, so the cut is exact.
_TPT_EDGES = (0.008727, 0.017453, 0.034907)


def _tpt_bin_expr(dist_col: str) -> str:
    e0, e1, e2 = _TPT_EDGES
    return (
        f"CASE WHEN {dist_col} < {e0} THEN 0"
        f" WHEN {dist_col} < {e1} THEN 1"
        f" WHEN {dist_col} < {e2} THEN 2 ELSE 3 END"
    )


@register(
    "sky_two_point_dd",
    oracle=f"""
WITH cat AS ({sky_catalog_sql()}),
pairs AS (
  SELECT {haversine_sql("a.ra_c", "a.dec_c", "b.ra_c", "b.dec_c")}
           AS dist_rad
  FROM cat a JOIN cat b ON a.obj_id < b.obj_id
  WHERE {ra_dist_sql("a.ra_c", "b.ra_c")} <= {_SPH_EPS}
    AND abs(a.dec_c - b.dec_c) <= {_SPH_EPS})
SELECT CAST(sep_bin AS BIGINT) AS sep_bin,
       CAST(COUNT(*) AS BIGINT) AS dd_pairs
FROM (SELECT {_tpt_bin_expr("dist_rad")} AS sep_bin FROM pairs) z
WHERE sep_bin < 3
GROUP BY sep_bin ORDER BY sep_bin
""",
)
def sky_two_point_dd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Angular two-point correlation DD(θ) pair counts — the
    clustering statistic every galaxy survey computes (the DD term of
    the Landy–Szalay estimator (DD − 2DR + RR)/RR; DR and RR run this
    SAME kernel against a uniform random catalog, so this is the whole
    estimator's data path). Pairs are counted in three separation bins
    (0–0.5°, 0.5–1°, 1–2°) over the md5-derived catalog.

    The pair search is `sphere_match`'s binned 3×3 mod-ring cell join
    — NEVER an all-pairs product — and the candidate set is the same
    2° coordinate box as `xmatch_sphere` (production widens the RA box
    by 1/cos(dec) near the poles — the `_CONE_RA_BOX` note); the bin
    cut compares the 6dp-rounded haversine against 6dp edge constants
    shared with the oracle, so no pair can straddle a bin boundary
    between engines.

    100-TB posture: shuffle on cell id (AQE splits dense sky cells),
    pair volume bounded by the 2° box, and the output collapses to
    |bins| rows via ONE map-side-combinable count — at survey scale
    the per-cell partial histograms merge associatively, which is why
    two-point codes distribute this exact shape.
    """
    pairs = sphere_match(sky_catalog(spark, sf_dir))
    return (
        pairs.select(
            F.expr(_tpt_bin_expr("dist_rad")).cast("long").alias("sep_bin")
        )
        .filter(F.col("sep_bin") < 3)
        .groupBy("sep_bin")
        .agg(F.count(F.lit(1)).cast("long").alias("dd_pairs"))
        .orderBy("sep_bin")
    )


@register(
    "lightcurve_chi2_constant",
    oracle=f"""
WITH s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM({grid_sql('value', 1)})
              AS BIGINT) AS s1,
         CAST(SUM({grid_sql('value', 1)}
                  * {grid_sql('value', 1)})
              AS BIGINT) AS s2
  FROM events GROUP BY 1)
SELECT event_type, n AS n_obs,
       CAST(n * s2 - s1 * s1 AS DOUBLE)
         / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) * 100.0)
         AS chi2_red,
       2 * (n * s2 - s1 * s1) > 3 * n * (n - 1) * 100 AS is_variable
FROM s WHERE n > 1 ORDER BY event_type
""",
)
def lightcurve_chi2_constant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reduced chi-squared against the constant-flux model — the
    first-cut variability statistic every time-domain survey computes
    before the heavier rungs (`lightcurve_stetson_jk`, the period
    scans): chi2_red = sum((f_i - mean)^2) / ((n-1) * sigma^2) with a
    fixed per-point error sigma of one flux unit. chi2_red >> 1 means
    the constant model fails — the object varies.

    Division-free exactness (the `ts_changepoint` rational trick):
    sum((f - mean)^2) * n == n*S2 - S1^2 on the exact deci grid, so
    chi2_red is ONE double ratio of exact int64s and the variable flag
    is the pure-integer cross-multiply 2*(n*S2 - S1^2) > 3*n*(n-1)*100
    (threshold 1.5) — no float comparison can straddle engines.

    100-TB posture: ONE map-side-combinable aggregation per series
    (three longs of state), output |series|-sized; the deci grid keeps
    n*S2 inside int64 to ~4e9 rows per series at |value| <= 600 (the
    `lightcurve_pdm_theta` overflow ledger).
    """
    ev = load_table(spark, sf_dir, "events")
    f = grid("value", 1)
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(f).cast("long").alias("s1"),
        F.sum(f * f).cast("long").alias("s2"),
    ).filter(F.col("n") > 1)
    ss = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    return s.select(
        "event_type",
        F.col("n").alias("n_obs"),
        (
            ss.cast("double")
            / (
                F.col("n").cast("double")
                * (F.col("n") - 1).cast("double")
                * F.lit(100.0)
            )
        ).alias("chi2_red"),
        (
            F.lit(2) * ss
            > F.lit(3) * F.col("n") * (F.col("n") - 1) * F.lit(100)
        ).alias("is_variable"),
    ).orderBy("event_type")


@register(
    "lightcurve_flare_runs",
    oracle=f"""
WITH med AS (
  SELECT event_type,
         ROUND(quantile_cont(value, 0.5), 6) AS med,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type
), mad AS (
  SELECT e.event_type,
         ROUND(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
  FROM events e JOIN med m USING (event_type)
  GROUP BY e.event_type
), idx AS (
  SELECT e.event_type, e.value, m.med, d.mad,
         ROW_NUMBER() OVER (PARTITION BY e.event_type
                            ORDER BY e.ts, e.event_id) AS k
  FROM events e
  JOIN med m USING (event_type) JOIN mad d USING (event_type)
  WHERE d.mad > 0
), flagged AS (
  SELECT event_type, value, k,
         k - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY k)
           AS grp
  FROM idx
  WHERE value - med > 3.0 * {_MAD_SIGMA} * mad
), runs AS (
  SELECT event_type, grp,
         CAST(COUNT(*) AS BIGINT) AS run_len,
         MAX(value) AS run_peak
  FROM flagged GROUP BY event_type, grp
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_flares,
       CAST(SUM(run_len) AS BIGINT) AS flare_points,
       CAST(MAX(run_len) AS BIGINT) AS longest_run,
       MAX(run_peak) AS peak_value
FROM runs GROUP BY event_type ORDER BY event_type
""",
)
def lightcurve_flare_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flare detection by robust-threshold RUN merging — the stellar-
    flare / outburst counter (M-dwarf flare surveys run exactly this):
    flag observations brighter than median + 3 robust sigmas
    (`lightcurve_sigma_clip`'s one-sided cousin — flares BRIGHTEN, so
    the cut is directional), then merge CONSECUTIVE flagged
    observations into single flare events with the gaps-and-islands
    identity (obs-index − flagged-row-number is constant within a
    run), and report per series the flare count, total flare points,
    longest run, and peak flux. One isolated spike = one 1-point
    flare; a sustained brightening = ONE event, not n — that merge is
    what makes the count physical.

    Determinism: both medians round to 6 dp (the sigma_clip pin), the
    threshold compares identical rounded inputs, and run identities
    are pure integer window arithmetic over the (ts, event_id)
    tie-broken order; peak is a MAX over raw stored doubles — no
    arithmetic, no straddle. Zero-MAD series are excluded (no robust
    scale exists).

    100-TB posture: two exact grouped medians + two windows + two
    rollups, ALL keyed on the series id — one partitioning reused
    end-to-end (exchange reuse); per-row window state is one long. The
    `agg_median_exact` caveat applies to the exact medians at extreme
    series sizes — the approx-percentile sketch swaps in, plan
    unchanged.
    """
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5D)"), 6).alias("med"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    dev = ev.join(med, "event_type").select(
        "event_type",
        F.abs(F.col("value") - F.col("med")).alias("ad"),
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.expr("percentile(ad, 0.5D)"), 6).alias("mad")
    )
    wk = Window.partitionBy("event_type").orderBy("ts", "event_id")
    idx = (
        ev.join(med, "event_type")
        .join(mad, "event_type")
        .where(F.col("mad") > 0)
        .select(
            "event_type", "value", "med", "mad",
            F.row_number().over(wk).alias("k"),
        )
    )
    flagged = idx.filter(
        F.col("value") - F.col("med")
        > F.lit(3.0 * _MAD_SIGMA) * F.col("mad")
    ).select(
        "event_type", "value", "k",
        (
            F.col("k")
            - F.row_number().over(
                Window.partitionBy("event_type").orderBy("k")
            )
        ).alias("grp"),
    )
    runs = flagged.groupBy("event_type", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("run_len"),
        F.max("value").alias("run_peak"),
    )
    return (
        runs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_flares"),
            F.sum("run_len").cast("long").alias("flare_points"),
            F.max("run_len").cast("long").alias("longest_run"),
            F.max("run_peak").alias("peak_value"),
        )
        .orderBy("event_type")
    )


#: catalog-merge match radius (centi-degrees) — divides the RA circle
#: exactly (36000 / 5 = 7200 ring cells), so mod-ring replication is
#: exact; echo detections offset by (+1, -1) sit well inside it.
_CATM_EPS = 5
_CATM_CELLS = _SPH_CIRCLE // _CATM_EPS
#: echo detections: every 3rd object re-detected with a 1-centi-deg
#: offset, ids displaced far outside the real key range.
_CATM_ECHO_OFF = 50_000_000


def _catm_detections_sql() -> str:
    return f"""
  SELECT obj_id AS det_id, ra_c, dec_c FROM ({sky_catalog_sql()})
  UNION ALL
  SELECT obj_id + {_CATM_ECHO_OFF}, (ra_c + 1) % 36000, dec_c - 1
  FROM ({sky_catalog_sql()}) WHERE obj_id % 3 = 0
"""


@register(
    "sky_catalog_merge",
    oracle=f"""
WITH RECURSIVE det AS MATERIALIZED ({_catm_detections_sql()}),
pairs AS MATERIALIZED (
  SELECT a.det_id AS ia, b.det_id AS ib
  FROM det a JOIN det b ON a.det_id < b.det_id
  WHERE {ra_dist_sql("a.ra_c", "b.ra_c")} <= {_CATM_EPS}
    AND abs(a.dec_c - b.dec_c) <= {_CATM_EPS}
),
{components_sql("SELECT det_id FROM det")}
SELECT c.component AS source_id,
       CAST(COUNT(*) AS BIGINT) AS n_det,
       CAST(SUM(d.ra_c) AS BIGINT) AS sum_ra_c,
       CAST(SUM(d.dec_c) AS BIGINT) AS sum_dec_c,
       CAST(SUM(d.ra_c) AS DOUBLE) / COUNT(*) AS mean_ra_c,
       CAST(SUM(d.dec_c) AS DOUBLE) / COUNT(*) AS mean_dec_c
FROM comp c JOIN det d ON d.det_id = c.node_id
GROUP BY c.component ORDER BY source_id
""",
)
def sky_catalog_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Internal catalog merge (the survey "internal match"): repeat
    detections of the same physical source — here every 3rd object
    re-detected 1 centi-degree away under a displaced detection id —
    cluster by positional proximity and collapse to ONE merged source
    with the mean position and detection count. This is the step that
    turns a detection table (one row per exposure) into a source
    catalog (one row per object), and it must be transitive: detection
    chains A~B~C merge even when A and C are farther than the radius
    apart — which is why pair matching alone (`xmatch_sphere`) isn't
    enough and the connected-components kernel (`components`,
    pipeline.closure) runs between pairing and the rollup.

    The pair stage is the binned mod-ring cell join at a 5-centi-deg
    radius (36000/5 ring cells — wraparound exact); positions are
    exact integers so the merged means are single double divisions of
    exact longs. The DuckDB oracle recomputes the fixpoint with
    `components_sql` — independent algorithms, same catalog.

    100-TB posture: pairing shuffles on cell id (never all-pairs), CC
    rounds = duplicate-chain diameter (~2 here, bounded by exposure
    overlap geometry), the rollup is one component-key aggregation —
    the exact shape LSST's internal match distributes. Overflow:
    coordinate sums <= n_det·36000 — trivial.
    """
    cat = sky_catalog(spark, sf_dir)
    echo = cat.filter(F.col("obj_id") % 3 == 0).select(
        (F.col("obj_id") + _CATM_ECHO_OFF).alias("obj_id"),
        ((F.col("ra_c") + 1) % 36000).alias("ra_c"),
        (F.col("dec_c") - 1).alias("dec_c"),
    )
    det = (
        cat.unionAll(echo)
        .withColumnRenamed("obj_id", "det_id")
        .localCheckpoint(eager=True)
    )
    eps = _CATM_EPS
    xy = ("ra_c", "dec_c")
    pairs = (
        cell_join(
            det, det, xy, xy, (eps, eps), _CATM_CELLS,
            home_cols=[
                F.col("det_id").alias("ia"),
                F.col("ra_c").alias("a_ra"), F.col("dec_c").alias("a_dec"),
            ],
            away_cols=[
                F.col("det_id").alias("ib"),
                F.col("ra_c").alias("b_ra"), F.col("dec_c").alias("b_dec"),
            ],
        )
        .filter(
            (F.col("ia") < F.col("ib"))
            & (ra_dist("a_ra", "b_ra") <= eps)
            & (F.abs(F.col("a_dec") - F.col("b_dec")) <= eps)
        )
        .select("ia", "ib")
    )
    labels = components(
        det.select(F.col("det_id").alias("node_id")), pairs
    ).toDF("det_id", "source_id")
    return (
        det.join(labels, "det_id")
        .groupBy("source_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_det"),
            F.sum("ra_c").cast("long").alias("sum_ra_c"),
            F.sum("dec_c").cast("long").alias("sum_dec_c"),
            (F.sum("ra_c").cast("double") / F.count(F.lit(1)))
            .alias("mean_ra_c"),
            (F.sum("dec_c").cast("double") / F.count(F.lit(1)))
            .alias("mean_dec_c"),
        )
        .orderBy("source_id")
    )


#: epoch-propagation match: epochs between catalogs, match box
#: half-width (centi-deg; divides 36000 → exact mod-ring cells), and
#: the mover velocity rule shared with `sky_tracklet_link`.
_EPR_DT = 3
_EPR_EPS = 4
_EPR_CELLS = _SPH_CIRCLE // _EPR_EPS


@register(
    "xmatch_epoch_propagate",
    oracle=f"""
WITH cat AS ({_mover_catalog_sql()}),
b AS (
  SELECT obj_id AS b_id,
         (ra0 + {_EPR_DT} * vra + ((obj_id * 13) % 3 - 1) + 36000) % 36000
           AS b_ra,
         dec0 + {_EPR_DT} * vdec + ((obj_id * 17) % 3 - 1) AS b_dec
  FROM cat
),
a AS (
  SELECT obj_id AS a_id,
         (ra0 + {_EPR_DT} * vra + 36000) % 36000 AS p_ra,
         dec0 + {_EPR_DT} * vdec AS p_dec,
         CASE WHEN obj_id % 20 = 0 THEN TRUE ELSE FALSE END AS is_mover
  FROM cat
),
cand AS (
  SELECT a.a_id, a.is_mover, b.b_id,
         {ra_dist_sql("a.p_ra", "b.b_ra")} AS dra,
         abs(a.p_dec - b.b_dec) AS ddec
  FROM a JOIN b
    ON {ra_dist_sql("a.p_ra", "b.b_ra")} <= {_EPR_EPS}
   AND abs(a.p_dec - b.b_dec) <= {_EPR_EPS}
),
best AS (
  SELECT a_id, is_mover, b_id, dra * dra + ddec * ddec AS d2
  FROM (
    SELECT a_id, is_mover, b_id, dra, ddec,
           ROW_NUMBER() OVER (PARTITION BY a_id
                              ORDER BY dra * dra + ddec * ddec, b_id)
             AS rn
    FROM cand) z
  WHERE rn = 1
)
SELECT is_mover,
       CAST(COUNT(*) AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN a_id = b_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       CAST(SUM(d2) AS BIGINT) AS sum_d2
FROM best GROUP BY is_mover ORDER BY is_mover
""",
)
def xmatch_epoch_propagate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-propagated cross-match — the Gaia-era correction every
    multi-epoch match needs: catalog B was observed Δt = 3 epochs
    after catalog A, so high-proper-motion objects (the
    `sky_tracklet_link` movers, 1-in-20 with |v| <= 3 centi-deg/epoch)
    have moved up to ~13 centi-degrees — far outside the 4-centi-deg
    match box. The operator propagates A to B's epoch
    (ra0 + Δt·v, exact integers), THEN runs the binned nearest-match:
    movers match only because of the propagation, which the
    n_correct-by-is_mover audit makes visible (the un-propagated match
    loses ~all movers — pinned in tests). B carries a ±1 centi-deg
    md5-derived detection jitter so best-match selection is
    non-trivial.

    Exactness: positions, velocities, jitter, and d² are all exact
    integers; the per-object argmin tie-breaks (d², b_id); RA
    wraparound uses the mod-ring circular distance everywhere
    (propagation can cross 0°/360°).

    100-TB posture: the pair search is the 3×3 mod-ring cell equi-join
    on the PROPAGATED position (shuffle on cell id, AQE-split dense
    cells); the argmin is one window keyed by the same partitioning;
    output is a 2-row audit. Propagation itself is a stateless narrow
    projection — at survey scale it fuses into the scan.
    """
    cat = _mover_catalog(spark, sf_dir)
    bcat = cat.select(
        F.col("obj_id").alias("b_id"),
        (
            (
                F.col("ra0") + _EPR_DT * F.col("vra")
                + (F.col("obj_id") * 13) % 3 - 1 + 36000
            ) % 36000
        ).alias("b_ra"),
        (
            F.col("dec0") + _EPR_DT * F.col("vdec")
            + (F.col("obj_id") * 17) % 3 - 1
        ).alias("b_dec"),
    )
    acat = cat.select(
        F.col("obj_id").alias("a_id"),
        ((F.col("ra0") + _EPR_DT * F.col("vra") + 36000) % 36000)
        .alias("p_ra"),
        (F.col("dec0") + _EPR_DT * F.col("vdec")).alias("p_dec"),
        (F.col("obj_id") % 20 == 0).alias("is_mover"),
    )
    eps = _EPR_EPS
    dra = ra_dist("p_ra", "b_ra")
    ddec = F.abs(F.col("p_dec") - F.col("b_dec"))
    cand = (
        cell_join(
            acat, bcat, ("p_ra", "p_dec"), ("b_ra", "b_dec"), (eps, eps),
            _EPR_CELLS,
        )
        .filter((dra <= eps) & (ddec <= eps))
        .select(
            "a_id", "is_mover", "b_id",
            (dra * dra + ddec * ddec).alias("d2"),
        )
    )
    best = (
        cand.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("a_id").orderBy("d2", "b_id")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return (
        best.groupBy("is_mover")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matched"),
            F.sum(
                F.when(F.col("a_id") == F.col("b_id"), 1).otherwise(0)
            ).cast("long").alias("n_correct"),
            F.sum("d2").cast("long").alias("sum_d2"),
        )
        .orderBy("is_mover")
    )


#: phase-coverage audit: the fixture's true 7-day cycle and the PDM
#: bin count, shared with the period scans.
_PCOV_P_US = 7 * 86400 * 1_000_000


@register(
    "lightcurve_phase_coverage",
    oracle=f"""
WITH ph AS (
  SELECT DISTINCT event_type,
         epoch_us(ts) % {_PCOV_P_US} AS phase_us
  FROM events
),
gaps AS (
  SELECT event_type, phase_us,
         phase_us - LAG(phase_us) OVER (PARTITION BY event_type
                                        ORDER BY phase_us) AS gap
  FROM ph
),
span AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_phases,
         CAST(MAX(COALESCE(gap, 0)) AS BIGINT) AS max_inner_gap,
         CAST({_PCOV_P_US} - MAX(phase_us) + MIN(phase_us) AS BIGINT)
           AS wrap_gap
  FROM gaps GROUP BY event_type
),
bins AS (
  SELECT event_type,
         CAST(COUNT(DISTINCT (phase_us * {_PDM_NBINS})
                    // {_PCOV_P_US}) AS BIGINT) AS n_bins_hit
  FROM ph GROUP BY event_type
)
SELECT s.event_type, s.n_phases, b.n_bins_hit,
       CAST(GREATEST(s.max_inner_gap, s.wrap_gap) AS BIGINT)
         AS max_gap_us,
       b.n_bins_hit * 1000000 // {_PDM_NBINS} AS coverage_micro
FROM span s JOIN bins b USING (event_type)
ORDER BY s.event_type
""",
)
def lightcurve_phase_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-coverage audit at a trial period — the validity check a
    period search runs BEFORE believing its best peak
    (`lightcurve_pdm_theta` / `_bls_box` report the best-scoring
    period; this reports whether the folded sampling can support it):
    fold each series on the 7-day fixture cycle, and measure how the
    observations cover phase — distinct phase count, how many of the 8
    PDM bins are hit, the coverage fraction, and the largest CIRCULAR
    phase gap (the wrap gap between the last and first phase counts —
    a survey with a 6-month seasonal hole shows it here, and any
    period whose max gap spans a transit cannot exclude one).

    Exactness: phases are exact integer microseconds (epoch % period),
    gaps are integer differences over one ordered window, the circular
    closure is GREATEST(max inner gap, wrap gap), and coverage is a
    positive-integer cross-multiply div — no float anywhere.

    100-TB posture: the DISTINCT collapse and both rollups key on the
    series id (one exchange); per-row window state is one long. The
    |distinct phases| per series is bounded by the period over the
    cadence — a collapsed table, not the observation stream.
    """
    ev = load_table(spark, sf_dir, "events")
    ph = ev.select(
        "event_type",
        F.expr(f"unix_micros(ts) % {_PCOV_P_US}").alias("phase_us"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("phase_us")
    gaps = ph.select(
        "event_type", "phase_us",
        (F.col("phase_us") - F.lag("phase_us").over(w)).alias("gap"),
    )
    span = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_phases"),
        F.max(F.coalesce("gap", F.lit(0))).cast("long")
        .alias("max_inner_gap"),
        (
            F.lit(_PCOV_P_US) - F.max("phase_us") + F.min("phase_us")
        ).cast("long").alias("wrap_gap"),
    )
    bins = ph.groupBy("event_type").agg(
        F.countDistinct(
            F.expr(f"(phase_us * {_PDM_NBINS}) div {_PCOV_P_US}")
        ).cast("long").alias("n_bins_hit")
    )
    return (
        span.join(bins, "event_type")
        .select(
            "event_type", "n_phases", "n_bins_hit",
            F.greatest("max_inner_gap", "wrap_gap").cast("long")
            .alias("max_gap_us"),
            F.expr(f"n_bins_hit * 1000000 div {_PDM_NBINS}")
            .alias("coverage_micro"),
        )
        .orderBy("event_type")
    )


#: observing-site latitude (centi-degrees): Cerro-Paranal-like -24.63°.
_OBS_LAT_C = -2463
#: minimum culmination altitude for "observable" (centi-degrees).
_OBS_MIN_ALT_C = 3000


@register(
    "sky_observability",
    oracle=f"""
WITH cat AS ({sky_catalog_sql()}),
alt AS (
  SELECT obj_id, dec_c,
         9000 - abs({_OBS_LAT_C} - dec_c) AS alt_max_c
  FROM cat
)
SELECT obj_id, dec_c, CAST(alt_max_c AS BIGINT) AS alt_max_c,
       alt_max_c >= {_OBS_MIN_ALT_C} AS observable,
       CASE WHEN alt_max_c >= {_OBS_MIN_ALT_C}
            THEN {grid_sql('''1.0 / sin(radians(CAST(alt_max_c AS DOUBLE)
                                              / 100.0))''', 6)}
            ELSE NULL END AS airmass_micro
FROM alt ORDER BY obj_id
""",
)
def sky_observability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability screening for a ground site — the scheduling
    filter every target list passes through before anything else: an
    object culminates at altitude 90° − |site latitude − declination|
    (the meridian identity — EXACT in integer centi-degrees, no hour
    angle needed for the culmination bound), it is observable iff that
    peak clears 30°, and the best-case airmass is the secant of the
    zenith distance, sec z = 1/sin(alt). Screens the md5 catalog
    against a Paranal-like site at −24.63°.

    Exactness: the altitude bound is pure integer arithmetic; airmass
    is the only transcendental and floor-grids to micro from the SAME
    integer altitude in both engines (the haversine 6dp/1e-9
    discipline); the observable flag compares integers, and
    non-observable objects carry NULL airmass (sec z explodes below
    the horizon — the NULL is the honest value).

    100-TB posture: a stateless narrow projection in whole-stage
    codegen — no shuffle; the natural downstream (per-night scheduling
    with real hour angles) adds trig columns to the same scan.
    """
    alt = sky_catalog(spark, sf_dir).select(
        "obj_id", "dec_c",
        (F.lit(9000) - F.abs(F.lit(_OBS_LAT_C) - F.col("dec_c")))
        .cast("long").alias("alt_max_c"),
    )
    return alt.select(
        "obj_id", "dec_c", "alt_max_c",
        (F.col("alt_max_c") >= _OBS_MIN_ALT_C).alias("observable"),
        F.when(
            F.col("alt_max_c") >= _OBS_MIN_ALT_C,
            grid(
                F.lit(1.0)
                / F.sin(
                    F.radians(F.col("alt_max_c").cast("double") / F.lit(100.0))
                ),
                6,
            ),
        ).alias("airmass_micro"),
    ).orderBy("obj_id")


@register(
    "xmatch_mutual_nearest",
    oracle=f"""
WITH cat AS ({sky_catalog_sql()}),
b AS ({sky_catalog_sql("s_suppkey", salt="s")}),
cand AS (
  SELECT a.obj_id AS a_id, b.obj_id AS b_id,
         {ra_dist_sql("a.ra_c", "b.ra_c")} * {ra_dist_sql("a.ra_c", "b.ra_c")}
         + (a.dec_c - b.dec_c) * (a.dec_c - b.dec_c) AS d2
  FROM cat a JOIN b
    ON {ra_dist_sql("a.ra_c", "b.ra_c")} <= {_SPH_EPS}
   AND abs(a.dec_c - b.dec_c) <= {_SPH_EPS}
),
best_a AS (
  SELECT a_id, b_id, d2 FROM (
    SELECT a_id, b_id, d2,
           ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY d2, b_id) AS rn
    FROM cand) z WHERE rn = 1
),
best_b AS (
  SELECT a_id, b_id FROM (
    SELECT a_id, b_id,
           ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY d2, a_id) AS rn
    FROM cand) z WHERE rn = 1
)
SELECT a.a_id, a.b_id, a.d2
FROM best_a a JOIN best_b b ON a.a_id = b.a_id AND a.b_id = b.b_id
ORDER BY a.a_id
""",
)
def xmatch_mutual_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-nearest (symmetric best) cross-match — the one-to-one
    assignment rule catalog pipelines use when BOTH catalogs are
    confusion-limited: keep a pair only when A's nearest candidate is
    B AND B's nearest candidate is A. One-directional nearest matching
    (`xmatch_nearest`) lets a bright source absorb several neighbors;
    the mutual filter breaks exactly those many-to-one chains, which
    the fixture genuinely contains (pinned in tests).

    The candidate search is the binned 3×3 mod-ring cell join. Both
    argmin directions are ROW_NUMBER windows over the SAME candidate
    rows, tie-broken by (d², partner id) on exact integer squared
    distances (box metric on centi-degree coords with circular RA):
    ``rn_a`` partitions by a_id, ``rn_b`` by b_id. A pair is mutual
    nearest iff it ranks first in both directions, so the mutual
    filter is ``rn_a == 1 AND rn_b == 1`` on one lineage — no join
    reconciles two winner tables.

    100-TB posture: candidates shuffle on cell id; the two windows add
    one exchange each, keyed on an object id — candidate-sized, never
    all-pairs. d² <= 2·200² — trivial ints.
    """
    cat = sky_catalog(spark, sf_dir).withColumnRenamed("obj_id", "a_id")
    bcat = sky_catalog(spark, sf_dir, "s_suppkey", salt="s").withColumnRenamed(
        "obj_id", "b_id"
    )
    eps = _SPH_EPS
    xy = ("ra_c", "dec_c")
    dra = ra_dist("a_ra", "b_ra")
    ddec = F.abs(F.col("a_dec") - F.col("b_dec"))
    cand = (
        cell_join(
            cat, bcat, xy, xy, (eps, eps), _SPH_RA_CELLS,
            home_cols=[
                "a_id", F.col("ra_c").alias("a_ra"), F.col("dec_c").alias("a_dec")
            ],
            away_cols=[
                "b_id", F.col("ra_c").alias("b_ra"), F.col("dec_c").alias("b_dec")
            ],
        )
        .filter((dra <= eps) & (ddec <= eps))
        .select("a_id", "b_id", (dra * dra + ddec * ddec).alias("d2"))
    )
    # r13 (guide §2.4, the round's duplicate-lineage sweep): best_a and
    # best_b were two separate consumers of `cand`, so the WHOLE
    # candidate build (both md5 catalogs, the 3x3 cell explode and the
    # cell join) executed twice, and a third join reconciled the two
    # winner tables. A pair is mutual-nearest iff it is rank 1 in BOTH
    # directions — two consecutive row_number windows over the SAME
    # candidate rows compute exactly that with one lineage and no join
    # (each (a_id, b_id) pair appears at most once in cand: `a` sits in
    # exactly one cell, so only the matching replica of b joins).
    ranked = cand.withColumn(
        "rn_a",
        F.row_number().over(Window.partitionBy("a_id").orderBy("d2", "b_id")),
    ).withColumn(
        "rn_b",
        F.row_number().over(Window.partitionBy("b_id").orderBy("d2", "a_id")),
    )
    return (
        ranked.filter((F.col("rn_a") == 1) & (F.col("rn_b") == 1))
        .select("a_id", "b_id", "d2")
        .orderBy("a_id")
    )


#: injection-recovery: mag grid (centi-mag), detection threshold in
#: micro-flux at mag 20.00, and the md5 noise half-range.
_INJ_MAG_LO_C = 1800
_INJ_MAG_HI_C = 2400
_INJ_BIN_C = 50


@register(
    "sky_injection_completeness",
    oracle=f"""
WITH inj AS (
  SELECT c_custkey AS src_id,
         {_INJ_MAG_LO_C} + {md5_int_sql("CAST(c_custkey AS VARCHAR)", 13, 6)}
           % {_INJ_MAG_HI_C - _INJ_MAG_LO_C} AS mag_c
  FROM customer
),
det AS (
  SELECT src_id, mag_c, (mag_c - {_INJ_MAG_LO_C}) // {_INJ_BIN_C} AS bin,
         CASE WHEN mag_c * 10
                   + {md5_int_sql("'n' || CAST(src_id AS VARCHAR)", 1, 6)} % 4000
                   - 2000 < 21500
              THEN 1 ELSE 0 END AS recovered
  FROM inj
),
bins AS (
  SELECT bin,
         MIN(mag_c) AS mag_lo_c,
         CAST(COUNT(*) AS BIGINT) AS n_injected,
         CAST(SUM(recovered) AS BIGINT) AS n_recovered,
         CAST(SUM(recovered) * 1000000 // COUNT(*) AS BIGINT)
           AS completeness_micro
  FROM det GROUP BY bin
)
SELECT CAST(bin AS BIGINT) AS bin, CAST(mag_lo_c AS BIGINT) AS mag_lo_c,
       n_injected, n_recovered, completeness_micro,
       completeness_micro >= 500000 AS above_half
FROM bins ORDER BY bin
""",
)
def sky_injection_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Injection–recovery completeness curve — how every survey
    measures its detection depth (inject synthetic sources of known
    magnitude, count how many the pipeline recovers, report the
    recovered fraction per magnitude bin and where it crosses 50% —
    the quoted "limiting magnitude"): injected magnitudes are
    md5-uniform on 18.00–24.00 mag, the recovery rule is a
    deterministic noisy threshold (mag·10 + md5-noise ±2000 against a
    fixed cut, so completeness genuinely FALLS from ~1 to ~0 across
    the grid — the sigmoid shape is pinned in tests), and the audit
    bins by 0.5 mag. The same relational shape consumes REAL
    injection-recovery pairs (`sky_source_extract` detections
    anti-joined against the injected list) — the synthetic recovery
    rule stands in for the detector, not for the algebra.

    Exactness: magnitudes, noise, bins, and the completeness ratio are
    all exact integers (positive cross-multiply div); no float exists.

    100-TB posture: ONE map-side-combinable aggregation onto
    |mag bins| rows; injection lists at survey scale are per-tile and
    the groupBy key extends to (tile, bin) with the same plan.
    """
    c = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey").cast("string")
    inj = c.select(
        F.col("c_custkey").alias("src_id"),
        (
            F.lit(_INJ_MAG_LO_C)
            + md5_int(key, 13, 6)
            % (_INJ_MAG_HI_C - _INJ_MAG_LO_C)
        ).alias("mag_c"),
    )
    hn_key = F.concat(F.lit("n"), F.col("src_id").cast("string"))
    det = inj.select(
        "src_id", "mag_c",
        F.expr(f"(mag_c - {_INJ_MAG_LO_C}) div {_INJ_BIN_C}").alias("bin"),
        F.when(
            F.col("mag_c") * 10
            + md5_int(hn_key, 1, 6) % 4000
            - 2000
            < 21500,
            1,
        ).otherwise(0).alias("recovered"),
    )
    return (
        det.groupBy("bin")
        .agg(
            F.min("mag_c").cast("long").alias("mag_lo_c"),
            F.count(F.lit(1)).cast("long").alias("n_injected"),
            F.sum("recovered").cast("long").alias("n_recovered"),
            F.expr(
                "CAST(SUM(recovered) * 1000000 div COUNT(*) AS BIGINT)"
            ).alias("completeness_micro"),
        )
        .select(
            F.col("bin").cast("long").alias("bin"), "mag_lo_c",
            "n_injected", "n_recovered", "completeness_micro",
            (F.col("completeness_micro") >= 500000).alias("above_half"),
        )
        .orderBy("bin")
    )


def _tpt_pairs_sql(a_src: str, b_src: str, self_pair: bool) -> str:
    """Binned-box pair counts per separation bin between two staged
    catalogs (SQL half of the Landy–Szalay kernel)."""
    cond = (
        "a.obj_id < b.obj_id" if self_pair else "TRUE"
    )
    return f"""
  SELECT {_tpt_bin_expr("d.dist_rad")} AS sep_bin,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM (
    SELECT {haversine_sql("a.ra_c", "a.dec_c", "b.ra_c", "b.dec_c")} AS dist_rad
    FROM {a_src} a JOIN {b_src} b
      ON {cond}
     AND {ra_dist_sql("a.ra_c", "b.ra_c")} <= {_SPH_EPS}
     AND abs(a.dec_c - b.dec_c) <= {_SPH_EPS}) d
  WHERE {_tpt_bin_expr("d.dist_rad")} < 3
  GROUP BY 1
"""


@register(
    "sky_two_point_landy_szalay",
    oracle=f"""
WITH dcat AS ({sky_catalog_sql()}),
rcat AS ({sky_catalog_sql(salt="r")}),
dd AS ({_tpt_pairs_sql("dcat", "dcat", True)}),
dr AS ({_tpt_pairs_sql("dcat", "rcat", False)}),
rr AS ({_tpt_pairs_sql("rcat", "rcat", True)}),
nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM dcat)
SELECT b.sep_bin,
       COALESCE(dd.n_pairs, 0) AS dd_pairs,
       COALESCE(dr.n_pairs, 0) AS dr_pairs,
       COALESCE(rr.n_pairs, 0) AS rr_pairs,
       CASE WHEN COALESCE(rr.n_pairs, 0) > 0 THEN
         {grid_sql('''(
           (CAST(COALESCE(dd.n_pairs, 0) AS DOUBLE)
              / (CAST(nd AS DOUBLE) * (nd - 1) / 2.0)
            - 2.0 * CAST(COALESCE(dr.n_pairs, 0) AS DOUBLE)
              / (CAST(nd AS DOUBLE) * nd)
            + CAST(COALESCE(rr.n_pairs, 0) AS DOUBLE)
              / (CAST(nd AS DOUBLE) * (nd - 1) / 2.0))
           / (CAST(COALESCE(rr.n_pairs, 0) AS DOUBLE)
              / (CAST(nd AS DOUBLE) * (nd - 1) / 2.0))
         )''', 6)}
       ELSE NULL END AS w_micro
FROM (SELECT unnest(generate_series(0, 2)) AS sep_bin) b
LEFT JOIN dd USING (sep_bin)
LEFT JOIN dr USING (sep_bin)
LEFT JOIN rr USING (sep_bin)
CROSS JOIN nn
ORDER BY b.sep_bin
""",
)
def sky_two_point_landy_szalay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL Landy–Szalay angular correlation estimator
    w(θ) = (DD − 2DR + RR) / RR (Landy & Szalay 1993, each term
    normalized by its pair budget) — the production form of
    `sky_two_point_dd`: the data catalog's pair counts are compared
    against a same-size RANDOM catalog (md5 with a salted key — the
    repo's deterministic-randoms convention, exactly how surveys ship
    reproducible random catalogs), with DR correcting for the survey
    window. On the md5 sky both catalogs are uniform draws, so w(θ)
    must be consistent with ZERO at every separation — the null
    result is the correctness statement, and the cross-check pins it.

    All three pair searches run the SAME binned 3×3 mod-ring cell
    join (never all-pairs); DD/RR count unordered pairs (i < j), DR
    counts ordered cross-pairs; counts are exact integers, w
    floor-grids ONE shared normalization expression to micro, and an
    empty-RR bin reports NULL (no estimate exists there — and under
    ANSI mode a guard, not a 0-division, is the only correct plan).

    100-TB posture: three candidate joins shuffling on cell id with
    AQE skew splits — the estimator's cost IS three DD-shaped passes
    (surveys run exactly this, with RR cached across data releases
    since randoms don't change; the staged `rcat` plays that role).
    """
    dcat = sky_catalog(spark, sf_dir).localCheckpoint(eager=True)
    rcat = sky_catalog(spark, sf_dir, salt="r").localCheckpoint(eager=True)
    eps = _SPH_EPS
    xy = ("ra_c", "dec_c")

    def pair_bins(left: DataFrame, right: DataFrame,
                  self_pair: bool) -> DataFrame:
        flt = (
            (ra_dist("a_ra", "b_ra") <= eps)
            & (F.abs(F.col("a_dec") - F.col("b_dec")) <= eps)
        )
        if self_pair:
            flt = flt & (F.col("ia") < F.col("ib"))
        hav = haversine_sql("a_ra", "a_dec", "b_ra", "b_dec")
        return (
            cell_join(
                left, right, xy, xy, (eps, eps), _SPH_RA_CELLS,
                home_cols=[
                    F.col("obj_id").alias("ia"),
                    F.col("ra_c").alias("a_ra"), F.col("dec_c").alias("a_dec"),
                ],
                away_cols=[
                    F.col("obj_id").alias("ib"),
                    F.col("ra_c").alias("b_ra"), F.col("dec_c").alias("b_dec"),
                ],
            )
            .filter(flt)
            .select(
                F.expr(_tpt_bin_expr(f"({hav})")).cast("long")
                .alias("sep_bin")
            )
            .filter(F.col("sep_bin") < 3)
            .groupBy("sep_bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        )

    dd = pair_bins(dcat, dcat, True)
    dr = pair_bins(dcat, rcat, False)
    rr = pair_bins(rcat, rcat, True)
    nn = dcat.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    bins = spark.range(0, 3).select(
        F.col("id").cast("long").alias("sep_bin")
    )
    j = (
        bins.join(dd.withColumnRenamed("n_pairs", "dd_pairs"),
                  "sep_bin", "left")
        .join(dr.withColumnRenamed("n_pairs", "dr_pairs"),
              "sep_bin", "left")
        .join(rr.withColumnRenamed("n_pairs", "rr_pairs"),
              "sep_bin", "left")
        .crossJoin(F.broadcast(nn))
        .select(
            "sep_bin",
            F.coalesce("dd_pairs", F.lit(0)).cast("long").alias("dd_pairs"),
            F.coalesce("dr_pairs", F.lit(0)).cast("long").alias("dr_pairs"),
            F.coalesce("rr_pairs", F.lit(0)).cast("long").alias("rr_pairs"),
            "nd",
        )
    )
    ndd = F.col("nd").cast("double") * (F.col("nd") - 1) / F.lit(2.0)
    ndr = F.col("nd").cast("double") * F.col("nd")
    w = (
        (
            F.col("dd_pairs").cast("double") / ndd
            - F.lit(2.0) * F.col("dr_pairs").cast("double") / ndr
            + F.col("rr_pairs").cast("double") / ndd
        )
        / (F.col("rr_pairs").cast("double") / ndd)
    )
    return j.select(
        "sep_bin", "dd_pairs", "dr_pairs", "rr_pairs",
        # an empty-RR bin has no estimate — NULL, never a division
        F.when(
            F.col("rr_pairs") > 0,
            grid(w, 6),
        ).alias("w_micro"),
    ).orderBy("sep_bin")
