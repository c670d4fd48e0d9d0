"""Window-function operators (SURVEY.md §2.5).

One shuffle per distinct partitioning key; all six queries below reuse a
single partitioning each, so Catalyst plans exactly one Exchange + one
sort per query. Scale notes:

- window partitions must fit an executor's memory page by page — the
  partition keys here (customer, user, order) are high-cardinality, which
  is the shape that scales; a window partitioned by a 6-value key would
  concentrate 100 TB on 6 tasks;
- running sums use ROWS frames (streaming accumulation) and integer-exact
  or decimal-exact sums, so results are order-stable across engines;
- ntile is only deterministic under a total order — it gets a fully
  tie-broken window, while rank/dense_rank/percent_rank deliberately run
  on a tied ordering to exercise tie semantics (deterministic for them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import dsum, dsum_sql, grid, grid_sql
from ..registry import register


@register(
    "win_rank_topk",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) t
WHERE rn <= 3
""",
)
def win_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-N via row_number (tie-broken by o_orderkey — bare
    row_number over a tied sort is nondeterministic)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "win_ranking",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_orderpriority,
       RANK()         OVER w_ties  AS rnk,
       DENSE_RANK()   OVER w_ties  AS drnk,
       PERCENT_RANK() OVER w_ties  AS prnk,
       CUME_DIST()    OVER w_ties  AS cdist,
       NTILE(4)       OVER w_total AS quartile
FROM orders
WINDOW
  w_ties  AS (PARTITION BY o_orderstatus ORDER BY o_orderpriority),
  w_total AS (PARTITION BY o_orderstatus ORDER BY o_orderpriority, o_orderkey)
""",
)
def win_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family. rank/dense_rank/percent_rank/cume_dist run over a
    deliberately *tied* ordering (priority has 5 values) — they are
    deterministic under ties; ntile is not, so it gets a total order."""
    o = load_table(spark, sf_dir, "orders")
    w_ties = Window.partitionBy("o_orderstatus").orderBy("o_orderpriority")
    w_total = Window.partitionBy("o_orderstatus").orderBy(
        "o_orderpriority", "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.rank().over(w_ties).alias("rnk"),
        F.dense_rank().over(w_ties).alias("drnk"),
        F.percent_rank().over(w_ties).alias("prnk"),
        F.cume_dist().over(w_ties).alias("cdist"),
        F.ntile(4).over(w_total).alias("quartile"),
    )


@register(
    "win_lag_lead",
    oracle="""
SELECT event_id, user_id, ts,
       LAG(ts)  OVER w AS prev_ts,
       LEAD(event_type) OVER w AS next_type,
       epoch_us(ts) - epoch_us(LAG(ts) OVER w) AS gap_us
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Previous/next event per user — the sessionization building block.
    Gaps are computed in integer microseconds (epoch_us/unix_micros) so
    both engines agree exactly at full timestamp precision."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        prev_ts.alias("prev_ts"),
        F.lead("event_type").over(w).alias("next_type"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)).alias("gap_us"),
    )


@register(
    "win_running_rows",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER w AS DOUBLE)
         AS running_qty,
       COUNT(*) OVER w AS running_cnt
FROM lineitem
WINDOW w AS (PARTITION BY l_orderkey
             ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity,
                      l_extendedprice
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def win_running_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum/count with an explicit ROWS frame; the sum goes
    through decimal so the prefix sums are exact in any engine.

    (l_orderkey, l_linenumber) is NOT unique in the fixtures (11785 dup
    groups at sf0.01) — a ROWS frame needs a total order, so the sort key
    is the full verified-unique composite.
    """
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy(
            "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_qty"),
        F.count(F.lit(1)).over(w).alias("running_cnt"),
    )


@register(
    "win_range_frame",
    oracle="""
SELECT o_orderkey, o_custkey, day_num,
       COUNT(*) OVER w AS cnt_30d,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE)
         AS spend_30d
FROM (
  SELECT o_orderkey, o_custkey, o_totalprice,
         datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
           AS day_num
  FROM orders
) t
WINDOW w AS (PARTITION BY o_custkey ORDER BY day_num
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
""",
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame on a value axis: trailing-30-day order count and spend
    per customer. RANGE frames are defined by value, so tied day_nums get
    identical frames — deterministic without a tie-break."""
    o = load_table(spark, sf_dir, "orders")
    day_num = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_num")
        .rangeBetween(-30, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        day_num.alias("day_num"),
        F.col("o_totalprice"),
    ).select(
        "o_orderkey",
        "o_custkey",
        "day_num",
        F.count(F.lit(1)).over(w).alias("cnt_30d"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .over(w)
        .cast("double")
        .alias("spend_30d"),
    )


@register(
    "win_first_last",
    oracle="""
SELECT o_orderkey, o_custkey,
       FIRST_VALUE(o_orderkey) OVER w AS first_key,
       LAST_VALUE(o_orderkey)  OVER w AS last_key,
       FIRST_VALUE(o_totalprice) OVER w AS first_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last over an explicit full-partition frame — frame-spec
    defaults differ between engines (last_value's default frame ends at
    CURRENT ROW), so the frame is always stated (SURVEY.md §2.5)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_key"),
        F.last("o_orderkey").over(w).alias("last_key"),
        F.first("o_totalprice").over(w).alias("first_price"),
    )


def session_starts_sql(cols: str) -> str:
    """The ``x`` CTE of the 30-minute sessionizers (DuckDB text): each
    event as ``user_id, ts, <cols>`` with ``new_s`` = 1 where a session
    starts — the user's first event, or one 30 minutes or more after the
    previous event in ``(ts, event_id)`` order."""
    return f"""x AS (
  SELECT user_id, ts, {cols},
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)"""


@register(
    "sessionize_batch",
    oracle=f"""
WITH {session_starts_sql("value, event_id")},
y AS (
  SELECT user_id, ts, value,
         -- CAST: DuckDB window SUM(int) yields HUGEINT, which the driver's
         -- numpy hasher degrades to float64 while Spark emits int64 —
         -- confirmed round-1 hash mismatch (VERDICT.md item 1).
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM x
)
SELECT user_id, sid, MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events, {dsum_sql('value', 'sum_value', 6)}
FROM y
GROUP BY user_id, sid
""",
)
def sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization, the canonical window composition: lag gives
    the inter-event gap, a gap ≥ 30 min flags a session start, a running
    sum over the flags numbers the sessions, and a group-by rolls each
    session up. Same semantics as the streaming ``session_window`` path
    (stream_session) — three independent implementations of one
    definition now check each other through the oracle. One shuffle on
    the user key; every window and the final aggregate share it.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_s",
        F.when(gap_us.isNull() | (gap_us >= 1_800_000_000), 1).otherwise(0),
    )
    sessions = flagged.withColumn(
        "sid",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sessions.groupBy("user_id", "sid").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "sum_value", 6),
    )


@register(
    "ts_gapfill",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
         CAST(SUM(CAST(ROUND(value*1000000.0) AS BIGINT)) AS DOUBLE)
           / 1000000.0 AS day_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id
), cal AS (
  SELECT user_id,
         CAST(UNNEST(generate_series(CAST(d0 AS TIMESTAMP),
                                     CAST(d1 AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
)
SELECT c.user_id, c.day,
       COALESCE(d.n_events, 0) AS n_events,
       LAST_VALUE(d.day_value IGNORE NULLS) OVER (
         PARTITION BY c.user_id ORDER BY c.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill,
       CASE WHEN d.n_events IS NULL THEN 1 ELSE 0 END AS is_gap
FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
""",
)
def ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar resample + gap fill — regularize an irregular time series.

    The light-curve / observation-log shape: aggregate events to one row
    per (object, day), then densify to the full per-object calendar with
    ``sequence(min_day, max_day)`` + ``explode``, left-join the observed
    days back, and forward-fill the measurement with
    ``last(ignorenulls=True)`` over an unbounded-preceding ROWS frame.
    Missing days surface as ``is_gap=1`` with ``n_events=0``.

    Scale: the calendar is generated per key from its own bounds — no
    driver-side date loop, no cross join against a global calendar — so
    densification is O(days-per-key) rows emitted map-side. All four
    stages (daily agg, bounds agg, join, fill window) hash on the same
    user key family; the daily sum uses the exact scaled-long path so the
    forward-filled doubles are bit-identical to the oracle's.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "day_value", 6),
    )
    cal = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    joined = cal.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        "day",
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        F.last("day_value", ignorenulls=True).over(w).alias("value_ffill"),
        F.col("n_events").isNull().cast("int").alias("is_gap"),
    )


@register(
    "ts_interpolate",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
         CAST(SUM(CAST(ROUND(value*1000000.0) AS BIGINT)) AS BIGINT) AS sv
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id
), cal AS (
  SELECT user_id,
         CAST(UNNEST(generate_series(CAST(d0 AS TIMESTAMP),
                                     CAST(d1 AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
), j AS (
  SELECT c.user_id, c.day, d.sv, d.n_events
  FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
), neigh AS (
  SELECT user_id, day, sv, n_events,
         LAST_VALUE(sv IGNORE NULLS) OVER wp AS prev_s,
         LAST_VALUE(CASE WHEN sv IS NOT NULL THEN day END IGNORE NULLS)
           OVER wp AS prev_d,
         FIRST_VALUE(sv IGNORE NULLS) OVER wn AS next_s,
         FIRST_VALUE(CASE WHEN sv IS NOT NULL THEN day END IGNORE NULLS)
           OVER wn AS next_d
  FROM j
  WINDOW wp AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, day,
       COALESCE(n_events, 0) AS n_events,
       CASE WHEN sv IS NOT NULL THEN 1 ELSE 0 END AS is_obs,
       CASE WHEN sv IS NOT NULL THEN CAST(sv AS DOUBLE) / 1000000.0
            ELSE CAST(prev_s * (next_d - day) + next_s * (day - prev_d)
                      AS DOUBLE)
                 / (CAST(next_d - prev_d AS DOUBLE) * 1000000.0)
       END AS interp_value
FROM neigh
""",
)
def ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across time-series gaps — the companion to
    :func:`ts_gapfill`'s forward fill (a light curve resampled onto a
    daily grid with straight-line infill between observations).

    Same densify-and-join skeleton as the gap fill, plus a mirrored pair
    of unbounded windows: last-observed (value, day) looking back and
    first-observed looking forward. A gap day's value is the linear
    blend ``(prev*(next_d-day) + next*(day-prev_d)) / (next_d-prev_d)``.
    The blend is computed entirely in exact integers — scaled-long daily
    sums times integer day distances — with ONE double division at the
    end, so both engines produce bit-identical doubles and the oracle
    hash is exact (no float accumulation anywhere). Calendar bounds are
    each key's own min/max observed day, so every gap row has both
    neighbors by construction.

    Scale: one shuffle on the user key shared by the daily aggregate,
    the calendar join and both windows; densification is map-side
    ``sequence``+``explode`` (O(days-per-key) emitted rows, no global
    calendar cross join) — the same 100-TB posture as ts_gapfill.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 1000000.0).cast("long")).alias("sv"),
    )
    cal = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    j = cal.join(daily, ["user_id", "day"], "left")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("sv").isNotNull(), F.col("day"))
    neigh = j.select(
        "user_id",
        "day",
        "sv",
        "n_events",
        F.last("sv", ignorenulls=True).over(wp).alias("prev_s"),
        F.last(obs_day, ignorenulls=True).over(wp).alias("prev_d"),
        F.first("sv", ignorenulls=True).over(wn).alias("next_s"),
        F.first(obs_day, ignorenulls=True).over(wn).alias("next_d"),
    )
    num = F.col("prev_s") * F.datediff("next_d", "day") + F.col(
        "next_s"
    ) * F.datediff("day", "prev_d")
    den = F.datediff("next_d", "prev_d").cast("double") * 1000000.0
    return neigh.select(
        "user_id",
        "day",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.col("sv").isNotNull().cast("int").alias("is_obs"),
        F.when(
            F.col("sv").isNotNull(), F.col("sv").cast("double") / 1000000.0
        )
        .otherwise(num.cast("double") / den)
        .alias("interp_value"),
    )


@register(
    "ts_ohlc_downsample",
    oracle="""
WITH b AS (
  SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week,
         ts, event_id, value
  FROM events
), w AS (
  SELECT event_type, week, value,
         FIRST_VALUE(value) OVER (PARTITION BY event_type, week
                                  ORDER BY ts, event_id) AS open,
         FIRST_VALUE(value) OVER (PARTITION BY event_type, week
                                  ORDER BY ts DESC, event_id DESC) AS close
  FROM b
)
SELECT event_type, week,
       MIN(open) AS open, MAX(value) AS high, MIN(value) AS low,
       MIN(close) AS close, COUNT(*) AS n_obs
FROM w
GROUP BY event_type, week
""",
)
def ts_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC time-series downsampling — collapse a raw observation log into
    one open/high/low/close bar per (series, week), the rollup a market
    feed or a photometric survey uses to turn ticks into candles.

    Open/close are the values at the bucket's earliest/latest timestamp,
    tie-broken by event_id so the bar is deterministic even with
    duplicate timestamps. Spark computes them as a lexicographic
    min/max over ``struct(t_us, event_id, value)`` — ONE hash
    aggregation, no window, so map-side partials collapse each bucket
    to a single row before the shuffle: downsampling a trillion-row log
    moves only #series × #weeks rows. (The oracle states the same
    semantics with FIRST_VALUE windows, which is how you'd write it
    naively; the struct-min form is the scale-out version.) High/low/
    count ride the same aggregation. Values pass through untouched
    (no arithmetic), so both engines emit bit-identical doubles.
    """
    ev = load_table(spark, sf_dir, "events")
    okey = F.struct(
        F.unix_micros("ts").alias("t"),
        F.col("event_id").alias("e"),
        F.col("value").alias("v"),
    )
    return (
        ev.select(
            "event_type",
            F.date_trunc("week", "ts").cast("date").alias("week"),
            okey.alias("okey"),
            "value",
        )
        .groupBy("event_type", "week")
        .agg(
            F.min("okey").getField("v").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max("okey").getField("v").alias("close"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )


@register(
    "win_moving_median",
    oracle="""
SELECT event_id, user_id, ts, value,
       ROUND(quantile_cont(value, 0.5) OVER w5, 6) AS roll_median,
       ROUND(value - quantile_cont(value, 0.5) OVER w5, 6) AS detrended
FROM events
WINDOW w5 AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
""",
)
def win_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-point rolling MEDIAN per series plus the detrended residual —
    median detrending is the standard robust baseline removal before
    variability/outlier analysis (a rolling mean chases the outliers it
    should expose; the median doesn't).

    ``percentile`` runs as a window aggregate over the tie-broken
    5-row frame; both engines use the same continuous-quantile
    interpolation, and the frame is tiny and bounded, so the 6-dp
    round agrees. One shuffle on the series key — same posture as
    `lightcurve_stats`; the frame buffer is O(5), so state never grows
    with series length.
    """
    ev = load_table(spark, sf_dir, "events")
    w5 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    med = F.expr("percentile(value, 0.5D)").over(w5)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.round(med, 6).alias("roll_median"),
        F.round(F.col("value") - med, 6).alias("detrended"),
    )


@register(
    "win_running_distinct",
    oracle="""
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
), daily AS (
  SELECT day, COUNT(*) AS n_new FROM firsts GROUP BY day
)
SELECT day, n_new,
       CAST(SUM(n_new) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM daily
""",
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day — the growth-curve query. A
    naive ``size(collect_set(user)) OVER (ORDER BY day)`` buffers every
    id seen so far in window state (O(users) per row — the running-
    distinct anti-pattern). The scalable rewrite: distinct is COUNTED
    ONCE at each user's FIRST day (per-user min — one keyed
    aggregation), then the cumulative curve is a running sum over the
    tiny per-day table. The only data-sized shuffle is the user-key
    aggregation; the unpartitioned window runs over |days| rows.
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    daily = firsts.groupBy("day").agg(F.count(F.lit(1)).alias("n_new"))
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "day", "n_new", F.sum("n_new").over(w).alias("cum_users")
    )


@register(
    "win_streaks",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), grp AS (
  SELECT user_id, day,
         day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                    AS INT) AS anchor
  FROM days
), streaks AS (
  SELECT user_id, MIN(day) AS streak_start, COUNT(*) AS streak_days
  FROM grp GROUP BY user_id, anchor
)
SELECT user_id, streak_start, streak_days,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY streak_days DESC, streak_start)
            AS BIGINT) AS rnk
FROM streaks
""",
)
def win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: consecutive-day activity streaks per user,
    ranked longest-first — THE islands idiom (``day − row_number`` is
    constant within a run of consecutive days, so one window + one
    groupBy turns runs into rows; retention/engagement and
    observing-cadence analyses are this exact shape).

    Two shuffles, both on the user key (the day pre-distinct, then the
    window/groupBy pair riding the same partitioning via exchange
    reuse); per-row state is one integer. No self-join, no sequence
    materialization — the anti-patterns this idiom replaces.
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.select(
        "user_id",
        "day",
        F.date_sub("day", F.row_number().over(w)).alias("anchor"),
    )
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.min("day").alias("streak_start"),
        F.count(F.lit(1)).alias("streak_days"),
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.col("streak_days").desc(), "streak_start"
    )
    return streaks.select(
        "user_id",
        "streak_start",
        "streak_days",
        F.row_number().over(wr).cast("bigint").alias("rnk"),
    )


@register(
    "win_pareto_abc",
    oracle=f"""
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM({grid_sql('o_totalprice', 2)})
              AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT o_custkey, cents,
         SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                          ROWS UNBOUNDED PRECEDING) AS run_cents,
         CAST(SUM(cents) OVER () AS BIGINT) AS tot_cents
  FROM spend
)
SELECT o_custkey, CAST(cents AS DOUBLE) / 100.0 AS spend,
       CAST(run_cents AS DOUBLE) / tot_cents AS cum_share,
       CASE WHEN CAST(run_cents AS DOUBLE) / tot_cents <= 0.8 THEN 'A'
            WHEN CAST(run_cents AS DOUBLE) / tot_cents <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked
""",
)
def win_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC analysis: customers ranked by spend with their
    cumulative revenue share and A/B/C class (top-80% / next-15% /
    tail) — the concentration query behind every "20% of X drives 80%
    of Y" claim. Running and total sums are EXACT integer cents (the
    class boundary is a comparison on an exact ratio — a float running
    sum could flip a boundary row between engines), with one double
    division per row at the end. The unpartitioned running-sum window
    operates on the per-customer AGGREGATE (one row per customer), not
    raw orders; at 100 TB the two-level prefix-scan rewrite documented
    for `skyline_pareto` applies to the same sweep.
    """
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(grid("o_totalprice", 2)).alias("cents")
    )
    w_run = (
        Window.orderBy(F.col("cents").desc(), "o_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    share = F.col("run_cents").cast("double") / F.col("tot_cents")
    return (
        spend.select(
            "o_custkey",
            "cents",
            F.sum("cents").over(w_run).alias("run_cents"),
            F.sum("cents").over(w_all).alias("tot_cents"),
        )
        .select(
            "o_custkey",
            (F.col("cents").cast("double") / 100.0).alias("spend"),
            share.alias("cum_share"),
            F.when(share <= 0.8, "A")
            .when(share <= 0.95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )


@register(
    "ts_seasonal_index",
    oracle=f"""
WITH m AS (
  SELECT CAST(isodow(ts) - 1 AS BIGINT) AS weekday,
         COUNT(*) AS n,
         CAST(SUM({grid_sql('value', 6)}) AS BIGINT)
           AS sv
  FROM events GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(sv) AS BIGINT) AS tsv FROM m
)
SELECT weekday, n,
       CAST(sv AS DOUBLE) / 1000000.0 / n AS day_mean,
       (CAST(sv AS DOUBLE) / n) / (CAST(tsv AS DOUBLE) / tn)
         AS seasonal_index
FROM m, tot
""",
)
def ts_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicative seasonal index per weekday: day-of-week mean over
    grand mean — the classical decomposition's seasonal component (and
    an observing-cadence bias profile for a survey; weekday cycle is
    what the fixture's activity actually carries). Both means derive
    from the SAME exact scaled-long sums (one per-month aggregation;
    the grand totals are re-sums of the 12-row month table, not a
    second data pass), so the index is a ratio of exact integers with
    two deterministic double divisions. The grand-total side is a
    broadcast cross join of a 1-row aggregate — the standard
    share-of-total shape at any scale.
    """
    ev = load_table(spark, sf_dir, "events")
    m = ev.groupBy(F.weekday("ts").cast("long").alias("weekday")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(grid("value", 6)).alias("sv"),
    )
    tot = m.agg(
        F.sum("n").alias("tn"), F.sum("sv").alias("tsv")
    )
    return m.crossJoin(F.broadcast(tot)).select(
        "weekday",
        "n",
        (F.col("sv").cast("double") / 1000000.0 / F.col("n")).alias(
            "day_mean"
        ),
        (
            (F.col("sv").cast("double") / F.col("n"))
            / (F.col("tsv").cast("double") / F.col("tn"))
        ).alias("seasonal_index"),
    )


@register(
    "win_year_over_year",
    oracle=f"""
WITH m AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
         CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mo,
         CAST(SUM({grid_sql('o_totalprice', 2)})
              AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
)
SELECT yr, mo, CAST(cents AS DOUBLE) / 100.0 AS revenue,
       CAST(LAG(cents) OVER w AS DOUBLE) / 100.0 AS revenue_prev_year,
       CAST(cents AS DOUBLE) / LAG(cents) OVER w AS yoy_ratio
FROM m
WINDOW w AS (PARTITION BY mo ORDER BY yr)
""",
)
def win_year_over_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year comparison: monthly revenue against the SAME month
    one year earlier — the lag window partitioned by calendar month
    (not ordered by raw date), which is what makes it seasonal-aware.
    The revenue base is the exact-cents monthly aggregate; the YoY
    ratio is one double division of two exact integers, so boundary
    months hash identically. The window runs over the (year × month)
    aggregate — at most a few hundred rows at ANY data scale; the one
    data-sized stage is the monthly rollup with map-side partials.
    """
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
    ).agg(
        F.sum(grid("o_totalprice", 2)).alias("cents")
    )
    w = Window.partitionBy("mo").orderBy("yr")
    prev = F.lag("cents").over(w)
    return m.select(
        "yr",
        "mo",
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        (prev.cast("double") / 100.0).alias("revenue_prev_year"),
        (F.col("cents").cast("double") / prev).alias("yoy_ratio"),
    )


@register(
    "ts_interarrival_hist",
    oracle="""
WITH gaps AS (
  SELECT user_id,
         epoch_us(ts) - epoch_us(LAG(ts) OVER
           (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
  FROM events
)
SELECT CAST(FLOOR(LN(gap_us / 1000000.0) / LN(4.0)) AS BIGINT)
         AS log4_bucket,
       COUNT(*) AS n_gaps,
       CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
FROM gaps WHERE gap_us IS NOT NULL AND gap_us > 0
GROUP BY 1
""",
)
def ts_interarrival_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution on a log scale: per-series gaps
    (exact integer microseconds via lag) bucketed by powers of 4 from
    seconds upward — the burstiness/cadence profile of an event stream
    (heavy low buckets = bursts, a spread tail = Poisson-ish arrivals).
    One series-key shuffle for the lag window, then a map-side-partial
    histogram aggregation over the handful of occupied buckets. The
    log-bucket edge is the one float comparison; gaps sit at least a
    full second from any 4^k boundary on this fixture, and min/max per
    bucket are exact integers either way.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    gaps = ev.select(gap.alias("gap_us")).where(
        F.col("gap_us").isNotNull() & (F.col("gap_us") > 0)
    )
    bucket = F.floor(
        F.log(F.col("gap_us") / 1000000.0) / F.log(F.lit(4.0))
    ).cast("long")
    return gaps.groupBy(bucket.alias("log4_bucket")).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
    )


#: EWMA smoothing factor as an exact rational: alpha = 2/10.
_EWMA_NUM, _EWMA_DEN = 2, 10


@register(
    "ts_ewma",
    oracle=f"""
WITH RECURSIVE x AS (
  SELECT user_id, ts, event_id, value,
         {grid_sql('value', 6)} AS v,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
),
r AS (
  SELECT user_id, ts, event_id, value, rn, v AS e
  FROM x WHERE rn = 1
  UNION ALL
  SELECT x.user_id, x.ts, x.event_id, x.value, x.rn,
         ({_EWMA_NUM} * x.v + {_EWMA_DEN - _EWMA_NUM} * r.e
          + {_EWMA_DEN // 2}) // {_EWMA_DEN}
  FROM x JOIN r ON x.user_id = r.user_id AND x.rn = r.rn + 1
)
SELECT user_id, ts, event_id, value,
       CAST(e AS DOUBLE) / 1000000.0 AS ewma
FROM r
""",
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential moving average (α = 0.2) — the classic
    INHERENTLY SEQUENTIAL per-key recurrence that windows can't express
    (each output depends on the previous OUTPUT, not a previous input).

    Engine plan: one shuffle on user_id (``repartition`` + sort-within,
    so every user's rows sit contiguous and ordered inside one
    partition), then ONE ``mapInPandas`` sweep that carries (user, state)
    across rows and across Arrow-batch boundaries. Measured 7× faster
    than the per-group ``applyInPandas`` form at sf0.1 (0.6 s vs 4.3 s):
    grouped-map pays a pandas-frame build per key (1 500 tiny frames
    here), while the partition sweep amortizes the Python boundary over
    whole Arrow batches — the right shape whenever groups are small and
    plentiful. State never crosses key boundaries, so keys scale out
    (same posture as sessionize_batch / stream_stateful).

    Cross-engine exactness: a float recurrence would drift in the last
    ulp between numpy's per-op rounding and the oracle's evaluation
    order, so the recurrence runs on the 1e-6 scaled-long grid in
    EXACT integer arithmetic — ``E_n = (2·V_n + 8·E_{{n-1}} + 5) // 10``
    with floor division in both engines (Python ``//`` and DuckDB ``//``
    both floor). The oracle is a per-user recursive CTE: two
    independent implementations of the same integer recurrence,
    bit-identical by construction.
    """
    from collections.abc import Iterator  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415 — Arrow path only
    import pandas as pd  # noqa: PLC0415

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )

    def ewma(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        last_user, last_e = None, 0
        for pdf in batches:
            v = np.floor(
                pdf["value"].to_numpy() * 1_000_000.0 + 0.5
            ).astype(np.int64)
            u = pdf["user_id"].to_numpy()
            e = np.empty_like(v)
            lu, le = last_user, last_e
            for i in range(len(v)):
                if u[i] != lu:
                    e[i] = v[i]
                    lu = u[i]
                else:
                    e[i] = (
                        _EWMA_NUM * v[i]
                        + (_EWMA_DEN - _EWMA_NUM) * le
                        + _EWMA_DEN // 2
                    ) // _EWMA_DEN
                le = e[i]
            last_user, last_e = lu, le
            pdf["ewma"] = e.astype(np.float64) / 1_000_000.0
            yield pdf

    return (
        ev.repartition(32, "user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .mapInPandas(
            ewma,
            "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, value DOUBLE,"
            " ewma DOUBLE",
        )
    )


#: cross-correlation lag range (hours).
_XCORR_LAGS = 6


@register(
    "ts_cross_corr",
    oracle=f"""
WITH c AS (
  SELECT epoch(date_trunc('hour', ts))::BIGINT // 3600 AS h, COUNT(*) AS x
  FROM events WHERE event_type = 'click' GROUP BY 1
),
p AS (
  SELECT epoch(date_trunc('hour', ts))::BIGINT // 3600 AS h, COUNT(*) AS y
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
l AS (SELECT unnest(generate_series(0, {_XCORR_LAGS})) AS lag),
j AS (
  SELECT l.lag, c.x, p.y
  FROM l JOIN c ON TRUE JOIN p ON p.h = c.h + l.lag
),
s AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM j GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, n AS n_pairs,
       CAST(n * sxy - sx * sy AS DOUBLE)
       / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
          * SQRT(CAST(n * syy - sy * sy AS DOUBLE))) AS xcorr
FROM s
WHERE n >= 10 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
""",
)
def ts_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the hourly click and purchase
    series: does click volume predict purchase volume h hours later?

    The series are first reduced to (epoch-hour, count) — after that the
    lag family is a tiny equi-join (purchase hour = click hour + lag)
    fanned out by an exploded 0..6 lag column, never a window over the
    raw events. Pearson r comes from the six exact integer sums
    (n, Σx, Σy, Σxy, Σx², Σy²) so the only float math is the final
    closed-form division — deterministic in both engines (the same
    integer-sums trick as lightcurve_trend). At 100 TB the raw-event
    aggregation is the only data-sized pass; everything after is
    per-hour rows (≈ 9k rows/year), broadcastable everywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    hours = lambda t: (  # noqa: E731
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600
    ).cast("long")
    c = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(hours("ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(hours("ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    lags = spark.range(_XCORR_LAGS + 1).select(F.col("id").alias("lag"))
    j = (
        c.crossJoin(F.broadcast(lags))
        .join(p, p.h == c.h + F.col("lag"))
        .select("lag", "x", "y")
    )
    s = j.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        s.filter((F.col("n") >= 10) & (varx > 0) & (vary > 0))
        .select(
            F.col("lag").cast("long").alias("lag"),
            F.col("n").alias("n_pairs"),
            (num / (F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double")))).alias(
                "xcorr"
            ),
        )
    )


@register(
    "ts_changepoint",
    oracle=f"""
WITH x AS (
  SELECT user_id, ts, event_id,
         {grid_sql('value', 6)} AS v,
         ROW_NUMBER() OVER w AS k,
         CAST(SUM({grid_sql('value', 6)})
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run,
         CAST(SUM({grid_sql('value', 6)})
              OVER (PARTITION BY user_id) AS BIGINT) AS tot,
         CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
c AS (
  SELECT user_id, ts, n, n * run - k * tot AS cusum
  FROM x WHERE k < n
),
best AS (
  SELECT user_id,
         MIN(struct_pack(neg := -ABS(cusum), ts := ts)) AS b,
         MAX(n) AS n
  FROM c GROUP BY user_id
)
SELECT user_id, b.ts AS cp_ts, -b.neg AS cusum_scaled,
       CAST(-b.neg AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
         AS magnitude,
       n AS n_events
FROM best
""",
)
def ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user mean-shift change-point detection: the CUSUM argmax.

    The classic scan statistic ``CUSUM_k = Σ_{i≤k}(v_i − mean)`` peaks
    at the most likely mean-shift point. Computed division-free in
    exact integers — ``n·run_k − k·total`` on the 1e-6 scaled grid —
    so both engines agree to the bit (the same rational-arithmetic
    trick as anomaly_zscore). Two windows over the same user-key
    shuffle (running sum + totals), then the argmax per user is ONE
    lexicographic struct-min (−|cusum|, ts): map-side combinable, no
    rank window, earliest-timestamp tie-break. Magnitude rescales by
    n·10⁶ only at the end — one deterministic double.

    At 100 TB: one shuffle on the entity key, state per row is two
    longs; the per-user reduce carries one struct. Overflow bound:
    |n·run| < n²·max|v|·10⁶ — safe to ~4·10⁹ rows per user at |v|≤10³
    (a decimal(38,s) accumulator past that).
    """
    ev = load_table(spark, sf_dir, "events")
    v = grid("value", 6)
    wk = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wall = Window.partitionBy("user_id")
    x = ev.select(
        "user_id",
        "ts",
        F.row_number().over(wk).cast("long").alias("k"),
        F.sum(v).over(wk.rowsBetween(Window.unboundedPreceding, 0)).alias("run"),
        F.sum(v).over(wall).alias("tot"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    c = x.filter(F.col("k") < F.col("n")).select(
        "user_id",
        "ts",
        "n",
        (F.col("n") * F.col("run") - F.col("k") * F.col("tot")).alias("cusum"),
    )
    best = c.groupBy("user_id").agg(
        F.min(
            F.struct(
                (-F.abs(F.col("cusum"))).alias("neg"), F.col("ts").alias("ts")
            )
        ).alias("b"),
        F.max("n").alias("n"),
    )
    return best.select(
        "user_id",
        F.col("b.ts").alias("cp_ts"),
        (-F.col("b.neg")).alias("cusum_scaled"),
        (
            (-F.col("b.neg")).cast("double")
            / (F.col("n").cast("double") * 1_000_000.0)
        ).alias("magnitude"),
        F.col("n").alias("n_events"),
    )


#: trailing window width (days) for rolling active users.
_DAU_WINDOW = 7


@register(
    "win_rolling_dau",
    oracle=f"""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
),
fan AS (
  SELECT user_id, day + i::INT AS obs_day
  FROM ud, LATERAL unnest(generate_series(0, {_DAU_WINDOW - 1})) t(i)
),
days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS obs_day
         FROM events)
SELECT f.obs_day,
       CAST(COUNT(DISTINCT f.user_id) AS BIGINT) AS active_users
FROM fan f JOIN days d ON d.obs_day = f.obs_day
GROUP BY f.obs_day
""",
)
def win_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day — the classic DISTINCT-over-
    sliding-window problem that frame-based windows cannot express
    (COUNT(DISTINCT) OVER a RANGE frame is unsupported everywhere,
    and for good reason: naive per-frame dedup re-scans each window).

    The scalable rewrite: dedupe once to (user, day) pairs, fan each
    pair out to the ≤7 observation days it keeps the user active for
    (map-side explode — ×7 on the already-deduped pairs, not the raw
    events), and count distinct users per observation day. Raw events
    collapse FIRST, so the fan-out input is bounded by users × days
    regardless of event volume; observation days are restricted to
    days that actually occur (no trailing ghost days past the stream's
    end). At 100 TB: one dedup shuffle + one distinct-count shuffle —
    swap the exact distinct for HLL sketches per day
    (agg_approx_distinct) when user cardinality makes exact counting
    the bottleneck.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    ud = ev.select("user_id", day.alias("day")).distinct()
    fan = ud.select(
        "user_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_DAU_WINDOW - 1}),"
                f" i -> date_add(day, i))"
            )
        ).alias("obs_day"),
    )
    days = ev.select(day.alias("obs_day")).distinct()
    return (
        fan.join(F.broadcast(days), "obs_day")
        .groupBy("obs_day")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@register(
    "path_common_sequences",
    oracle=f"""
WITH {session_starts_sql("event_id, event_type")},
y AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM x
),
tri AS (
  SELECT event_type || '>' || LEAD(event_type, 1) OVER s
                   || '>' || LEAD(event_type, 2) OVER s AS path,
         LEAD(event_type, 2) OVER s AS third
  FROM y
  WINDOW s AS (PARTITION BY user_id, sid ORDER BY ts, event_id)
)
SELECT path, COUNT(*) AS n
FROM tri WHERE third IS NOT NULL
GROUP BY path
ORDER BY n DESC, path
LIMIT 20
""",
)
def path_common_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: the 20 most common 3-step event-type
    sequences WITHIN a session (30-minute gap sessionization) — the
    discovery complement to `funnel_steps`, which counts a path you
    already hypothesized; this surfaces the paths users actually take.

    One user-key shuffle carries all three windows (sessionize lag,
    running session id, and the two in-session leads share the
    partitioning; the lead frames just refine the ordering key with
    sid). Trigrams materialize map-side after the windows; the final
    count is a tiny path-keyed aggregate and the top-20 is
    TakeOrderedAndProject. Session boundaries cut paths exactly: the
    leads partition BY (user, sid), so a trigram never spans two
    sessions.
    """
    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_s = (
        F.when(
            F.lag("ts").over(wu).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wu))
                >= 1_800_000_000
            ),
            1,
        )
        .otherwise(0)
    )
    y = ev.select(
        "user_id", "ts", "event_id", "event_type", new_s.alias("new_s")
    ).withColumn(
        "sid",
        F.sum("new_s").over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ws = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    tri = y.select(
        F.concat_ws(
            ">",
            "event_type",
            F.lead("event_type", 1).over(ws),
            F.lead("event_type", 2).over(ws),
        ).alias("path"),
        F.lead("event_type", 2).over(ws).alias("third"),
    )
    return (
        tri.filter(F.col("third").isNotNull())
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(20)
    )


@register(
    "ts_max_drawdown",
    oracle=f"""
WITH cum AS (
  SELECT user_id, ts, event_id,
         CAST(SUM({grid_sql('value', 6)})
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS bal
  FROM events
),
peaks AS (
  SELECT user_id, bal,
         MAX(bal) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS peak
  FROM cum
)
SELECT user_id,
       CAST(MAX(peak - bal) AS DOUBLE) / 1000000.0 AS max_drawdown,
       CAST(MAX(peak) AS DOUBLE) / 1000000.0 AS max_peak
FROM peaks
GROUP BY user_id
""",
)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per series: the largest peak-to-trough fall of
    the running balance (cumulative value) — the canonical
    risk/monitoring statistic that is famously awkward in SQL because
    it nests a running max inside a running sum.

    Two stacked windows over ONE (user, ts, event_id) ordering — the
    cumulative balance and its running peak share the same sort and
    partitioning, so Spark plans a single exchange + sort and evaluates
    both frames in one pass; the final per-user aggregate rides the
    same key. Exactness: the balance accumulates in micro-units
    (longs), so running sums, running maxes and the drawdown difference
    are all integer arithmetic — both engines agree to the bit, with
    the one double division at the very end.
    """
    micro = grid("value", 6)
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bal = F.sum(micro).over(run).alias("bal")
    cum = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", bal
    )
    peaks = cum.select(
        "user_id", "bal", F.max("bal").over(run).alias("peak")
    )
    return peaks.groupBy("user_id").agg(
        (F.max(F.col("peak") - F.col("bal")).cast("double") / F.lit(1e6)).alias(
            "max_drawdown"
        ),
        (F.max("peak").cast("double") / F.lit(1e6)).alias("max_peak"),
    )


@register(
    "ts_state_transitions",
    oracle="""
WITH st AS (
  SELECT user_id, ts, event_id,
         CASE WHEN value > CAST(50.0 AS DOUBLE) THEN 1 ELSE 0 END AS hot
  FROM events
),
edges AS (
  SELECT user_id, ts, hot,
         LAG(hot) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_hot
  FROM st
)
SELECT user_id,
       CAST(SUM(CASE WHEN prev_hot IS NOT NULL AND hot <> prev_hot
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_transitions,
       CAST(SUM(CASE WHEN hot = 1 AND (prev_hot IS NULL OR prev_hot = 0)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_rising,
       MIN(CASE WHEN hot = 1 AND (prev_hot IS NULL OR prev_hot = 0)
                THEN ts END) AS first_alert_ts
FROM edges
GROUP BY user_id
HAVING SUM(CASE WHEN prev_hot IS NOT NULL AND hot <> prev_hot
               THEN 1 ELSE 0 END) > 0
""",
)
def ts_state_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert edge detection with flap statistics: threshold each series
    into a boolean state, emit only the TRANSITIONS (lag-compare per
    key) — the debounce every alerting pipeline needs, because paging
    on level rather than edge re-fires the same incident every
    evaluation tick. Reports per series the transition count (flap
    indicator), rising-edge count, and first alert time.

    One lag window and one aggregate on the same key partitioning —
    a single shuffle; the threshold state is an integer so every
    comparison and conditional count is engine-exact. At 100 TB the
    same two-stage shape runs per device/monitor key; a high
    n_transitions is itself the signal to hysteresis the threshold.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    st = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("value") > 50.0, 1).otherwise(0).alias("hot"),
    ).withColumn("prev_hot", F.lag("hot").over(w))
    is_edge = F.col("prev_hot").isNotNull() & (
        F.col("hot") != F.col("prev_hot")
    )
    rising = (F.col("hot") == 1) & (
        F.col("prev_hot").isNull() | (F.col("prev_hot") == 0)
    )
    return (
        st.groupBy("user_id")
        .agg(
            F.sum(is_edge.cast("long")).alias("n_transitions"),
            F.sum(rising.cast("long")).alias("n_rising"),
            F.min(F.when(rising, F.col("ts"))).alias("first_alert_ts"),
        )
        .filter(F.col("n_transitions") > 0)
    )


@register(
    "ts_running_vwap",
    oracle=f"""
WITH t AS (
  SELECT user_id, ts, event_id,
         CAST(date_trunc('day', ts) AS DATE) AS day,
         {grid_sql('value', 6)} AS pv_micro
  FROM events WHERE event_type = 'purchase'
),
r AS (
  SELECT user_id, ts, day,
         CAST(SUM(pv_micro) OVER w AS BIGINT) AS run_pv,
         CAST(COUNT(*) OVER w AS BIGINT) AS run_n
  FROM t
  WINDOW w AS (PARTITION BY user_id, day ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)
)
SELECT user_id, ts, day,
       CAST(run_pv AS DOUBLE) / 1000000.0 / run_n AS anchored_avg,
       run_n
FROM r
""",
)
def ts_running_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchored running average (the VWAP shape): for each purchase,
    the running mean of purchase value since the day's open, per user —
    the intraday benchmark every execution-quality and spend-pacing
    system recomputes continuously. Anchoring = the window PARTITIONS
    by (user, day), so the running state resets at each session open
    with no conditional logic.

    One exchange+sort on (user, day) carries both running aggregates;
    numerators accumulate as exact micro-unit longs and each row's
    average is one division of exact operands — the running sequence is
    engine-identical at every prefix, not just the final row.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    t = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.col("ts").cast("date").alias("day"),
        grid("value", 6).alias("pv_micro"),
    )
    w = (
        Window.partitionBy("user_id", "day")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t.select(
        "user_id",
        "ts",
        "day",
        (
            F.sum("pv_micro").over(w).cast("double")
            / F.lit(1e6)
            / F.count(F.lit(1)).over(w)
        ).alias("anchored_avg"),
        F.count(F.lit(1)).over(w).alias("run_n"),
    )


@register(
    "event_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
pairs AS (
  SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY 1, 2
),
tot AS (
  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM pairs GROUP BY 1
)
SELECT p.from_type, p.to_type, p.n,
       CAST(p.n AS DOUBLE) / t.n_from AS p_transition
FROM pairs p JOIN tot t ON p.from_type = t.from_type
""",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user behavior:
    P(next event type | current type), estimated from per-user
    event sequences — the model behind next-action prediction,
    anomaly scoring on behavioral logs (improbable transitions), and
    the `path_common_sequences` paths' generative summary.

    One lead window on the user key builds the transition stream; the
    pair counts and the per-source totals are two tiny type-keyed
    aggregates (the matrix is |types|² regardless of data size), and
    each probability is one exact count ratio. At 100 TB the ONLY
    data-sized cost is the user-key window shuffle every sequence op
    shares.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    pairs = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = pairs.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return (
        pairs.join(tot, "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            (F.col("n").cast("double") / F.col("n_from")).alias(
                "p_transition"
            ),
        )
    )


@register(
    "ts_order_gaps",
    oracle="""
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         CAST(lag(CAST(o_orderdate AS DATE)) OVER (
           PARTITION BY o_custkey
           ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS DATE) AS prev_d
  FROM orders
),
g AS (
  SELECT o_custkey, d - prev_d AS gap_days
  FROM o WHERE prev_d IS NOT NULL
)
SELECT o_custkey,
       CAST(COUNT(*) + 1 AS BIGINT) AS n_orders,
       CAST(MAX(gap_days) AS BIGINT) AS max_gap_days,
       CAST(SUM(CASE WHEN gap_days > 180 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_long_gaps
FROM g GROUP BY o_custkey
HAVING COUNT(*) + 1 >= 8
""",
)
def ts_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap detection per entity: consecutive-event deltas
    via one `lag` window keyed on the entity, then per-entity gap
    statistics (max gap, count of dormancy gaps > 180 days) for
    entities with enough history. The churn-risk primitive — the
    per-gap dual of `win_streaks`' consecutive-activity islands and
    the per-entity refinement of `ts_interarrival_hist`'s global
    histogram.

    Date ties within a customer are broken by order key, so the lag
    sequence — and therefore every gap — is a total order in both
    engines. One shuffle on the entity key shared by the window and
    the aggregate (the window's partition IS the groupBy key, so AQE
    plans a single exchange); day arithmetic is exact integer
    date-diff. HAVING prunes to established customers only.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("d"), F.col("o_orderkey")
    )
    t = o.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        "o_orderkey",
    ).select(
        "o_custkey", "d", F.lag("d").over(w).alias("prev_d")
    )
    g = t.where(F.col("prev_d").isNotNull()).select(
        "o_custkey", F.datediff("d", "prev_d").alias("gap_days")
    )
    return (
        g.groupBy("o_custkey")
        .agg(
            (F.count(F.lit(1)) + 1).alias("n_orders"),
            F.max("gap_days").cast("long").alias("max_gap_days"),
            F.sum(
                F.when(F.col("gap_days") > 180, 1).otherwise(0)
            ).alias("n_long_gaps"),
        )
        .where(F.col("n_orders") >= 8)
    )


@register(
    "ts_theil_sen",
    oracle=f"""
WITH daily AS (
  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
         CAST(day(CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
         CAST(SUM({grid_sql('o_totalprice', 2)})
              AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
),
slopes AS (
  SELECT a.month,
         CAST(b.cents - a.cents AS DOUBLE) / (b.d - a.d) AS slope
  FROM daily a JOIN daily b ON a.month = b.month AND b.d > a.d
),
g AS (
  SELECT month, slope, COUNT(*) AS c FROM slopes GROUP BY month, slope
),
cum AS (
  SELECT month, slope,
         CAST(SUM(c) OVER (PARTITION BY month ORDER BY slope)
              AS BIGINT) AS cum,
         CAST(SUM(c) OVER (PARTITION BY month) AS BIGINT) AS n_pairs
  FROM g
)
SELECT month, MIN(n_pairs) AS n_pairs, MIN(slope) / 100.0 AS ts_slope
FROM cum WHERE 2 * cum >= n_pairs GROUP BY month
""",
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per month: the slope estimate is the
    MEDIAN of all pairwise day-to-day slopes of the daily-revenue
    series — with a 29% breakdown point it shrugs off the spike days
    that drag `lightcurve_trend`'s least-squares slope (the OLS rung
    of the same ladder; `anomaly_mad` is the location-scale analogue).

    The quadratic pair enumeration is SAFE by construction: it runs on
    the per-month DAILY aggregate (≤ 31 rows per group → ≤ 465 pairs),
    never on raw orders — the collapse-then-self-join shape that makes
    robust estimators feasible at 100 TB (the series length is bounded
    by the calendar, not the data). Slopes are exact-cent differences
    over integer day gaps (identical doubles both engines); the median
    is the DISCRETE lower median via the `agg_weighted_median`
    cumulative-count selection — the chosen slope is one of those
    exact doubles, so no interpolation or rounding can straddle a
    half-ulp boundary (the continuous `percentile` parity broke here
    at 4dp: measured one grid-boundary mismatch at sf0.01).
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias(
            "month"
        ),
        F.dayofmonth(F.col("o_orderdate").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(
        F.sum(grid("o_totalprice", 2)).alias("cents")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    slopes = a.join(
        b,
        (F.col("a.month") == F.col("b.month"))
        & (F.col("b.d") > F.col("a.d")),
    ).select(
        F.col("a.month").alias("month"),
        (
            (F.col("b.cents") - F.col("a.cents")).cast("double")
            / (F.col("b.d") - F.col("a.d"))
        ).alias("slope"),
    )
    g = slopes.groupBy("month", "slope").agg(F.count(F.lit(1)).alias("c"))
    wc = Window.partitionBy("month").orderBy("slope").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("month")
    cum = g.select(
        "month",
        "slope",
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(wt).alias("n_pairs"),
    )
    return (
        cum.where(F.lit(2) * F.col("cum") >= F.col("n_pairs"))
        .groupBy("month")
        .agg(
            F.min("n_pairs").alias("n_pairs"),
            (F.min("slope") / F.lit(100.0)).alias("ts_slope"),
        )
    )


#: max session duration for the capped sessionizer (2 h in µs).
_SESSION_CAP_US = 7_200_000_000


@register(
    "sessionize_capped",
    oracle=f"""
WITH {session_starts_sql("event_id")},
y AS (
  SELECT user_id, ts,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS gid
  FROM x
),
z AS (
  SELECT user_id, ts, gid,
         (epoch_us(ts)
          - MIN(epoch_us(ts)) OVER (PARTITION BY user_id, gid))
         // {_SESSION_CAP_US} AS sub
  FROM y
)
SELECT user_id, gid, CAST(sub AS BIGINT) AS sub,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM z GROUP BY user_id, gid, sub
""",
)
def sessionize_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with BOTH a 30-min inactivity gap and a 2-hour
    maximum duration — the production variant of `sessionize_batch`
    (analytics stacks cap sessions so a forgotten-open tab can't form
    a week-long session). Gap sessions form exactly as in the batch
    sessionizer; each is then sub-split by flooring the offset from
    its own first event onto the cap grid — the standard one-pass
    bucketing semantics (a split can land mid-activity; the exact
    re-seeding variant is inherently sequential and belongs to
    `stream_stateful`'s per-key ordered iterator at scale).

    The whole pipeline shares ONE user-key shuffle: lag window, running
    sum, per-(user, session) min, and the final rollup all partition by
    user. Offsets are exact integer µs arithmetic end to end.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_s",
        F.when(gap_us.isNull() | (gap_us >= 1_800_000_000), 1).otherwise(0),
    )
    g = flagged.withColumn(
        "gid",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ws = Window.partitionBy("user_id", "gid")
    z = g.withColumn(
        "off_us",
        F.unix_micros("ts") - F.min(F.unix_micros("ts")).over(ws),
    ).withColumn("sub", F.expr(f"off_us div {_SESSION_CAP_US}"))
    return z.groupBy("user_id", "gid", "sub").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "win_ratio_to_report",
    oracle=f"""
WITH m AS (
  SELECT strftime(CAST(o_orderdate AS DATE), '%Y') AS year,
         strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
         CAST(SUM({grid_sql('o_totalprice', 2)})
              AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
)
SELECT year, month, CAST(cents AS DOUBLE) / 100.0 AS revenue,
       CAST(cents AS DOUBLE)
         / CAST(SUM(cents) OVER (PARTITION BY year) AS BIGINT)
         AS share_of_year
FROM m
""",
)
def win_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total within a reporting group (Oracle's
    RATIO_TO_REPORT, BigQuery's `x / SUM(x) OVER (...)`): monthly
    revenue as a fraction of its year. The defining OLAP composition —
    aggregate to the report grain FIRST (the only data-sized pass),
    then a window over the tiny aggregate computes the denominator;
    the ratio divides one exact cent-long by another, so both engines
    emit the identical double.

    At 100 TB the window input is |months|, not |orders| — the
    collapse-then-window shape every share/percent-of-total metric
    should take (windowing raw facts would shuffle the world for a
    12-row denominator).
    """
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy").alias(
            "year"
        ),
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias(
            "month"
        ),
    ).agg(
        F.sum(grid("o_totalprice", 2)).alias("cents")
    )
    wy = Window.partitionBy("year")
    return m.select(
        "year",
        "month",
        (F.col("cents").cast("double") / F.lit(100.0)).alias("revenue"),
        (
            F.col("cents").cast("double") / F.sum("cents").over(wy)
        ).alias("share_of_year"),
    )


#: autocorrelation lags for the daily-revenue ACF.
_ACF_LAGS = 7


@register(
    "ts_autocorrelation",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM({grid_sql('o_totalprice', 0)})
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
lagk AS (
  SELECT l.lag, a.cents AS x, b.cents AS y
  FROM generate_series(1, {_ACF_LAGS}) AS l(lag)
  JOIN daily a ON TRUE
  JOIN daily b ON b.day = a.day + CAST(l.lag AS INT)
),
s AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM lagk GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, n AS n_pairs,
       (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
       / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
          * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
         AS acf
FROM s
""",
)
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily-revenue series at lags
    1..7 — the seasonality diagnostic read before fitting any forecast
    (a weekly cycle shows as a lag-7 peak; `ts_seasonal_index`
    quantifies the cycle this detects, `ts_cross_corr` is the
    two-series sibling). Daily revenue collapses to exact whole-unit longs (a cent
    grid's squared sums would pass 2^63). Implemented as the lagged-pairs Pearson
    estimator: the daily aggregate self-joins at each lag offset
    (exact DATE arithmetic), and each lag's correlation comes from the
    `stat_corr_matrix` exact-long algebra.

    The self-join runs on the |days|-row collapsed series ×7 lags —
    calendar-bounded like `ts_theil_sen`, never data-sized. The lag
    dimension is a tiny literal range cross-joined in (generator
    fan-out in Spark), so ONE join computes all lags: the join key is
    (day + lag), a plain equi-join after the fan-out.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(grid("o_totalprice", 0)).alias("cents")
    )
    a = daily.select(
        "day",
        F.col("cents").alias("x"),
        F.explode(
            F.sequence(F.lit(1), F.lit(_ACF_LAGS))
        ).alias("lag"),
    ).withColumn("target_day", F.date_add("day", F.col("lag")))
    b = daily.select(
        F.col("day").alias("target_day"), F.col("cents").alias("y")
    )
    lagk = a.join(b, "target_day")
    # the three product sums pass int64 once daily volume nears 10⁹
    # (x² ≈ 10¹⁸ × |days| — caught by the tools/scaleup.py 10× stress
    # run): square and accumulate in DECIMAL(38,0); the Pearson formula
    # casts to double regardless.
    x38 = F.col("x").cast("decimal(38,0)")
    y38 = F.col("y").cast("decimal(38,0)")
    s = lagk.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(x38 * F.col("x")).alias("sxx"),
        F.sum(y38 * F.col("y")).alias("syy"),
        F.sum(x38 * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    ) * F.sqrt(n * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    return s.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("n").alias("n_pairs"),
        (num / den).alias("acf"),
    )


@register(
    "ts_bollinger_bands",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM({grid_sql('o_totalprice', 0)}) AS BIGINT)
           AS units
  FROM orders GROUP BY 1
),
w AS (
  SELECT day, units,
         CAST(SUM(units) OVER tw AS BIGINT) AS s1,
         CAST(SUM(units * units) OVER tw AS BIGINT) AS s2,
         CAST(COUNT(*) OVER tw AS BIGINT) AS n
  FROM daily
  WINDOW tw AS (ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT day, units, n,
       ROUND(CAST(s1 AS DOUBLE) / n, 4) AS sma,
       ROUND(CAST(s1 AS DOUBLE) / n
             - 2.0 * sqrt((CAST(s2 AS DOUBLE)
                           - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1.0)),
             4) AS lower_band,
       ROUND(CAST(s1 AS DOUBLE) / n
             + 2.0 * sqrt((CAST(s2 AS DOUBLE)
                           - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1.0)),
             4) AS upper_band,
       CASE WHEN units > CAST(s1 AS DOUBLE) / n
                 + 2.0 * sqrt((CAST(s2 AS DOUBLE)
                               - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1.0))
            THEN 1
            WHEN units < CAST(s1 AS DOUBLE) / n
                 - 2.0 * sqrt((CAST(s2 AS DOUBLE)
                               - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1.0))
            THEN -1 ELSE 0 END AS band_break
FROM w WHERE n = 20
""",
)
def ts_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over the daily-revenue series: 20-day simple
    moving average ± 2 rolling standard deviations, with the ±1/0
    band-break signal — the volatility envelope every monitoring and
    trading stack draws (`ts_ewma` is the recency-weighted sibling;
    `dq_volume_anomaly` applies the same rolling-moment algebra to
    row counts with a leave-one-out window).

    The rolling (n, Σx, Σx²) triple rides ONE window over the
    collapsed daily aggregate; mean/σ are closed-form doubles over
    exact longs, reported 4dp-rounded while the break signal compares
    the UNROUNDED shared expressions (no boundary flip). Warm-up rows
    (n < 20) are excluded so every band is a full-window statistic.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(grid("o_totalprice", 0)).alias("units")
    )
    tw = Window.orderBy("day").rowsBetween(-19, 0)
    # units² overflows int64 once daily volume passes ~3·10⁹ (caught by
    # the tools/scaleup.py 100× stress run): square and sum in
    # DECIMAL(38,0) — exact, and the σ formula casts to double anyway.
    u38 = F.col("units").cast("decimal(38,0)")
    w = daily.select(
        "day",
        "units",
        F.sum("units").over(tw).alias("s1"),
        F.sum(u38 * F.col("units")).over(tw).alias("s2"),
        F.count(F.lit(1)).over(tw).alias("n"),
    )
    sma = F.col("s1").cast("double") / F.col("n")
    sd = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("n")
        )
        / (F.col("n") - F.lit(1.0))
    )
    upper = sma + F.lit(2.0) * sd
    lower = sma - F.lit(2.0) * sd
    return w.where(F.col("n") == 20).select(
        "day",
        "units",
        "n",
        F.round(sma, 4).alias("sma"),
        F.round(lower, 4).alias("lower_band"),
        F.round(upper, 4).alias("upper_band"),
        F.when(F.col("units") > upper, 1)
        .when(F.col("units") < lower, -1)
        .otherwise(0)
        .alias("band_break"),
    )


@register(
    "ts_hampel_filter",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS units
  FROM events GROUP BY 1
),
w AS (
  SELECT day, units,
         list(units) OVER (ORDER BY day
           ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS win
  FROM daily
),
m AS (
  SELECT day, units, win, list_sort(win)[6] AS med
  FROM w WHERE len(win) = 11
),
d AS (
  SELECT day, units, med,
         list_sort(list_transform(win, v -> abs(v - med)))[6] AS mad
  FROM m
)
SELECT day, units, CAST(med AS BIGINT) AS med, CAST(mad AS BIGINT) AS mad,
       CASE WHEN abs(units - med) > 3.0 * 1.4826 * mad
            THEN 1 ELSE 0 END AS is_outlier
FROM d WHERE mad > 0
""",
)
def ts_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel outlier filter on the daily event-count series: each
    interior day is scored against the MEDIAN and MAD of its own
    centered 11-day window — the rolling-robust despiker (where
    `ts_bollinger_bands`' mean/σ envelope is dragged by the very
    spikes it should flag, the window median/MAD pair has a 50%
    breakdown inside every window; `anomaly_mad` is the per-entity
    global form).

    EXACT by construction: the window is materialized as an 11-long
    integer list, the median of 11 values is the 6th sorted ELEMENT
    (odd count — no interpolation anywhere), the deviations are
    integer absolute differences, and their median again an element.
    Engines independently sort an 11-list per row; only the final
    3·1.4826·MAD comparison is float, on identical exact operands.
    Scale: the window list rides the |days|-row daily collapse, 11
    longs per row — a bounded-frame cost, never data-sized.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("units")
    )
    w = Window.orderBy("day").rowsBetween(-5, 5)
    lst = daily.select(
        "day", "units", F.collect_list("units").over(w).alias("win")
    ).where(F.size("win") == 11)
    m = lst.withColumn(
        "med", F.sort_array("win").getItem(5)
    )
    d = m.withColumn(
        "mad",
        F.sort_array(
            F.transform("win", lambda v: F.abs(v - F.col("med")))
        ).getItem(5),
    )
    return d.where(F.col("mad") > 0).select(
        "day",
        "units",
        F.col("med").cast("long").alias("med"),
        F.col("mad").cast("long").alias("mad"),
        F.when(
            F.abs(F.col("units") - F.col("med"))
            > F.lit(3.0) * F.lit(1.4826) * F.col("mad"),
            1,
        )
        .otherwise(0)
        .alias("is_outlier"),
    )


@register(
    "ts_decompose_residuals",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM({grid_sql('o_totalprice', 0)}) AS BIGINT)
           AS units
  FROM orders GROUP BY 1
),
trend AS (
  SELECT day, units,
         CAST(SUM(units) OVER (ORDER BY day
           ROWS BETWEEN 14 PRECEDING AND 14 FOLLOWING) AS BIGINT) AS ts,
         CAST(COUNT(*) OVER (ORDER BY day
           ROWS BETWEEN 14 PRECEDING AND 14 FOLLOWING) AS BIGINT) AS tn
  FROM daily
),
detr AS (
  SELECT day, units, CAST(ts AS DOUBLE) / tn AS trend,
         dayofweek(day) AS dow,
         units - CAST(ts AS DOUBLE) / tn AS resid1
  FROM trend WHERE tn = 29
),
seas AS (
  SELECT dow,
         CAST(SUM({grid_sql('resid1', 2)}) AS BIGINT)
           AS sg,
         CAST(COUNT(*) AS BIGINT) AS sn
  FROM detr GROUP BY dow
),
resid AS (
  SELECT d.day, d.units, d.trend,
         CAST(s.sg AS DOUBLE) / 100.0 / s.sn AS seasonal,
         d.resid1 - CAST(s.sg AS DOUBLE) / 100.0 / s.sn AS resid
  FROM detr d JOIN seas s USING (dow)
),
sigma AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM({grid_sql('resid', 2)}) AS BIGINT)
           AS r1,
         CAST(SUM({grid_sql('resid * resid', 2)})
              AS BIGINT) AS r2
  FROM resid
)
SELECT day, units, ROUND(trend, 4) AS trend, ROUND(seasonal, 4)
         AS seasonal, ROUND(resid, 4) AS resid
FROM resid CROSS JOIN sigma
WHERE abs(resid - CAST(r1 AS DOUBLE) / 100.0 / n)
      > 3.0 * sqrt((CAST(r2 AS DOUBLE) / 100.0
                    - (CAST(r1 AS DOUBLE) / 100.0)
                      * (CAST(r1 AS DOUBLE) / 100.0) / n) / (n - 1.0))
""",
)
def ts_decompose_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical decomposition with residual outliers — the composed
    time-series pipeline: TREND = centered 29-day moving average,
    SEASONAL = mean detrended value per weekday, RESIDUAL = what's
    left, and the emitted rows are the days whose residual exceeds 3
    residual-σ — anomalies that survive explanation by trend AND
    weekly cycle (the composition `dq_volume_anomaly` skips and a raw
    z-score can't do: a holiday spike is seasonal, not anomalous).

    Every stage runs on the |days|-row daily collapse: one centered
    window, one weekday aggregate (broadcast back), one global moment
    pair for the residual σ. Per-stage gridding (detrended values and
    residual moments floored at 1e-2) keeps every cross-engine sum
    exact — the chain stays hash-checkable through THREE stacked
    float-producing stages; reported columns are 4dp-rounded while
    the outlier cut compares unrounded shared expressions.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(grid("o_totalprice", 0)).alias("units")
    )
    tw = Window.orderBy("day").rowsBetween(-14, 14)
    trend = daily.select(
        "day",
        "units",
        F.sum("units").over(tw).alias("ts"),
        F.count(F.lit(1)).over(tw).alias("tn"),
    )
    detr = trend.where(F.col("tn") == 29).select(
        "day",
        "units",
        (F.col("ts").cast("double") / F.col("tn")).alias("trend"),
        F.dayofweek("day").alias("dow"),
        (
            F.col("units") - F.col("ts").cast("double") / F.col("tn")
        ).alias("resid1"),
    )
    seas = detr.groupBy("dow").agg(
        F.sum(grid("resid1", 2)).alias("sg"),
        F.count(F.lit(1)).alias("sn"),
    )
    seasonal = F.col("sg").cast("double") / F.lit(100.0) / F.col("sn")
    resid = detr.join(F.broadcast(seas), "dow").select(
        "day",
        "units",
        "trend",
        seasonal.alias("seasonal"),
        (F.col("resid1") - seasonal).alias("resid"),
    )
    # the squared-residual moment exceeds int64 once daily volumes pass
    # ~10⁸ (resid² ≈ 10¹⁶ × |days| — caught by the tools/scaleup.py 10×
    # stress run): accumulate both moments in DECIMAL(38,0); per-row
    # grid cells stay long-safe far past that.
    d38 = "decimal(38,0)"
    sigma = resid.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(grid("resid", 2).cast(d38)).alias("r1"),
        F.sum(grid(F.col("resid") * F.col("resid"), 2).cast(d38)).alias("r2"),
    )
    mean_r = F.col("r1").cast("double") / F.lit(100.0) / F.col("n")
    sd_r = F.sqrt(
        (
            F.col("r2").cast("double") / F.lit(100.0)
            - (F.col("r1").cast("double") / F.lit(100.0))
            * (F.col("r1").cast("double") / F.lit(100.0))
            / F.col("n")
        )
        / (F.col("n") - F.lit(1.0))
    )
    return (
        resid.crossJoin(F.broadcast(sigma))
        .where(F.abs(F.col("resid") - mean_r) > F.lit(3.0) * sd_r)
        .select(
            "day",
            "units",
            F.round("trend", 4).alias("trend"),
            F.round("seasonal", 4).alias("seasonal"),
            F.round("resid", 4).alias("resid"),
        )
    )


@register(
    "ts_forecast_eval_naive",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM({grid_sql('o_totalprice', 0)}) AS BIGINT)
           AS units
  FROM orders GROUP BY 1
),
j AS (
  SELECT a.day, a.units AS actual, f.units AS forecast
  FROM daily a JOIN daily f ON f.day = a.day - 7
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(abs(actual - forecast)) AS BIGINT) AS sae,
         CAST(SUM(actual - forecast) AS BIGINT) AS sbias,
         CAST(SUM(actual) AS BIGINT) AS sa
  FROM j
)
SELECT n AS n_days,
       CAST(sae AS DOUBLE) / n AS mae,
       CAST(sae AS DOUBLE) / sa AS wape,
       CAST(sbias AS DOUBLE) / sa AS bias
FROM s
""",
)
def ts_forecast_eval_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy evaluation of the seasonal-naive baseline
    (forecast(d) = actual(d-7)) — the harness every forecasting
    pipeline needs BEFORE any model ships, because a model that can't
    beat last-week's value on MAE/WAPE is worse than free. WAPE
    (Σ|err|/Σactual) is the scale-free industry default; the signed
    bias ratio catches systematic over/under-forecasting that absolute
    metrics hide.

    The forecast column is a self-equi-join of the daily collapse at
    the 7-day offset (exact DATE arithmetic — the `ts_autocorrelation`
    shape), all three metrics are ratios of exact long sums, and the
    whole evaluation touches |days| rows after one data-sized
    aggregation. Swap the join's right side for a model's prediction
    table and the same plan scores any forecaster.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(grid("o_totalprice", 0)).alias("units")
    )
    a = daily.alias("a")
    f = daily.select(
        F.date_add("day", 7).alias("day"), F.col("units").alias("forecast")
    ).alias("f")
    j = a.join(f, "day").select(
        F.col("units").alias("actual"), "forecast"
    )
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.abs(F.col("actual") - F.col("forecast"))).alias("sae"),
        F.sum(F.col("actual") - F.col("forecast")).alias("sbias"),
        F.sum("actual").alias("sa"),
    )
    return s.select(
        F.col("n").alias("n_days"),
        (F.col("sae").cast("double") / F.col("n")).alias("mae"),
        (F.col("sae").cast("double") / F.col("sa")).alias("wape"),
        (F.col("sbias").cast("double") / F.col("sa")).alias("bias"),
    )


@register(
    "win_decile_spend",
    oracle="""
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey
),
tiled AS (
  SELECT o_custkey, cents,
         NTILE(10) OVER (ORDER BY cents DESC, o_custkey) AS decile
  FROM spend
)
SELECT decile,
       CAST(COUNT(*) AS BIGINT) AS n_cust,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST(MIN(cents) AS BIGINT) AS floor_cents
FROM tiled GROUP BY decile
""",
)
def win_decile_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend deciles via ``ntile(10)`` — the equal-population
    banding every marketing/LTV report starts from (decile 1 = top
    spenders; `win_pareto_abc` is the cumulative-share sibling, `rfm`
    the multi-dimension one). ntile is only deterministic under a
    TOTAL order, so the window orders by (cents DESC, custkey) — both
    engines then agree on the exact bucket split including the
    remainder rows (first deciles get one extra when n % 10 ≠ 0).

    The window runs over the COLLAPSED per-customer aggregate
    (|customers| rows, cents-exact longs), not raw orders — at 100 TB
    that's still a global-order window over a big relation, so the
    scale path replaces ntile with rank()·10/n arithmetic on a
    range-partitioned sort (same buckets, no single-task window);
    fixture scale keeps the readable form.
    """
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    w = Window.orderBy(F.col("cents").desc(), "o_custkey")
    return (
        spend.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum("cents").alias("total_cents"),
            F.min("cents").alias("floor_cents"),
        )
    )


@register(
    "ts_cusum_alarm",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
p AS (
  SELECT CAST(SUM(x) AS BIGINT) // COUNT(*) AS mu,
         CAST(SUM(x) AS BIGINT) // (2 * COUNT(*)) AS k
  FROM daily
),
dev AS (
  SELECT day, x, x - p.mu - p.k AS d FROM daily CROSS JOIN p
),
cum AS (
  SELECT day, x,
         CAST(SUM(d) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS c
  FROM dev
),
s AS (
  SELECT day, x,
         c - LEAST(CAST(MIN(c) OVER (ORDER BY day ROWS UNBOUNDED
                                     PRECEDING) AS BIGINT), 0) AS cusum
  FROM cum
)
SELECT s.day, s.x, s.cusum,
       CASE WHEN s.cusum > 3 * p.mu THEN 1 ELSE 0 END AS alarm
FROM s CROSS JOIN p
""",
)
def ts_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift alarm on the daily event-count series —
    the sequential change detector (Page's test) monitoring pipelines
    run where a z-score on single days misses slow drifts: the
    statistic S_t = max(0, S_{t−1} + (x_t − μ − k)) accumulates small
    persistent excesses until they cross the decision interval.

    The recursion never executes as a recursion: the classic identity
    S_t = C_t − min(0, min_{i≤t} C_i) (C = plain cumulative sum of
    deviations) turns it into two stacked running windows over ONE
    ordering — the `ts_max_drawdown` plan shape exactly. All operands
    are exact longs (integer floor mean μ and slack k = μ/2 from the
    same counts; threshold 3μ), so both engines agree to the bit. The
    windows are global-order but run over the COLLAPSED per-day series
    (|days| rows — the `sample_systematic` fixture-scale note); per
    (metric, entity) monitored series the same windows partition by
    the series key and scale out.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    p = daily.agg(
        (F.sum("x") / F.count(F.lit(1))).cast("long").alias("mu"),
        (F.sum("x") / (2 * F.count(F.lit(1)))).cast("long").alias("k"),
    )
    dev = daily.crossJoin(F.broadcast(p)).select(
        "day", "x", "mu", (F.col("x") - F.col("mu") - F.col("k")).alias("d")
    )
    run = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = dev.select("day", "x", "mu", F.sum("d").over(run).alias("c"))
    s = cum.select(
        "day",
        "x",
        "mu",
        (F.col("c") - F.least(F.min("c").over(run), F.lit(0).cast("long"))).alias(
            "cusum"
        ),
    )
    return s.select(
        "day",
        "x",
        "cusum",
        F.when(F.col("cusum") > 3 * F.col("mu"), 1).otherwise(0).alias("alarm"),
    )


#: ts_granger_lite — the float tail is built ONCE as SQL text and used
#: verbatim by BOTH engines (Spark F.expr and the DuckDB oracle), so
#: the IEEE operation tree is identical by construction.
_G_CYY = "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)/CAST(n2 AS DOUBLE))"
_G_CYL = "(CAST(syl AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sl AS DOUBLE)/CAST(n2 AS DOUBLE))"
_G_CYX = "(CAST(syx AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sx AS DOUBLE)/CAST(n2 AS DOUBLE))"
_G_CLL = "(CAST(sll AS DOUBLE) - CAST(sl AS DOUBLE)*CAST(sl AS DOUBLE)/CAST(n2 AS DOUBLE))"
_G_CXX = "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)/CAST(n2 AS DOUBLE))"
_G_CLX = "(CAST(slx AS DOUBLE) - CAST(sl AS DOUBLE)*CAST(sx AS DOUBLE)/CAST(n2 AS DOUBLE))"
_G_RSS_A = f"({_G_CYY} - {_G_CYL}*{_G_CYL}/{_G_CLL})"
_G_DET = f"({_G_CLL}*{_G_CXX} - {_G_CLX}*{_G_CLX})"
_G_B = f"(({_G_CYL}*{_G_CXX} - {_G_CYX}*{_G_CLX})/{_G_DET})"
_G_C = f"(({_G_CYX}*{_G_CLL} - {_G_CYL}*{_G_CLX})/{_G_DET})"
_G_RSS_B = f"({_G_CYY} - {_G_B}*{_G_CYL} - {_G_C}*{_G_CYX})"
_G_F = f"(({_G_RSS_A} - {_G_RSS_B}) * (CAST(n2 AS DOUBLE) - 3.0) / {_G_RSS_B})"


@register(
    "ts_granger_lite",
    oracle=f"""
WITH v AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
  FROM events WHERE event_type = 'view' GROUP BY 1
),
pu AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
s AS (
  SELECT COALESCE(v.d, pu.d) AS d, COALESCE(y, 0) AS y, COALESCE(x, 0) AS x
  FROM v FULL OUTER JOIN pu ON v.d = pu.d
),
lagd AS (
  SELECT y, LAG(y) OVER (ORDER BY d) AS l, LAG(x) OVER (ORDER BY d) AS xl
  FROM s
),
t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n2,
         CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(l) AS BIGINT) AS sl,
         CAST(SUM(xl) AS BIGINT) AS sx,
         CAST(SUM(y * l) AS BIGINT) AS syl,
         CAST(SUM(y * xl) AS BIGINT) AS syx,
         CAST(SUM(l * xl) AS BIGINT) AS slx,
         CAST(SUM(l * l) AS BIGINT) AS sll,
         CAST(SUM(xl * xl) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM lagd WHERE l IS NOT NULL
)
SELECT n2,
       ROUND({_G_RSS_A}, 6) AS rss_restricted,
       ROUND({_G_RSS_B}, 6) AS rss_full,
       ROUND({_G_F}, 6) AS f_stat,
       ROUND({_G_F}, 6) > 4.0 AS x_helps_predict_y
FROM t
""",
)
def ts_granger_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-causality screen (lag-1, lite): does yesterday's VIEW
    volume improve today's PURCHASE-volume forecast beyond purchases'
    own history? Restricted model y_t ~ y_{t-1} vs full model
    y_t ~ y_{t-1} + x_{t-1}, compared by the F statistic
    (ΔRSS)·(n−3)/RSS_full — the classic leading-indicator test a
    metrics warehouse runs across candidate driver/outcome pairs
    (lag-1 keeps the demo closed-form; more lags = more suffstat
    columns, same plan).

    Distributed work is two daily counting aggregates + one full outer
    day-align join; the lag window then runs over |days| rows — a
    collapsed input, the documented global-window exemption (at
    100 TB: thousands of rows, after the billions aggregated away).
    Both OLS solutions come CLOSED-FORM from one 10-column
    sufficient-statistics row (the ml_linreg_suffstats normal-equation
    move): every sum is an exact long (day-count products overflow
    only past ~3·10⁹ events/day), and the entire float tail — centered
    moments, 2×2 determinant solve, RSS, F — is ONE SQL expression
    string shared verbatim by the Spark plan and the DuckDB oracle
    (module constants above), so both engines execute the identical
    IEEE operation tree and the hash certifies the algebra, not a
    rounding accident. The F > 4.0 decision compares the ROUNDED
    statistic, engine-consistent by construction.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date").alias("d")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(day)
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(day)
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    s = (
        v.join(pu, "d", "full_outer")
        .select(
            "d",
            F.coalesce("y", F.lit(0)).alias("y"),
            F.coalesce("x", F.lit(0)).alias("x"),
        )
    )
    w = Window.orderBy("d")
    lagd = s.select(
        "y",
        F.lag("y").over(w).alias("l"),
        F.lag("x").over(w).alias("xl"),
    ).filter(F.col("l").isNotNull())
    t = lagd.agg(
        F.count(F.lit(1)).cast("long").alias("n2"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("l").cast("long").alias("sl"),
        F.sum("xl").cast("long").alias("sx"),
        F.sum(F.col("y") * F.col("l")).cast("long").alias("syl"),
        F.sum(F.col("y") * F.col("xl")).cast("long").alias("syx"),
        F.sum(F.col("l") * F.col("xl")).cast("long").alias("slx"),
        F.sum(F.col("l") * F.col("l")).cast("long").alias("sll"),
        F.sum(F.col("xl") * F.col("xl")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    return t.select(
        "n2",
        F.expr(f"ROUND({_G_RSS_A}, 6)").alias("rss_restricted"),
        F.expr(f"ROUND({_G_RSS_B}, 6)").alias("rss_full"),
        F.expr(f"ROUND({_G_F}, 6)").alias("f_stat"),
        F.expr(f"ROUND({_G_F}, 6) > 4.0").alias("x_helps_predict_y"),
    )


@register(
    "ts_peak_detection",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM({grid_sql('o_totalprice', 2)})
              AS BIGINT) AS r
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
),
tot AS (
  SELECT CAST(SUM(r) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS nd
  FROM daily
),
nbr AS (
  SELECT d, r,
         LAG(r) OVER (ORDER BY d) AS pv,
         LEAD(r) OVER (ORDER BY d) AS nx
  FROM daily
)
SELECT d AS peak_day,
       CAST(r AS DOUBLE) / 100.0 AS revenue,
       CAST(pv AS DOUBLE) / 100.0 AS prev_revenue,
       CAST(nx AS DOUBLE) / 100.0 AS next_revenue
FROM nbr CROSS JOIN tot
WHERE pv IS NOT NULL AND nx IS NOT NULL
  AND r > pv AND r > nx AND r * nd > t
ORDER BY peak_day
""",
)
def ts_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum detection on the daily revenue series: a day is a
    peak when it strictly exceeds both calendar neighbors AND the
    series mean. Revenue is summed in exact cents (longs), and the
    above-mean test is the cross-multiplied integer comparison
    ``r·n_days > total`` — no floating-point threshold, so the peak
    set is bit-identical across engines; doubles appear only in the
    display columns.

    The lag/lead window runs GLOBAL-ORDER but over the collapsed
    per-day table (|days| ≈ 2.4k rows after the one data-sized
    aggregation) — the `ts_granger_lite` assumption. At 100 TB the
    daily rollup is the only shuffle that sees data; for finer-grained
    series (per-second) the window would range-partition on coarse
    time buckets with one-row boundary exchange. The mean scalar rides
    a 1-row broadcast.
    """
    od = load_table(spark, sf_dir, "orders")
    daily = (
        od.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(grid("o_totalprice", 2)).alias("r")
        )
    )
    tot = daily.agg(
        F.sum("r").alias("t"), F.count(F.lit(1)).alias("nd")
    )
    w = Window.orderBy("d")
    nbr = daily.select(
        "d",
        "r",
        F.lag("r").over(w).alias("pv"),
        F.lead("r").over(w).alias("nx"),
    )
    return (
        nbr.crossJoin(F.broadcast(tot))
        .filter(
            F.col("pv").isNotNull()
            & F.col("nx").isNotNull()
            & (F.col("r") > F.col("pv"))
            & (F.col("r") > F.col("nx"))
            & (F.col("r") * F.col("nd") > F.col("t"))
        )
        .select(
            F.col("d").alias("peak_day"),
            (F.col("r").cast("double") / F.lit(100.0)).alias("revenue"),
            (F.col("pv").cast("double") / F.lit(100.0)).alias(
                "prev_revenue"
            ),
            (F.col("nx").cast("double") / F.lit(100.0)).alias(
                "next_revenue"
            ),
        )
        .orderBy("peak_day")
    )


#: ts_downsample_lttb: output bucket count.
_LTTB_B = 60


@register(
    "ts_downsample_lttb",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
         CAST(SUM({grid_sql('o_totalprice', 2)})
              AS BIGINT) AS y
  FROM orders GROUP BY 1, 2
),
numbered AS (
  SELECT d, x, y,
         ROW_NUMBER() OVER (ORDER BY d) AS rn,
         COUNT(*) OVER () AS n
  FROM daily
),
bucketed AS (
  SELECT d, x, y, ((rn - 1) * {_LTTB_B}) // n AS b FROM numbered
),
bstats AS (
  SELECT b, CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM bucketed GROUP BY b
),
nbr AS (
  SELECT b,
         LAG(sx) OVER (ORDER BY b) AS sxp,
         LAG(sy) OVER (ORDER BY b) AS syp,
         LAG(c)  OVER (ORDER BY b) AS cp,
         LEAD(sx) OVER (ORDER BY b) AS sxn,
         LEAD(sy) OVER (ORDER BY b) AS syn,
         LEAD(c)  OVER (ORDER BY b) AS cn
  FROM bstats
),
scored AS (
  SELECT t.b, t.d, t.x, t.y,
         CASE WHEN n.cp IS NULL OR n.cn IS NULL THEN CAST(0 AS HUGEINT)
              ELSE abs(
                CAST(CAST((t.x * n.cp - n.sxp) AS DECIMAL(18, 0))
                     * CAST((n.syn * n.cp - n.syp * n.cn)
                            AS DECIMAL(19, 0)) AS HUGEINT)
                - CAST(CAST((n.sxn * n.cp - n.sxp * n.cn)
                            AS DECIMAL(18, 0))
                       * CAST((t.y * n.cp - n.syp) AS DECIMAL(19, 0))
                       AS HUGEINT))
         END AS area
  FROM bucketed t JOIN nbr n ON t.b = n.b
),
picked AS (
  SELECT b, d, y,
         ROW_NUMBER() OVER (
           PARTITION BY b
           ORDER BY CASE WHEN b = 0 THEN x
                         WHEN b = {_LTTB_B - 1} THEN -x
                         ELSE 0 END,
                    area DESC, x
         ) AS pick
  FROM scored
)
SELECT CAST(b AS BIGINT) AS bucket, d AS day,
       CAST(y AS DOUBLE) / 100.0 AS revenue
FROM picked WHERE pick = 1
ORDER BY bucket
""",
)
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013)
    of the daily revenue series to 60 points — THE standard shape-
    preserving series reduction for plotting/monitoring. This is the
    parallel "LTTB-lite" variant: each middle bucket keeps the point
    with the largest triangle area against the NEIGHBOR-BUCKET MEANS
    (classic LTTB anchors on the previously-selected point, a
    sequential dependency that cannot fan out); the first/last buckets
    keep the series endpoints. The area argmax is EXACT: means never
    materialize — the cross product is cleared of denominators
    (×cp²·cn) and evaluated in wide integer lanes (Spark DECIMAL(38,0),
    DuckDB HUGEINT — intermediates may differ per engine, only the
    selected rows must match), so no float tie can pick different rows.

    Scale: the daily rollup is the one data-sized aggregate; every
    window after it runs on the collapsed ~2.4k-row series (the
    ts_peak_detection assumption — for per-second series,
    range-partition the bucketing on coarse time). Bucket stats are B
    rows; the join back to daily rows is a broadcast.
    """
    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(
        F.col("o_orderdate").cast("date").alias("d"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("x"),
    ).agg(
        F.sum(grid("o_totalprice", 2)).alias("y")
    )
    wn = Window.orderBy("d")
    numbered = daily.select(
        "d",
        "x",
        "y",
        F.row_number().over(wn).alias("rn"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    bucketed = numbered.select(
        "d", "x", "y", F.expr(f"((rn - 1) * {_LTTB_B}) div n").alias("b")
    )
    bstats = bucketed.groupBy("b").agg(
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.count(F.lit(1)).alias("c"),
    )
    wb = Window.orderBy("b")
    nbr = bstats.select(
        "b",
        F.lag("sx").over(wb).alias("sxp"),
        F.lag("sy").over(wb).alias("syp"),
        F.lag("c").over(wb).alias("cp"),
        F.lead("sx").over(wb).alias("sxn"),
        F.lead("sy").over(wb).alias("syn"),
        F.lead("c").over(wb).alias("cn"),
    )
    scored = bucketed.join(F.broadcast(nbr), "b").select(
        "b",
        "d",
        "x",
        "y",
        F.when(
            F.col("cp").isNull() | F.col("cn").isNull(),
            F.lit(0).cast("decimal(38,0)"),
        )
        .otherwise(
            F.abs(
                (F.col("x") * F.col("cp") - F.col("sxp")).cast("decimal(18,0)")
                * (F.col("syn") * F.col("cp") - F.col("syp") * F.col("cn")).cast(
                    "decimal(19,0)"
                )
                - (F.col("sxn") * F.col("cp") - F.col("sxp") * F.col("cn")).cast(
                    "decimal(18,0)"
                )
                * (F.col("y") * F.col("cp") - F.col("syp")).cast("decimal(19,0)")
            )
        )
        .alias("area"),
    )
    wp = Window.partitionBy("b").orderBy(
        F.when(F.col("b") == 0, F.col("x"))
        .when(F.col("b") == _LTTB_B - 1, -F.col("x"))
        .otherwise(F.lit(0)),
        F.col("area").desc(),
        "x",
    )
    return (
        scored.select(
            "b", "d", "y", F.row_number().over(wp).alias("pick")
        )
        .where(F.col("pick") == 1)
        .select(
            F.col("b").cast("long").alias("bucket"),
            F.col("d").alias("day"),
            (F.col("y").cast("double") / F.lit(100.0)).alias("revenue"),
        )
        .orderBy("bucket")
    )


def _holt_tdiv(x: str, d: int, div: str) -> str:
    """Truncating integer division matching BOTH engines for possibly
    negative numerators: Spark ``div`` truncates toward zero while
    DuckDB ``//`` floors, so the negative arm is made explicit — the
    level/trend state of Holt's recurrence CAN go negative."""
    return (
        f"(CASE WHEN ({x}) < 0 THEN -((-({x})) {div} {d}) "
        f"ELSE ({x}) {div} {d} END)"
    )


def _holt_step(y: str, lp: str, bp: str, div: str) -> tuple[str, str]:
    """One Holt step with EXACT rational smoothing (α=1/2, β=3/10):
    l' = (y + l + b) tdiv 2 ; b' = (3·(l'−l) + 7·b) tdiv 10. Returned
    as (l', b') expression strings in the given dialect."""
    lnew = _holt_tdiv(f"{y} + {lp} + {bp}", 2, div)
    bnew = _holt_tdiv(f"3 * ({lnew} - {lp}) + 7 * {bp}", 10, div)
    return lnew, bnew


def _holt_oracle() -> str:
    lnew, bnew = _holt_step("o.y", "r.l", "r.b", "//")
    return f"""
WITH RECURSIVE obs AS MATERIALIZED (
  SELECT event_type AS et, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
idx AS MATERIALIZED (
  SELECT et, y, ROW_NUMBER() OVER (PARTITION BY et ORDER BY day) AS t
  FROM obs),
mx AS MATERIALIZED (SELECT et, MAX(t) AS tmax FROM idx GROUP BY et),
rec AS (
  SELECT et, 1 AS t, y AS l, CAST(0 AS BIGINT) AS b FROM idx WHERE t = 1
  UNION ALL
  SELECT r.et, r.t + 1, {lnew}, {bnew}
  FROM rec r JOIN idx o ON o.et = r.et AND o.t = r.t + 1)
SELECT r.et AS event_type, CAST(m.tmax AS BIGINT) AS n_days,
       r.l AS level, r.b AS trend,
       CAST(r.l + 7 * r.b AS BIGINT) AS forecast_7
FROM rec r JOIN mx m ON m.et = r.et AND r.t = m.tmax
ORDER BY event_type
"""


@register("ts_holt_linear", oracle=_holt_oracle())
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing per series — the
    double-exponential forecast every capacity/traffic dashboard runs,
    and the canonical SEQUENTIAL recurrence (state t needs state t−1,
    so no window frame or associative aggregate expresses it).

    The distributed answer: sequential ALONG the series, parallel
    ACROSS series. Each series' daily observations collapse to one
    (day, y) array per group key, sorted in-row, and the recurrence
    runs as a single JVM ``aggregate`` fold over that array — series
    are independent, so 100 TB of events with millions of series keys
    is one map-side-combinable daily rollup, one shuffle on the series
    key, then embarrassingly parallel per-row folds (a series' whole
    daily history is bounded: 10 years ≈ 3653 longs). Smoothing runs
    in EXACT integers — α=1/2 and β=3/10 as truncating rational steps
    (sign-explicit division: the trend state goes negative) — so the
    fold is order-deterministic and DuckDB's recursive-CTE replay of
    the identical recurrence hash-matches the fixed point. Forecast =
    level + 7·trend (one week out).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            F.col("event_type"), F.col("ts").cast("date").alias("day")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    lnew, bnew = _holt_step("y", "acc.l", "acc.b", "div")
    fold = (
        "aggregate("
        "  slice(ys, 2, size(ys) - 1),"
        "  named_struct('l', ys[0], 'b', 0L),"
        f" (acc, y) -> named_struct('l', {lnew}, 'b', {bnew}),"
        "  acc -> acc)"
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(day, y))),"
                " s -> s.y)"
            ).alias("ys")
        )
        .select(
            "event_type",
            F.expr("size(ys)").cast("long").alias("n_days"),
            F.expr(f"({fold}).l").cast("long").alias("level"),
            F.expr(f"({fold}).b").cast("long").alias("trend"),
        )
        .select(
            "event_type", "n_days", "level", "trend",
            (F.col("level") + 7 * F.col("trend"))
            .cast("long")
            .alias("forecast_7"),
        )
        .orderBy("event_type")
    )


#: DTW grid: every series is reduced to this many coarse time buckets
#: before alignment, so the DP is O(NB^2) per pair regardless of scale.
_DTW_NB = 24
#: sentinel for invalid DP neighbors (first row / first column).
_DTW_BIG = 1 << 60


def _dtw_oracle_sql(tbl: str, epoch_fn: str, div: str) -> str:
    """Dynamic-time-warping distance as a recursive CTE: the DP runs
    over the LINEAR cell index k (i = k div m, j = k mod m), each step
    appending one cell to the carried list, so the within-row
    dependency (D[i][j-1]) and the cross-row ones (D[i-1][j],
    D[i-1][j-1]) all resolve against the same list. Integer costs on
    the exact cent grid make the DP bit-exact in any evaluation order —
    the only reason a sequential algorithm can be hash-compared across
    engines at all. One template, two dialects (`_bls_sql` discipline);
    validated cell-for-cell against an independent numpy DP."""
    return f"""
WITH RECURSIVE bounds AS (
  SELECT MIN({epoch_fn}(ts)) AS mn, MAX({epoch_fn}(ts)) AS mx FROM {tbl}),
b AS (
  SELECT event_type,
         (({epoch_fn}(ts) - bounds.mn) * {_DTW_NB})
           {div} (bounds.mx - bounds.mn + 1) AS bucket,
         {grid_sql('value', 2)} AS f
  FROM {tbl}, bounds),
sb AS (
  SELECT event_type, bucket, CAST(SUM(f) AS BIGINT) AS cents
  FROM b GROUP BY 1, 2),
arr AS (
  SELECT event_type, list(cents ORDER BY bucket) AS vs FROM sb GROUP BY 1),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.vs AS va, b.vs AS vb,
         len(a.vs) AS n, len(b.vs) AS m
  FROM arr a JOIN arr b ON a.event_type < b.event_type),
dp AS (
  SELECT type_a, type_b, va, vb, n, m, 0 AS k,
         [abs(va[1] - vb[1])] AS cells
  FROM pairs
  UNION ALL
  SELECT type_a, type_b, va, vb, n, m, k + 1,
         list_append(cells,
           abs(va[(k + 1) {div} m + 1] - vb[(k + 1) % m + 1])
           + LEAST(
               CASE WHEN (k + 1) % m = 0 THEN {_DTW_BIG}
                    ELSE cells[k + 1] END,
               CASE WHEN (k + 1) {div} m = 0 THEN {_DTW_BIG}
                    ELSE cells[k + 1 - m + 1] END,
               CASE WHEN (k + 1) % m = 0 OR (k + 1) {div} m = 0
                    THEN {_DTW_BIG}
                    ELSE cells[k + 1 - m] END))
  FROM dp WHERE k + 1 < n * m)
SELECT type_a, type_b, CAST(n AS BIGINT) AS n, CAST(m AS BIGINT) AS m,
       CAST(cells[n * m] AS BIGINT) AS dtw_cents
FROM dp WHERE k = n * m - 1 ORDER BY type_a, type_b
"""


def _dtw_kernel(batches):
    """Arrow-batched DTW: full integer DP per pair in numpy. Costs,
    cells and the final distance are all int64 (bounded by
    NB * max-bucket-sum, ~3e11 at the 10x sweep's sf1 — 7 decimal
    orders inside the type), so the result is exact, not a float
    approximation."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        out = []
        for r in pdf.itertuples(index=False):
            a = np.asarray(r.va, dtype=np.int64)
            b = np.asarray(r.vb, dtype=np.int64)
            n, m = len(a), len(b)
            c = np.abs(a[:, None] - b[None, :])
            d = np.empty((n, m), dtype=np.int64)
            d[0, 0] = c[0, 0]
            for j in range(1, m):
                d[0, j] = c[0, j] + d[0, j - 1]
            for i in range(1, n):
                d[i, 0] = c[i, 0] + d[i - 1, 0]
                for j in range(1, m):
                    d[i, j] = c[i, j] + min(
                        d[i - 1, j], d[i, j - 1], d[i - 1, j - 1]
                    )
            out.append(
                (r.type_a, r.type_b, n, m, int(d[n - 1, m - 1]))
            )
        yield pd.DataFrame(
            out, columns=["type_a", "type_b", "n", "m", "dtw_cents"]
        )


@register(
    "ts_dtw_distance",
    oracle=_dtw_oracle_sql("events", "epoch_us", "//"),
)
def ts_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-time-warping distance between every pair of series —
    the alignment-tolerant series-similarity operator (a lagged or
    stretched copy of a signal scores close; Euclidean distance would
    not). The classic use: cluster metric/sensor/light-curve shapes
    where phase isn't aligned across series.

    Spark-first decomposition of an inherently sequential algorithm:
    the DATA-SIZED part (reduce each series to a fixed NB-bucket
    integer profile) is one grouped aggregation with map-side partials;
    the SEQUENTIAL part (the O(NB^2) DP) runs in an Arrow-batched
    pandas kernel over the tiny pair table. At 100 TB the DP input is
    |series| profiles of NB ints — the kernel cost is independent of
    row count, and pairs parallelize across executors. The oracle
    restates the identical DP as a recursive CTE over the linear cell
    index; integer cent costs make both bit-exact (no float
    accumulation anywhere).
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    bounds = ev.agg(F.min(us).alias("mn"), F.max(us).alias("mx"))
    b = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.expr(
            f"((unix_micros(ts) - mn) * {_DTW_NB}) div (mx - mn + 1)"
        ).alias("bucket"),
        grid("value", 2).alias("f"),
    )
    sb = b.groupBy("event_type", "bucket").agg(F.sum("f").alias("cents"))
    arr = (
        sb.groupBy("event_type")
        .agg(
            F.array_sort(F.collect_list(F.struct("bucket", "cents"))).alias(
                "sc"
            )
        )
        .select(
            "event_type", F.expr("transform(sc, x -> x.cents)").alias("vs")
        )
    )
    pairs = (
        arr.alias("a")
        .join(
            F.broadcast(arr.alias("b")),
            F.col("a.event_type") < F.col("b.event_type"),
        )
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("a.vs").alias("va"),
            F.col("b.vs").alias("vb"),
        )
    )
    return pairs.mapInPandas(
        _dtw_kernel,
        "type_a STRING, type_b STRING, n BIGINT, m BIGINT, dtw_cents BIGINT",
    )


#: Kalman model constants — process noise Q and measurement noise R.
#: Written as decimal literals in BOTH the python kernel and the SQL
#: recursion (parsed to identical doubles), and every SQL constant is
#: CAST(... AS DOUBLE) because DuckDB otherwise types `1.0` as DECIMAL
#: and the whole recurrence silently leaves double arithmetic.
_KALMAN_Q = "0.01"
_KALMAN_R = "4.0"


def _kalman_oracle_sql(tbl: str) -> str:
    """Scalar Kalman filter as a recursive CTE joined against the
    row-numbered observation table (state = (x, p) per series; no list
    carrying). Bit-exact vs the python kernel because every operation
    is an IEEE-754 double op in the SAME order and shape: pp = p + Q;
    k = pp / (pp + R); x += k*(z - x); p = (1 - k)*pp — neither engine
    contracts to FMA or reassociates. Validated exactly equal on all
    series before registration."""
    q, r = f"CAST({_KALMAN_Q} AS DOUBLE)", f"CAST({_KALMAN_R} AS DOUBLE)"
    one = "CAST(1.0 AS DOUBLE)"
    gain = f"(r.p + {q}) / ((r.p + {q}) + {r})"
    return f"""
WITH RECURSIVE obs AS MATERIALIZED (
  SELECT event_type,
         CAST({grid_sql('value', 2)} AS DOUBLE) AS z,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS rn
  FROM {tbl}),
rec AS (
  SELECT event_type, 1 AS k, z AS x, {one} AS p FROM obs WHERE rn = 1
  UNION ALL
  SELECT r.event_type, r.k + 1,
         r.x + ({gain}) * (o.z - r.x),
         ({one} - {gain}) * (r.p + {q})
  FROM rec r JOIN obs o ON o.event_type = r.event_type AND o.rn = r.k + 1)
SELECT r.event_type, CAST(r.k AS BIGINT) AS n, r.x AS x_final, r.p AS p_final
FROM rec r
JOIN (SELECT event_type, MAX(k) AS mk FROM rec GROUP BY event_type) m
  ON m.event_type = r.event_type AND r.k = m.mk
ORDER BY r.event_type
"""


def _kalman_kernel(key, pdf):
    """Per-series sequential Kalman pass (grouped pandas). Plain python
    floats, NOT numpy vector ops: the recurrence is inherently serial
    and the op-for-op shape must mirror `_kalman_oracle_sql` exactly."""
    import pandas as pd

    q, r_noise = float(_KALMAN_Q), float(_KALMAN_R)
    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
    zs = [float(v) for v in pdf["z"]]
    x, p = zs[0], 1.0
    for z in zs[1:]:
        pp = p + q
        kg = pp / (pp + r_noise)
        x = x + kg * (z - x)
        p = (1.0 - kg) * pp
    return pd.DataFrame(
        {
            "event_type": [key[0]],
            "n": [len(zs)],
            "x_final": [x],
            "p_final": [p],
        }
    )


@register(
    "ts_kalman_1d",
    oracle=_kalman_oracle_sql("events"),
)
def ts_kalman_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Kalman filter per series — the optimal recursive smoother
    for a noisy level signal, and the archetype of state that windows
    cannot express: the gain k_t depends on the running covariance,
    which depends on every prior step, so this is applyInPandas
    territory (sequential within series, parallel across series), the
    same decomposition `transformWithState` would use in streaming.

    Scale: one shuffle on the series key, then a single ordered pass
    per series inside the pandas kernel — identical motion profile to
    any per-series window. Cross-engine exactness for a FLOAT recursion
    (normally hopeless) holds here because both sides execute the same
    IEEE double ops in the same order (no FMA contraction, no
    reassociation in either engine) — see `_kalman_oracle_sql`; the
    oracle hash is bit-for-bit, not tolerance-based.
    """
    ev = load_table(spark, sf_dir, "events")
    obs = ev.select(
        "event_type",
        "ts",
        "event_id",
        grid("value", 2).cast("double")
        .alias("z"),
    )
    return obs.groupBy("event_type").applyInPandas(
        _kalman_kernel,
        "event_type STRING, n BIGINT, x_final DOUBLE, p_final DOUBLE",
    )


@register(
    "ts_sax_symbolize",
    oracle=f"""
WITH bounds AS (
  SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx FROM events),
b AS (
  SELECT event_type,
         ((epoch_us(ts) - bounds.mn) * {_DTW_NB})
           // (bounds.mx - bounds.mn + 1) AS bucket,
         {grid_sql('value', 2)} AS f
  FROM events, bounds),
paa AS (
  SELECT event_type, bucket,
         CAST(SUM(f) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS m
  FROM b GROUP BY event_type, bucket),
q AS (
  SELECT event_type,
         CAST(quantile_disc(m, 0.25) AS BIGINT) AS q1,
         CAST(quantile_disc(m, 0.5) AS BIGINT) AS q2,
         CAST(quantile_disc(m, 0.75) AS BIGINT) AS q3
  FROM paa GROUP BY event_type),
sym AS (
  SELECT p.event_type, p.bucket,
         CASE WHEN p.m <= q.q1 THEN 'a'
              WHEN p.m <= q.q2 THEN 'b'
              WHEN p.m <= q.q3 THEN 'c'
              ELSE 'd' END AS s
  FROM paa p JOIN q ON q.event_type = p.event_type)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets,
       string_agg(s, '' ORDER BY bucket) AS sax_word
FROM sym GROUP BY event_type ORDER BY event_type
""",
)
def ts_sax_symbolize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization — compress each series to a short symbolic
    word (PAA bucket means -> per-series quartile alphabet 'a'..'d'),
    the standard front-end for motif discovery, series indexing and
    cheap similarity (Hamming on words) over millions of series. The
    discretization here is RANK-based (per-series discrete quartiles)
    rather than the textbook Gaussian breakpoints: quartiles of 24
    exact integers are themselves exact integers (`percentile_disc`),
    so the word is deterministic — no mean/std floats anywhere.

    Scale: the PAA reduction is the only data-sized pass (map-side
    combinable, |series| x NB keys); quartiles and the word assembly
    run on the collapsed 24-row-per-series table. Same
    reduce-first-then-model shape as `ts_dtw_distance`, whose bucket
    grid this shares — SAX words and DTW run off the same PAA table in
    a production pipeline.
    """
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.unix_micros("ts")).alias("mn"),
        F.max(F.unix_micros("ts")).alias("mx"),
    )
    b = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.expr(
            f"((unix_micros(ts) - mn) * {_DTW_NB}) div (mx - mn + 1)"
        ).alias("bucket"),
        grid("value", 2).alias("f"),
    )
    paa = b.groupBy("event_type", "bucket").agg(
        F.expr("CAST(SUM(f) AS BIGINT) div CAST(COUNT(*) AS BIGINT)").alias(
            "m"
        )
    )
    q = paa.groupBy("event_type").agg(
        F.expr(
            "percentile_disc(0.25) WITHIN GROUP (ORDER BY m)"
        ).alias("q1"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY m)").alias("q2"),
        F.expr(
            "percentile_disc(0.75) WITHIN GROUP (ORDER BY m)"
        ).alias("q3"),
    )
    sym = paa.join(q, "event_type").select(
        "event_type",
        "bucket",
        F.when(F.col("m") <= F.col("q1"), F.lit("a"))
        .when(F.col("m") <= F.col("q2"), F.lit("b"))
        .when(F.col("m") <= F.col("q3"), F.lit("c"))
        .otherwise(F.lit("d"))
        .alias("s"),
    )
    return sym.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.expr(
            "listagg(s, '') WITHIN GROUP (ORDER BY bucket)"
        ).alias("sax_word"),
    )


def _time_range_sql(tbl: str) -> str:
    """Trailing time-interval frame, single shared text (both dialects
    parse ``RANGE BETWEEN INTERVAL 6 HOURS PRECEDING``). RANGE frames
    include ALL peers of the current timestamp, so ties contribute
    identically regardless of encounter order — with order-free
    aggregates (count, exact integer sum) the result is deterministic
    without any tie-breaking column."""
    return f"""
SELECT user_id, event_id, ts,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_6h,
       CAST(SUM({grid_sql('value', 2)}) OVER w
            AS BIGINT) AS cents_6h
FROM {tbl}
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 6 HOURS PRECEDING AND CURRENT ROW)
"""


@register(
    "win_time_range_frame",
    oracle=_time_range_sql("events"),
)
def win_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-INTERVAL range frame — "activity in the trailing 6 hours"
    computed per event, the window form every ops/fraud/monitoring
    query wants and the one a ROWS frame cannot express (rows-per-hour
    varies). Complements `win_range_frame` (numeric range): the frame
    bound here is calendar time against the ORDER BY timestamp.

    Scale: one shuffle on the entity key, frames evaluate within each
    sorted partition with a sliding two-pointer over the time bound —
    cost linear in events per entity, state bounded by the 6-hour
    span. High-cardinality user partitioning is the shape that scales;
    the 100-TB caveat is a HOT entity whose 6-hour span exceeds an
    executor page — cap with sessionize_capped-style splitting.

    Spark builds the frame through the DataFrame API (converted from
    the shared-SQL form): ``rangeBetween`` takes numeric bounds, so
    the order key is exact epoch MICROseconds and the trailing bound
    is -6h in µs — bit-identical to the oracle's ``RANGE BETWEEN
    INTERVAL 6 HOURS PRECEDING`` on the raw timestamp (equal
    timestamps are equal microsecond keys, so the peer sets match).
    """
    ev = load_table(spark, sf_dir, "events")
    cents = grid("value", 2)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-6 * 3600 * 1_000_000, Window.currentRow)
    )
    return ev.select(
        "user_id", "event_id", "ts",
        F.count(F.lit(1)).over(w).cast("long").alias("n_6h"),
        F.sum(cents).over(w).cast("long").alias("cents_6h"),
    )


#: matrix-profile subsequence length (in PAA buckets) and the trivial-
#: match exclusion radius.
_MP_SUBLEN = 4
_MP_EXCL = 4


def _matrix_profile_sql(tbl: str, epoch_fn: str, div: str) -> str:
    """Matrix profile over the PAA-collapsed series: windows of
    `_MP_SUBLEN` bucket means via LEAD, all-pairs integer SSD with a
    +/-`_MP_EXCL` exclusion zone, per-position minimum (tie-broken by
    neighbor index). Exact integers end to end — distances are sums of
    four squared differences of bucket means on the cent grid."""
    leads = ", ".join(
        f"LEAD(m, {k}) OVER (PARTITION BY event_type ORDER BY bucket)"
        f" AS m{k}"
        for k in range(1, _MP_SUBLEN)
    )
    ssd = " + ".join(
        f"(a.m{k} - b.m{k}) * (a.m{k} - b.m{k})"
        for k in range(_MP_SUBLEN)
    ).replace("a.m0", "a.m").replace("b.m0", "b.m")
    return f"""
WITH bounds AS (
  SELECT MIN({epoch_fn}(ts)) AS mn, MAX({epoch_fn}(ts)) AS mx FROM {tbl}),
b AS (
  SELECT event_type,
         (({epoch_fn}(ts) - bounds.mn) * {_DTW_NB})
           {div} (bounds.mx - bounds.mn + 1) AS bucket,
         {grid_sql('value', 2)} AS f
  FROM {tbl}, bounds),
paa AS (
  SELECT event_type, bucket,
         CAST(SUM(f) AS BIGINT) {div} CAST(COUNT(*) AS BIGINT) AS m
  FROM b GROUP BY event_type, bucket),
w AS (
  SELECT event_type, bucket AS i, m, {leads}
  FROM paa),
wt AS (
  SELECT * FROM w WHERE m{_MP_SUBLEN - 1} IS NOT NULL),
pairs AS (
  SELECT a.event_type, a.i,
         b.i AS j,
         CAST({ssd} AS BIGINT) AS ssd
  FROM wt a JOIN wt b
    ON b.event_type = a.event_type
   AND (b.i - a.i >= {_MP_EXCL} OR a.i - b.i >= {_MP_EXCL})),
prof AS (
  SELECT event_type, i, j, ssd,
         ROW_NUMBER() OVER (PARTITION BY event_type, i
                            ORDER BY ssd, j) AS rn
  FROM pairs)
SELECT event_type, CAST(i AS BIGINT) AS pos,
       CAST(j AS BIGINT) AS nn_pos, ssd AS nn_ssd
FROM prof WHERE rn = 1 ORDER BY event_type, pos
"""


@register(
    "ts_matrix_profile",
    oracle=_matrix_profile_sql("events", "epoch_us", "//"),
)
def ts_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile — per-position nearest-neighbor distance among a
    series' own subsequences, THE primitive behind motif discovery
    (small profile values = repeated shapes) and discord/anomaly
    detection (the profile's maximum is the series' most unusual
    subsequence). Computed over the PAA-collapsed series (the
    `ts_dtw_distance`/`ts_sax_symbolize` bucket grid), windows of 4
    bucket means via LEAD, all-pairs exact-integer SSD with a +/-4
    exclusion zone (a subsequence may not match its own overlap).

    Scale: raw rows collapse to |series| x NB bucket means in the one
    data-sized pass; the all-pairs stage is O(NB^2) per series on that
    collapsed table — constant in row count, exactly how production
    matrix-profile systems run at scale (downsample, profile, refine).
    Everything integer, so the per-position argmin hash-matches. Spark
    builds the kernel through the DataFrame API (converted from the
    shared-SQL form) with the exact-integer SSD fragments generated
    from the same python expressions the oracle template uses.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    bounds = ev.agg(F.min(us).alias("mn"), F.max(us).alias("mx"))
    b = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.expr(
            f"((unix_micros(ts) - mn) * {_DTW_NB}) div (mx - mn + 1)"
        ).alias("bucket"),
        grid("value", 2).alias("f"),
    )
    paa = b.groupBy("event_type", "bucket").agg(
        F.expr(
            "CAST(SUM(f) AS BIGINT) div CAST(COUNT(*) AS BIGINT)"
        ).alias("m")
    )
    wo = Window.partitionBy("event_type").orderBy("bucket")
    w = paa.select(
        "event_type", F.col("bucket").alias("i"), "m",
        *[
            F.lead("m", k).over(wo).alias(f"m{k}")
            for k in range(1, _MP_SUBLEN)
        ],
    )
    wt = w.filter(F.col(f"m{_MP_SUBLEN - 1}").isNotNull())
    a = wt.select(
        "event_type", "i", F.col("m").alias("am0"),
        *[F.col(f"m{k}").alias(f"am{k}") for k in range(1, _MP_SUBLEN)],
    )
    bb = wt.select(
        F.col("event_type").alias("bet"), F.col("i").alias("j"),
        F.col("m").alias("bm0"),
        *[F.col(f"m{k}").alias(f"bm{k}") for k in range(1, _MP_SUBLEN)],
    )
    ssd = F.expr(
        " + ".join(
            f"(am{k} - bm{k}) * (am{k} - bm{k})"
            for k in range(_MP_SUBLEN)
        )
    ).cast("long")
    pairs = a.join(
        bb,
        (F.col("bet") == F.col("event_type"))
        & (
            (F.col("j") - F.col("i") >= _MP_EXCL)
            | (F.col("i") - F.col("j") >= _MP_EXCL)
        ),
    ).select("event_type", "i", "j", ssd.alias("ssd"))
    prof = pairs.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type", "i").orderBy("ssd", "j")
        ),
    )
    return (
        prof.filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("i").cast("long").alias("pos"),
            F.col("j").cast("long").alias("nn_pos"),
            F.col("ssd").alias("nn_ssd"),
        )
        .orderBy("event_type", "pos")
    )


#: Markov anomaly scoring: minimum transitions per scored user.
_MKV_MIN_TRANS = 5
_MKV_TOP = 20


@register(
    "events_markov_anomaly",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
trans AS (
  SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
model AS (
  SELECT prev_type, event_type,
         {grid_sql('''LN(CAST(c AS DOUBLE)
                       / SUM(c) OVER (PARTITION BY prev_type))''', 6)} AS logp_micro
  FROM trans
),
scored AS (
  SELECT s.user_id,
         CAST(COUNT(*) AS BIGINT) AS n_trans,
         CAST(SUM(m.logp_micro) AS BIGINT) AS path_logp_micro
  FROM seq s JOIN model m
    ON m.prev_type = s.prev_type AND m.event_type = s.event_type
  GROUP BY s.user_id
)
SELECT user_id, n_trans, path_logp_micro,
       CAST(path_logp_micro // n_trans AS BIGINT) AS avg_logp_micro
FROM scored
WHERE n_trans >= {_MKV_MIN_TRANS}
ORDER BY path_logp_micro // n_trans, user_id
LIMIT {_MKV_TOP}
""",
)
def events_markov_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-sequence anomaly scoring under a first-order Markov
    model: fit the corpus-wide transition matrix
    (`event_transition_matrix` normalized to row-stochastic log-probs),
    then score every user's OWN event path under it and surface the 20
    least-likely-per-step users — the sequence-model analogue of
    `anomaly_zscore` (a user whose transitions are individually common
    but jointly improbable only falls out of the PATH likelihood).

    The model is |types|² rows and BROADCASTS back onto the transition
    stream (never a shuffle of data on the model key); each per-step
    log-prob floors onto the 1e-6 grid before the per-user INTEGER sum,
    and the per-step average uses truncating integer division (Spark
    ``div`` == DuckDB ``//``), so ranking and tie-breaks are exact.
    Two passes over the sequence table (fit + score) share the one
    user-keyed sort shuffle; at 100 TB both are map-side after it.
    """
    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(wu).alias("prev_type"),
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    model = trans.select(
        "prev_type",
        "event_type",
        grid(
            F.log(
                F.col("c").cast("double")
                / F.sum("c").over(Window.partitionBy("prev_type"))
            ),
            6,
        )
        .alias("logp_micro"),
    )
    scored = (
        seq.join(F.broadcast(model), ["prev_type", "event_type"])
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_trans"),
            F.sum("logp_micro").alias("path_logp_micro"),
        )
        .filter(F.col("n_trans") >= _MKV_MIN_TRANS)
    )
    avg = F.expr("path_logp_micro div n_trans")
    return (
        scored.select(
            "user_id",
            "n_trans",
            "path_logp_micro",
            avg.cast("long").alias("avg_logp_micro"),
        )
        .orderBy(avg, "user_id")
        .limit(_MKV_TOP)
    )


@register(
    "win_rolling_regression_slope",
    oracle=f"""
WITH d AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS t,
         CAST(SUM({grid_sql('value', 6)})
              AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT event_type, t, y,
         CAST(COUNT(*) OVER win AS BIGINT) AS n,
         CAST(SUM(t) OVER win AS BIGINT) AS st,
         CAST(SUM(y) OVER win AS BIGINT) AS sy,
         CAST(SUM(t * y) OVER win AS BIGINT) AS sty,
         CAST(SUM(t * t) OVER win AS BIGINT) AS stt
  FROM d
  WINDOW win AS (PARTITION BY event_type ORDER BY t
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, t AS day,
       {grid_sql('''(CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
                   - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                     - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))''', 3)}
                   AS slope_milli_micro
FROM w WHERE n = 7
ORDER BY event_type, day
""",
)
def win_rolling_regression_slope(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rolling 7-day OLS slope of each event type's daily mean — the
    local-trend signal a monitoring stack overlays on `ts_ewma`
    (level) and `ts_bollinger_bands` (spread): the regression
    generalization of a rolling difference, robust to single-day
    spikes. All five OLS sufficient statistics come from ONE window
    frame over the collapsed per-day table (exact longs — day index x
    micro mean stays far under 2^63), so each output row is a scalar
    IEEE division; rows with fewer than 7 days of history are
    suppressed rather than emitting a degenerate fit.

    100-TB posture: one data-sized rollup; the frame windows partition
    by event type over |days| rows.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.expr("CAST(unix_micros(ts) div 86400000000 AS BIGINT)").alias("t"),
    ).agg(
        F.expr(
            f"CAST(sum({grid_sql('value', 6)}) "
            "AS BIGINT) div CAST(count(1) AS BIGINT)"
        ).alias("y")
    )
    win = (
        Window.partitionBy("event_type").orderBy("t").rowsBetween(-6, 0)
    )
    w = d.select(
        "event_type", "t", "y",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum("t").over(win).alias("st"),
        F.sum("y").over(win).alias("sy"),
        F.sum(F.col("t") * F.col("y")).over(win).alias("sty"),
        F.sum(F.col("t") * F.col("t")).over(win).alias("stt"),
    )
    nd = F.col("n").cast("double")
    slope = (
        nd * F.col("sty").cast("double")
        - F.col("st").cast("double") * F.col("sy").cast("double")
    ) / (
        nd * F.col("stt").cast("double")
        - F.col("st").cast("double") * F.col("st").cast("double")
    )
    return (
        w.where(F.col("n") == 7)
        .select(
            "event_type",
            F.col("t").alias("day"),
            grid(slope, 3).alias("slope_milli_micro"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "ts_burstiness",
    oracle=f"""
WITH o AS (
  SELECT epoch_us(ts) AS t, event_id,
         LAG(epoch_us(ts)) OVER (ORDER BY epoch_us(ts), event_id) AS tp
  FROM events
),
gaps AS (
  SELECT (t - tp) // 1000 AS g,
         LAG((t - tp) // 1000) OVER (ORDER BY t, event_id) AS gp
  FROM o WHERE tp IS NOT NULL
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(g) AS BIGINT) AS sg,
         CAST(SUM(g * g) AS BIGINT) AS sgg,
         CAST(SUM(CASE WHEN gp IS NULL THEN 0 ELSE 1 END) AS BIGINT)
           AS np,
         CAST(SUM(CASE WHEN gp IS NULL THEN 0 ELSE g END) AS BIGINT)
           AS sx,
         CAST(SUM(CASE WHEN gp IS NULL THEN 0 ELSE gp END) AS BIGINT)
           AS sy,
         CAST(SUM(CASE WHEN gp IS NULL THEN 0 ELSE g * g END) AS BIGINT)
           AS sxx,
         CAST(SUM(CASE WHEN gp IS NULL THEN 0 ELSE gp * gp END) AS BIGINT)
           AS syy,
         CAST(SUM(CASE WHEN gp IS NULL THEN 0 ELSE g * gp END) AS BIGINT)
           AS sxy
  FROM gaps
),
stat AS (
  SELECT n,
         sqrt(CAST(sgg AS DOUBLE) / n
              - (CAST(sg AS DOUBLE) / n) * (CAST(sg AS DOUBLE) / n))
           AS sigma,
         CAST(sg AS DOUBLE) / n AS mu,
         (CAST(np AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / sqrt((CAST(np AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * (CAST(np AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
           AS mem
  FROM s
)
SELECT n AS n_gaps,
       {grid_sql('mu', 3)} AS mean_gap_micro_ms,
       {grid_sql('(sigma - mu) / (sigma + mu)', 6)} AS burstiness_micro,
       {grid_sql('mem', 6)} AS memory_micro,
       (sigma - mu) / (sigma + mu) > 0.0 AS burstier_than_poisson
FROM stat
""",
)
def ts_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness B = (sigma-mu)/(sigma+mu) and the memory
    coefficient (lag-1 Pearson of consecutive gaps) of the event
    interarrival process — the two-number signature separating bursty
    human/failure traffic (B>0) from Poisson (B~0) and pacemaker-
    regular (B<0) processes; `ts_interarrival_hist` shows the gap
    DISTRIBUTION, this scores its shape and short-range correlation.

    Gaps land on an exact millisecond integer grid (micros div 1000 —
    squares stay inside 2^53 through the 10x fixture: ~6e15 at sf0.1,
    overflow ledger); all five correlation sums are exact longs off
    one lag pass; sigma/mu/memory assemble in mirrored double ops.
    Ordering ties broken by event_id (the house discipline).

    100-TB posture: the lag window partitions by nothing here (one
    global stream) — shard by series/user for the keyed variant
    exactly like ts_kalman_1d; sums are map-side-combinable after the
    window.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.orderBy(F.unix_micros("ts"), "event_id")
    o = ev.select(
        F.unix_micros("ts").alias("t"),
        "event_id",
        F.lag(F.unix_micros("ts")).over(w).alias("tp"),
    )
    wg = Window.orderBy("t", "event_id")
    gaps = o.where(F.col("tp").isNotNull()).select(
        "t", "event_id", F.expr("(t - tp) div 1000").alias("g")
    ).select("g", F.lag("g").over(wg).alias("gp"))
    have = F.col("gp").isNotNull()
    s = gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("g").cast("long").alias("sg"),
        F.sum(F.col("g") * F.col("g")).cast("long").alias("sgg"),
        F.sum(F.when(have, 1).otherwise(0)).cast("long").alias("np"),
        F.sum(F.when(have, F.col("g")).otherwise(0)).cast("long")
        .alias("sx"),
        F.sum(F.when(have, F.col("gp")).otherwise(0)).cast("long")
        .alias("sy"),
        F.sum(F.when(have, F.col("g") * F.col("g")).otherwise(0))
        .cast("long").alias("sxx"),
        F.sum(F.when(have, F.col("gp") * F.col("gp")).otherwise(0))
        .cast("long").alias("syy"),
        F.sum(F.when(have, F.col("g") * F.col("gp")).otherwise(0))
        .cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    npd = F.col("np").cast("double")
    mu = F.col("sg").cast("double") / F.col("n")
    sigma = F.sqrt(
        F.col("sgg").cast("double") / F.col("n")
        - (F.col("sg").cast("double") / F.col("n"))
        * (F.col("sg").cast("double") / F.col("n"))
    )
    mem = (
        npd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    ) / F.sqrt(
        (npd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (npd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    b = (sigma - mu) / (sigma + mu)
    return s.select(
        F.col("n").alias("n_gaps"),
        grid(mu, 3).alias("mean_gap_micro_ms"),
        grid(b, 6).alias("burstiness_micro"),
        grid(mem, 6).alias("memory_micro"),
        (b > F.lit(0.0)).alias("burstier_than_poisson"),
    )
