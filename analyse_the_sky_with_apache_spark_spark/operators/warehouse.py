"""Warehouse maintenance operators: MERGE upsert, SCD2 history, funnels.

No Delta/Iceberg is available in this sandbox (VERDICT.md round-1 item 4),
but the *relational core* of table maintenance is expressible on plain
DataFrames: MERGE is a full-outer join keyed on the primary key, SCD
Type 2 is a lead() window over the change log, and funnel analysis is a
chain of keyed min-aggregations. Each is registered with a DuckDB oracle
so the semantics are hash-checked, and each docstring states the 100-TB
plan shape (SCALE.md "Warehouse maintenance").

Sources derive deterministically from the fixture tables — both engines
compute identical per-row expressions (IEEE doubles, integer modulo), so
no synthetic data leaves the oracle's reach.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import grid, grid_sql, md5_int, md5_int_sql
from ..registry import register
from .windows import session_starts_sql


@register(
    "merge_upsert",
    oracle="""
WITH src AS (
  SELECT o_orderkey AS k, 'X' AS status, o_totalprice * 1.05 AS price
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 10000000 AS k, 'N' AS status, 1000.0 AS price
  FROM orders WHERE o_orderkey % 1000 = 0
)
SELECT COALESCE(t.o_orderkey, s.k) AS o_orderkey,
       COALESCE(s.status, t.o_orderstatus) AS o_orderstatus,
       COALESCE(s.price, t.o_totalprice) AS o_totalprice,
       CASE WHEN t.o_orderkey IS NULL THEN 'insert'
            WHEN s.k IS NULL THEN 'keep'
            ELSE 'update' END AS action
FROM orders t FULL OUTER JOIN src s ON t.o_orderkey = s.k
""",
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on plain DataFrames: matched rows update,
    unmatched source rows insert, untouched target rows carry through.

    The source is a deterministic amendment batch derived from the target
    itself (every 10th order re-priced +5%, every 1000th key offset into
    a fresh insert). The merge is ONE full-outer shuffle join on the
    primary key + a coalesce projection — exactly the join Delta/Iceberg
    MERGE plans under the hood. At 100 TB: the target side's shuffle
    disappears if the table is bucketed on the key (SCALE.md); a small
    CDC batch broadcasts instead, making MERGE a map-only job. The
    ``action`` column is the merge audit (insert/update/keep counts).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    upd = o.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("X").alias("status"),
        (F.col("o_totalprice") * 1.05).alias("price"),
    )
    ins = o.filter(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("k"),
        F.lit("N").alias("status"),
        F.lit(1000.0).alias("price"),
    )
    src = upd.unionByName(ins)
    return (
        o.join(src, o.o_orderkey == src.k, "full_outer")
        .select(
            F.coalesce("o_orderkey", "k").alias("o_orderkey"),
            F.coalesce("status", "o_orderstatus").alias("o_orderstatus"),
            F.coalesce("price", "o_totalprice").alias("o_totalprice"),
            F.when(F.col("o_orderkey").isNull(), "insert")
            .when(F.col("k").isNull(), "keep")
            .otherwise("update")
            .alias("action"),
        )
    )


@register(
    "scd2_history",
    oracle="""
SELECT o_custkey, o_orderkey, o_orderpriority,
       CAST(o_orderdate AS DATE) AS valid_from,
       CAST(LEAD(o_orderdate) OVER w AS DATE) AS valid_to,
       CAST(CASE WHEN LEAD(o_orderdate) OVER w IS NULL
                 THEN 1 ELSE 0 END AS BIGINT) AS is_current
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 build from a change log.

    Each customer's orders, in (date, key) order, are treated as
    successive versions of their priority attribute; ``lead()`` closes
    each validity interval and the open-ended row is flagged current.
    One shuffle on the entity key; the frame evaluates within each
    partition, so at 100 TB this scales with entities, not versions per
    executor. This is the standard dimension-history rebuild — the same
    window produces the ``valid_from``/``valid_to``/``is_current``
    triplet any SCD2 pipeline maintains incrementally.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("valid_from"),
        nxt.cast("date").alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).cast("long").alias("is_current"),
    )


@register(
    "funnel_steps",
    oracle="""
WITH s AS (
  SELECT user_id, MIN(ts) AS t_signup
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
c AS (
  SELECT e.user_id, s.t_signup, MIN(e.ts) AS t_click
  FROM events e JOIN s ON e.user_id = s.user_id AND e.ts > s.t_signup
  WHERE e.event_type = 'click'
  GROUP BY e.user_id, s.t_signup
),
p AS (
  SELECT e.user_id, c.t_click, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
  WHERE e.event_type = 'purchase'
  GROUP BY e.user_id, c.t_click
)
SELECT s.user_id, s.t_signup, c.t_click, p.t_purchase,
       CAST(1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
              + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END
            AS BIGINT) AS steps
FROM s
LEFT JOIN c ON s.user_id = c.user_id
LEFT JOIN p ON c.user_id = p.user_id
""",
)
def funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis: signup → first later click → first later
    purchase, per user.

    The sequential dependency (each step must happen strictly after the
    previous step's timestamp) is a chain of keyed min-aggregations, not
    a window over the full event stream: stage N joins the raw events to
    stage N−1's result on the user key and aggregates the earliest
    qualifying timestamp. Every stage shuffles on the same user key, so
    AQE/exchange-reuse co-partitions the chain; state per user is one
    row per stage. At 100 TB this beats the collect_list-per-user
    pattern (unbounded per-user arrays) — memory stays O(users), and a
    funnel with K steps is K linear passes, embarrassingly parallel in
    users. ``steps`` counts how deep each user got (1–3).
    """
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id", "t_signup")
        .agg(F.min("ts").alias("t_click"))
        .select("user_id", "t_click")
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id", "t_click")
        .agg(F.min("ts").alias("t_purchase"))
        .select("user_id", "t_purchase")
    )
    return (
        s.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "t_signup",
            "t_click",
            "t_purchase",
            (
                F.lit(1)
                + F.when(F.col("t_click").isNull(), 0).otherwise(1)
                + F.when(F.col("t_purchase").isNull(), 0).otherwise(1)
            )
            .cast("long")
            .alias("steps"),
        )
    )


@register(
    "skyline_pareto",
    oracle="""
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part o
  WHERE o.p_retailprice < p.p_retailprice AND o.p_size > p.p_size
)
""",
)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-frontier query: the parts no other part strictly
    beats on BOTH cheaper price and larger size (multi-objective
    shortlisting — "show me the options that aren't dominated").

    The oracle states the textbook NOT EXISTS form, which is an O(n²)
    all-pairs scan. The Spark plan is the sweep-line rewrite: collapse
    to one row per distinct price with its max size (hash agg), running
    ``MAX(size)`` over strictly-cheaper prices (window over the
    *distinct-price* table, one row per price), then join back — a row
    is dominated iff that prefix-max exceeds its size. Equal-price rows
    never dominate each other (strict dominance), which is exactly what
    the rows-frame-over-distinct-prices computes.

    Scale: two shuffles (price agg, join back — the second is a
    broadcast when the frontier sweep table is small). The unpartitioned
    window runs over |distinct prices| rows, not data rows; if prices
    are near-continuous, quantize the sweep key or run the two-level
    prefix scan (range-partition by price, per-partition max, broadcast
    the partition prefix-maxima) — same algebra, no single-task stage.
    """
    pp = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    per_price = pp.groupBy("p_retailprice").agg(F.max("p_size").alias("mx"))
    w = (
        Window.orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sweep = per_price.select(
        "p_retailprice", F.max("mx").over(w).alias("prev_mx")
    )
    return (
        pp.join(F.broadcast(sweep), "p_retailprice")
        .where(F.col("prev_mx").isNull() | (F.col("prev_mx") <= F.col("p_size")))
        .select("p_partkey", "p_retailprice", "p_size")
    )


@register(
    "retention_cohorts",
    oracle="""
WITH act AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events
), firsts AS (
  SELECT user_id, MIN(week) AS cohort FROM act GROUP BY user_id
)
SELECT f.cohort,
       CAST((a.week - f.cohort) / 7 AS BIGINT) AS weeks_since,
       COUNT(*) AS n_active
FROM act a JOIN firsts f ON a.user_id = f.user_id
GROUP BY 1, 2
""",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-active week,
    counted in every later week they return — THE product-analytics
    rollup (and the observing-cadence matrix of a survey: objects by
    first-detection epoch × epochs re-detected).

    Three aggregations, ONE data-sized pass: distinct (user, week)
    activity (map-side partials collapse the event stream), per-user
    min week, and the cohort × offset count — all keyed or co-keyed on
    user_id, so exchange reuse runs the first-week agg and the join on
    the same shuffle the distinct produced. ``n_active`` counts
    distinct users by construction (act is distinct per user-week), so
    no COUNT(DISTINCT) Expand plan is ever needed — at 100 TB the
    pre-distinct is exactly how you dodge the distinct-aggregate
    blowup on the fact table.
    """
    ev = load_table(spark, sf_dir, "events")
    act = (
        ev.select(
            "user_id",
            F.date_trunc("week", "ts").cast("date").alias("week"),
        )
        .distinct()
    )
    firsts = act.groupBy("user_id").agg(F.min("week").alias("cohort"))
    return (
        act.join(firsts, "user_id")
        .groupBy(
            "cohort",
            (F.datediff("week", "cohort") / 7).cast("long").alias("weeks_since"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@register(
    "join_point_in_time",
    oracle="""
SELECT e.event_id, e.user_id, e.ts, l.version_date, l.prio_pit
FROM events e
LEFT JOIN LATERAL (
  SELECT CAST(o.o_orderdate AS DATE) AS version_date,
         o.o_orderpriority AS prio_pit
  FROM orders o
  WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
  ORDER BY o.o_orderdate DESC, o.o_orderpriority DESC
  LIMIT 1
) l ON TRUE
""",
)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join — the feature-store lookup: each fact row gets
    the dimension version that was valid AT ITS OWN timestamp, never a
    later one (training-serving skew is exactly what leaks when this
    join is done with a plain latest-version lookup). The versioned
    dimension is the `scd2_history` change log (per-customer priority
    versions dated by order date); the lookup is the as-of kernel
    (operators/asof.py) — one union + one keyed window, NO per-fact
    subquery — with the version payload traveling as a struct so a
    fact row can never mix fields from two versions. Facts with no
    version yet (event before the entity's first version) keep NULLs:
    the honest answer, not a leaked future value. The oracle is the
    per-row LATERAL lookup — the formulation the kernel replaces at
    scale. Ties among same-timestamp versions break on the struct's
    field order (version_date, then priority) in both engines.
    """
    from .asof import asof_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    versions = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderdate").cast("date").alias("vdate"),
        "o_orderpriority",
    )
    out = asof_join(
        ev,
        versions,
        on="user_id",
        right_values={"version_date": "vdate", "prio_pit": "o_orderpriority"},
    )
    return out.select("event_id", "user_id", "ts", "version_date", "prio_pit")


_BASKET_MIN_SUPPORT = 3


@register(
    "basket_item_pairs",
    oracle=f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       COUNT(*) AS support
FROM items a JOIN items b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY a.l_partkey, b.l_partkey
HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
""",
)
def basket_item_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: parts that co-occur in the same order
    at least ``min_support`` times — the first level of association-rule
    mining (FP-growth's candidate generation for pairs, done
    relationally). The self-join is keyed on the ORDER id, so the pair
    fan-out per order is bounded by basket size squared (≤7 lineitems
    here — never a global n²); the distinct pre-pass collapses repeated
    (order, part) lines first so multiplicity doesn't inflate support.
    Two shuffles: the distinct and the pair count (the equi-join reuses
    the distinct's order-key partitioning). The support threshold
    prunes the long tail before anything leaves the aggregation —
    at 100 TB add a frequent-items pre-filter (the classic a-priori
    step) so rare parts never enter the join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= _BASKET_MIN_SUPPORT)
    )


@register(
    "rfm_segmentation",
    oracle=f"""
WITH rfm AS (
  SELECT o_custkey,
         datediff('day', CAST(MAX(o_orderdate) AS DATE), DATE '2002-01-01')
           AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM({grid_sql('o_totalprice', 2)})
              AS BIGINT) AS monetary_cents
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey, recency_days, frequency,
       CAST(monetary_cents AS DOUBLE) / 100.0 AS monetary,
       NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS r_score,
       NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
       NTILE(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m_score
FROM rfm
""",
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — recency / frequency / monetary quintiles per
    customer, the classic CRM scoring (1 = best in each dimension).
    One aggregation builds the three measures (monetary in exact
    cents); each score is an NTILE(5) over a fully tie-broken total
    order (ntile is encounter-order-nondeterministic otherwise — the
    same rule `win_ranking` documents). The three global windows run
    over the per-customer AGGREGATE, not raw orders; at 100 TB replace
    them with quantile-boundary broadcasts (approx_percentile the
    scores' cut points, then a map-side CASE) — same output contract,
    no global sort.
    """
    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("2002-01-01").cast("date"),
            F.max("o_orderdate").cast("date"),
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(grid("o_totalprice", 2)).alias("monetary_cents"),
    )
    return rfm.select(
        "o_custkey",
        "recency_days",
        "frequency",
        (F.col("monetary_cents").cast("double") / 100.0).alias("monetary"),
        F.ntile(5)
        .over(Window.orderBy("recency_days", "o_custkey"))
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.col("frequency").desc(), "o_custkey"))
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.col("monetary_cents").desc(), "o_custkey"))
        .alias("m_score"),
    )


_BACKLOG_DAYS = 30


@register(
    "interval_open_count",
    oracle=f"""
WITH deltas AS (
  SELECT CAST(o_orderdate AS DATE) AS day, CAST(1 AS BIGINT) AS delta
  FROM orders
  UNION ALL
  SELECT CAST(o_orderdate AS DATE) + {_BACKLOG_DAYS}, CAST(-1 AS BIGINT)
  FROM orders
), daily AS (
  SELECT day, CAST(SUM(delta) AS BIGINT) AS net FROM deltas GROUP BY day
)
SELECT day, net,
       CAST(SUM(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS n_open
FROM daily
""",
)
def interval_open_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval counting by sweep: how many orders are OPEN
    on each day (each order live for 30 days) — the
    backlog/occupancy/concurrency curve. Instead of joining every day
    against every overlapping interval (the O(days × intervals) stab
    join), each interval becomes two DELTA events (+1 at start, −1
    past end); a per-day net and a running sum over the tiny daily
    table reconstruct the exact open count. One data-sized aggregation
    (the union feeds straight into it map-side), one |days|-row
    window — the same sweep algebra as `win_running_distinct`, applied
    to interval stabbing. All counting is integer-exact.
    """
    o = load_table(spark, sf_dir, "orders")
    opens = o.select(
        F.col("o_orderdate").cast("date").alias("day"),
        F.lit(1).cast("long").alias("delta"),
    )
    closes = o.select(
        F.date_add(F.col("o_orderdate").cast("date"), _BACKLOG_DAYS).alias(
            "day"
        ),
        F.lit(-1).cast("long").alias("delta"),
    )
    daily = (
        opens.unionByName(closes)
        .groupBy("day")
        .agg(F.sum("delta").alias("net"))
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "day", "net", F.sum("net").over(w).alias("n_open")
    )


@register(
    "snapshot_diff",
    oracle="""
WITH snap_a AS (
  SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS price
  FROM orders WHERE o_orderkey % 97 <> 0
),
snap_b AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice * 1.02
              ELSE o_totalprice END AS price
  FROM orders WHERE o_orderkey % 89 <> 0
)
SELECT COALESCE(a.k, b.k) AS o_orderkey,
       CASE WHEN a.k IS NULL THEN 'added'
            WHEN b.k IS NULL THEN 'deleted'
            ELSE 'changed' END AS change_type,
       a.price AS old_price, b.price AS new_price
FROM snap_a a FULL OUTER JOIN snap_b b ON a.k = b.k
WHERE a.k IS NULL OR b.k IS NULL
   OR a.price <> b.price OR a.status <> b.status
""",
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: added / deleted / changed rows between
    two versions of a table, from one full-outer join.

    The two snapshots derive deterministically from orders (one drops
    every 97th key — "not yet ingested"; the other re-prices every 13th
    and drops every 89th — "updated/deleted since"), so both engines
    build identical inputs. The diff itself is the generic recipe: full
    outer on the primary key, classify by side-nullness, keep rows whose
    compared columns differ. Unchanged rows — the overwhelming majority
    — are filtered before they leave the join, so the output is only the
    changeset. At 100 TB this is the standard one-shuffle reconciliation
    between a warehouse table and a re-delivered extract; with both
    sides bucketed on the key it degrades to a zero-shuffle zip join,
    and at petabyte scale you first compare per-bucket checksums
    (table_checksum) and only diff the buckets that moved.
    """
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 97 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    b = o.filter(F.col("o_orderkey") % 89 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") * 1.02
        )
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    j = a.alias("a").join(b.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer")
    return j.filter(
        F.col("a.k").isNull()
        | F.col("b.k").isNull()
        | (F.col("a.price") != F.col("b.price"))
        | (F.col("a.status") != F.col("b.status"))
    ).select(
        F.coalesce(F.col("a.k"), F.col("b.k")).alias("o_orderkey"),
        F.when(F.col("a.k").isNull(), "added")
        .when(F.col("b.k").isNull(), "deleted")
        .otherwise("changed")
        .alias("change_type"),
        F.col("a.price").alias("old_price"),
        F.col("b.price").alias("new_price"),
    )


#: compaction target size (simulated bytes).
_COMPACT_TARGET = 1 << 18


@register(
    "compaction_plan",
    oracle=f"""
WITH files AS (
  SELECT l_returnflag AS part_key,
         date_trunc('month', l_shipdate) AS file_month,
         COUNT(*) * 128 AS size_bytes
  FROM lineitem
  GROUP BY 1, 2
),
planned AS (
  SELECT part_key, file_month, size_bytes,
         CAST(COALESCE(SUM(size_bytes) OVER (
           PARTITION BY part_key ORDER BY file_month
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) // {_COMPACT_TARGET} AS grp
  FROM files
)
SELECT part_key, grp,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(size_bytes) AS BIGINT) AS group_bytes,
       CAST(MIN(file_month) AS DATE) AS first_month,
       CAST(MAX(file_month) AS DATE) AS last_month
FROM planned
GROUP BY part_key, grp
""",
)
def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: greedy sequential bin-packing of a
    file inventory into ~target-size rewrite groups.

    The inventory derives from lineitem as one simulated file per
    (partition, ship-month) with size = rows × 128 B — the shape a real
    planner reads from the table manifest. Within each partition, files
    in month order are assigned to group ``floor(exclusive-cumulative-
    bytes / target)`` — the same one-window greedy pack as
    doc_pack_sequences, here keyed by table partition, which keeps
    rewrite groups time-contiguous (compacted files stay prunable on
    date). Planning at 100 TB touches only manifest rows — millions,
    not billions — one window per partition, embarrassingly parallel;
    the plan's (partition, grp) output IS the rewrite job list, each
    job reading n_files inputs and writing one ~target-size file.
    An oversized file simply spans group boundaries and stays alone in
    its group (its successor starts a new quotient) — it is never
    split, matching rewrite-job semantics.
    """
    li = load_table(spark, sf_dir, "lineitem")
    files = li.groupBy(
        F.col("l_returnflag").alias("part_key"),
        F.date_trunc("month", F.col("l_shipdate")).alias("file_month"),
    ).agg((F.count(F.lit(1)) * 128).alias("size_bytes"))
    w = (
        Window.partitionBy("part_key")
        .orderBy("file_month")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = files.withColumn(
        "grp",
        F.floor(
            F.coalesce(F.sum("size_bytes").over(w), F.lit(0))
            / F.lit(_COMPACT_TARGET)
        ),
    )
    return planned.groupBy("part_key", "grp").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("size_bytes").alias("group_bytes"),
        F.min(F.col("file_month").cast("date")).alias("first_month"),
        F.max(F.col("file_month").cast("date")).alias("last_month"),
    )


#: count-min sketch geometry: d hash rows × w counters.
_CM_D, _CM_W = 4, 256


@register(
    "agg_countmin",
    oracle=f"""
WITH rows_x_hashes AS (
  SELECT j,
         {md5_int_sql("CAST(l_partkey AS VARCHAR) || '-' || CAST(j AS VARCHAR)",
                      1, 6)} % {_CM_W} AS cell
  FROM lineitem, LATERAL unnest(generate_series(0, {_CM_D - 1})) t(j)
)
SELECT CAST(j AS BIGINT) AS j, cell, CAST(COUNT(*) AS BIGINT) AS cnt
FROM rows_x_hashes
GROUP BY j, cell
""",
)
def agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch construction as a plain aggregation: the d×w
    counter matrix summarizing the l_partkey frequency vector.

    Each row contributes +1 to one counter per hash row (d = 4 salted
    md5 hashes → w = 256 cells); a point estimate for any key is then
    ``min_j counter[j][h_j(key)]`` — always ≥ the true count, within
    εN (ε = e/w) with probability 1−e^−d (Cormode & Muthukrishnan
    2005). tests/test_scale_patterns.py pins both bounds against exact
    counts. The sketch build is ONE groupBy of d·n expanded rows into
    ≤ d·w cells — mergeable across partitions/days by cell-wise
    addition (counters are exact longs), which is why this is the
    100-TB streaming-frequency workhorse: fixed 8 KB state here,
    independent of key cardinality. md5-derived cells rather than
    xxhash64 keep the construction reproducible in ANY engine (the
    oracle rebuilds it cell-for-cell in DuckDB).
    """
    li = load_table(spark, sf_dir, "lineitem")
    exploded = li.select(
        F.posexplode(
            F.array(
                *[
                    md5_int(
                        F.concat(F.col("l_partkey").cast("string"), F.lit(f"-{j}")),
                        1,
                        6,
                    )
                    % _CM_W
                    for j in range(_CM_D)
                ]
            )
        ).alias("j", "cell")
    )
    return exploded.groupBy(
        F.col("j").cast("long").alias("j"), "cell"
    ).agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "attribution_last_touch",
    oracle=f"""
WITH ev AS (
  SELECT user_id, event_id, ts, event_type, value
  FROM events WHERE event_type IN ('click', 'purchase')
),
w AS (
  SELECT user_id, ts, event_type, value,
         MAX(CASE WHEN event_type = 'click' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_click
  FROM ev
)
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       COUNT(*) AS purchases,
       CAST(SUM(CASE WHEN last_click IS NOT NULL
                      AND epoch_us(ts) - epoch_us(last_click)
                          <= 604800000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS attributed,
       CAST(SUM(CASE WHEN last_click IS NOT NULL
                      AND epoch_us(ts) - epoch_us(last_click)
                          <= 604800000000
                     THEN {grid_sql('value', 6)}
                     ELSE 0 END) AS DOUBLE) / 1000000.0
         AS attributed_value
FROM w
WHERE event_type = 'purchase'
GROUP BY 1
""",
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: for every purchase, was there
    a click by the same user within the preceding 7 days, and how much
    purchase value does that channel get credit for, per day — the
    marketing-analytics workhorse next to `funnel_steps`.

    ONE window pass does the matching: a running MAX(click ts) over
    the user's (ts, event_id)-ordered history with a `1 PRECEDING`
    upper frame bound (a same-timestamp click never attributes its own
    purchase; the event_id tie-break makes the frame identical in both
    engines). No self-join of purchases against clicks — the classic
    formulation is a per-purchase correlated top-1 lookup; the window
    form shuffles each user's events once and carries one timestamp of
    state. Attributed value accumulates in exact micro-units.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    attributed = F.col("last_click").isNotNull() & (
        F.unix_micros("ts") - F.unix_micros("last_click") <= 604_800_000_000
    )
    return (
        ev.withColumn("last_click", last_click)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("purchases"),
            F.sum(attributed.cast("long")).alias("attributed"),
            (
                F.sum(
                    F.when(
                        attributed,
                        grid("value", 6),
                    ).otherwise(F.lit(0))
                ).cast("double")
                / F.lit(1e6)
            ).alias("attributed_value"),
        )
    )


@register(
    "gdpr_delete_audit",
    oracle="""
WITH del AS (SELECT c_custkey FROM customer WHERE c_acctbal < 0.0),
del_orders AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM del)
)
SELECT 'customer' AS table_name,
       CAST(SUM(CASE WHEN c_custkey IN (SELECT c_custkey FROM del)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_purge,
       CAST(SUM(CASE WHEN c_custkey IN (SELECT c_custkey FROM del)
                     THEN 0 ELSE 1 END) AS BIGINT) AS n_keep
FROM customer
UNION ALL
SELECT 'orders',
       CAST(SUM(CASE WHEN o_custkey IN (SELECT c_custkey FROM del)
                     THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN o_custkey IN (SELECT c_custkey FROM del)
                     THEN 0 ELSE 1 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'lineitem',
       CAST(SUM(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM del_orders)
                     THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM del_orders)
                     THEN 0 ELSE 1 END) AS BIGINT)
FROM lineitem
""",
)
def gdpr_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten audit: given a deletion list (customers
    flagged for erasure), how many rows each table would purge vs keep
    — INCLUDING the cascade (lineitem rows reached only through the
    deleted customers' orders). The dry-run every GDPR/CCPA purge
    pipeline executes before the destructive MERGE DELETE.

    Plan: the deletion list broadcasts everywhere; each fact is scanned
    ONCE with the membership test as a conditional-sum pair (never a
    purge-side and keep-side scan each); the cascade derives the doomed
    order list as a semi-join aggregate that itself broadcasts into
    lineitem. At 100 TB the output stays 3 rows however large the
    tables — and the same joins, flipped to anti, ARE the purge.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    delete = c.filter(F.col("c_acctbal") < 0.0).select("c_custkey")

    def audit(df: DataFrame, key, del_keys: DataFrame, name: str) -> DataFrame:
        dk = del_keys.withColumnRenamed(del_keys.columns[0], "__del_key")
        flagged = df.join(
            F.broadcast(dk), key == F.col("__del_key"), "left"
        ).select(F.col("__del_key").isNotNull().cast("long").alias("doomed"))
        return flagged.agg(
            F.lit(name).alias("table_name"),
            F.sum("doomed").alias("n_purge"),
            F.sum(F.lit(1) - F.col("doomed")).alias("n_keep"),
        ).select("table_name", "n_purge", "n_keep")

    del_orders = o.join(
        F.broadcast(delete), o.o_custkey == delete.c_custkey, "left_semi"
    ).select("o_orderkey")
    return (
        audit(c, F.col("c_custkey"), delete, "customer")
        .unionAll(audit(o, F.col("o_custkey"), delete, "orders"))
        .unionAll(audit(li, F.col("l_orderkey"), del_orders, "lineitem"))
    )


@register(
    "cdc_apply_changelog",
    oracle="""
WITH log AS (
  SELECT user_id, ts, event_id, value,
         CASE event_type WHEN 'error' THEN 'D'
                         WHEN 'signup' THEN 'I'
                         ELSE 'U' END AS op
  FROM events
),
ranked AS (
  SELECT user_id, op, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_changes
  FROM log
)
SELECT user_id, value AS latest_value, n_changes
FROM ranked
WHERE rn = 1 AND op <> 'D'
""",
)
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction: collapse a change-data-capture stream
    (insert/update/delete ops per key, here derived from the event
    log) to the latest surviving state — last write wins by (ts,
    event_id); keys whose LAST op is a delete vanish from the
    snapshot. This is the read-side half of every CDC-fed lakehouse
    table (`merge_upsert` is the write-side half; `scd2_history`
    keeps the trail instead of compacting it).

    One window over the key partitioning does everything: latest-row
    rank and change count share the same shuffle. At 100 TB compaction
    runs per partition of the changelog and only the rn=1 rows ever
    leave the exchange (WindowGroupLimit prunes below it).
    """
    ev = load_table(spark, sf_dir, "events")
    log = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U")
        .alias("op"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    wc = Window.partitionBy("user_id")
    return (
        log.withColumn("rn", F.row_number().over(w))
        .withColumn("n_changes", F.count(F.lit(1)).over(wc))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "user_id",
            F.col("value").alias("latest_value"),
            "n_changes",
        )
    )


@register(
    "funnel_time_to_convert",
    oracle="""
WITH ev AS (
  SELECT user_id, event_id, ts, event_type
  FROM events WHERE event_type IN ('click', 'purchase')
),
w AS (
  SELECT user_id, ts, event_type,
         MAX(CASE WHEN event_type = 'click' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_click
  FROM ev
),
lags AS (
  SELECT (epoch_us(ts) - epoch_us(last_click)) // 1000000 AS lag_s
  FROM w
  WHERE event_type = 'purchase' AND last_click IS NOT NULL
    AND epoch_us(ts) - epoch_us(last_click) <= 604800000000
)
SELECT COUNT(*) AS n_conversions,
       CAST(quantile_disc(lag_s, 0.25) AS BIGINT) AS p25_s,
       CAST(quantile_disc(lag_s, 0.5) AS BIGINT) AS p50_s,
       CAST(quantile_disc(lag_s, 0.75) AS BIGINT) AS p75_s,
       CAST(MAX(lag_s) AS BIGINT) AS max_s
FROM lags
""",
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for every attributed conversion
    (click → purchase within 7 days, the `attribution_last_touch`
    matching), the quartiles of the click-to-purchase delay — the
    latency histogram that tells you whether the funnel converts in
    minutes or days, which drives attribution-window and retargeting
    choices.

    The matching is the same single running-MAX window pass; the lag
    quantiles are DISCRETE (exact order statistics on integer seconds
    — `percentile_approx`-free and engine-exact, the
    `agg_percentile_disc` discipline), so the whole five-number
    summary hash-matches. At 100 TB the lags stream shuffles once for
    the global exact quantile; swap in the sketch for a
    one-partial-per-mapper plan when exactness stops mattering.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    lag_us = F.unix_micros("ts") - F.unix_micros("last_click")
    lags = (
        ev.withColumn("last_click", last_click)
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("last_click").isNotNull()
            & (lag_us <= 604_800_000_000)
        )
        .select(F.floor(lag_us / F.lit(1_000_000)).alias("lag_s"))
    )
    q = lambda p: F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY lag_s)")
    return lags.agg(
        F.count(F.lit(1)).alias("n_conversions"),
        q(0.25).cast("long").alias("p25_s"),
        q(0.5).cast("long").alias("p50_s"),
        q(0.75).cast("long").alias("p75_s"),
        F.max("lag_s").cast("long").alias("max_s"),
    )


@register(
    "session_bounce_rate",
    oracle=f"""
WITH {session_starts_sql("event_id")},
y AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM x
),
sess AS (
  SELECT user_id, sid, MIN(ts) AS session_start, COUNT(*) AS n_events
  FROM y GROUP BY user_id, sid
)
SELECT CAST(date_trunc('day', session_start) AS DATE) AS day,
       COUNT(*) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS bounce_rate
FROM sess
GROUP BY 1
""",
)
def session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: the share of sessions (30-minute gap) that
    contain exactly one event — the canonical engagement KPI, sitting
    on top of the same sessionization kernel as `sessionize_batch` /
    `path_common_sequences`.

    One user-key shuffle does the sessionization (lag + running sum
    share the ordering), the per-session rollup rides the same key,
    and the daily rollup is a tiny date-keyed aggregate; bounce
    classification is an integer equality, the rate an exact count
    ratio.
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
    y = ev.select("user_id", "ts", "event_id", new_s.alias("new_s")).withColumn(
        "sid",
        F.sum("new_s").over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sess = y.groupBy("user_id", "sid").agg(
        F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n_events")
    )
    bounce = (F.col("n_events") == 1).cast("long")
    return (
        sess.groupBy(F.col("session_start").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(bounce).alias("n_bounces"),
            (F.sum(bounce).cast("double") / F.count(F.lit(1))).alias(
                "bounce_rate"
            ),
        )
    )


@register(
    "dq_uniqueness_audit",
    oracle="""
SELECT 'customer.c_custkey' AS key_col,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT c_custkey) AS n_distinct,
       CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT) AS n_dup_rows
FROM customer
UNION ALL
SELECT 'orders.o_orderkey', COUNT(*), COUNT(DISTINCT o_orderkey),
       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
FROM orders
UNION ALL
SELECT 'lineitem.(l_orderkey,l_linenumber)', COUNT(*),
       COUNT(DISTINCT l_orderkey * 16 + l_linenumber),
       CAST(COUNT(*) - COUNT(DISTINCT l_orderkey * 16 + l_linenumber)
            AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'events.event_id', COUNT(*), COUNT(DISTINCT event_id),
       CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT)
FROM events
""",
)
def dq_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit: rows vs distinct keys per declared
    key (including the composite lineitem key, packed into one long so
    the distinct runs on a single column) — with
    `dq_referential_integrity` this completes the constraint checks
    parquet can't enforce; duplicate keys are how double-loads and
    at-least-once ingestion manifest.

    One COUNT(DISTINCT) aggregation per table — Spark's two-level
    distinct expansion keyed on the key column; the composite pack is
    exact (l_linenumber < 16).
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")

    def audit(df, key_col, name):
        return df.agg(
            F.lit(name).alias("key_col"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(key_col).alias("n_distinct"),
            (F.count(F.lit(1)) - F.countDistinct(key_col)).alias("n_dup_rows"),
        ).select("key_col", "n_rows", "n_distinct", "n_dup_rows")

    return (
        audit(c, F.col("c_custkey"), "customer.c_custkey")
        .unionAll(audit(o, F.col("o_orderkey"), "orders.o_orderkey"))
        .unionAll(
            audit(
                li,
                F.col("l_orderkey") * 16 + F.col("l_linenumber"),
                "lineitem.(l_orderkey,l_linenumber)",
            )
        )
        .unionAll(audit(ev, F.col("event_id"), "events.event_id"))
    )


@register(
    "attribution_linear",
    oracle="""
WITH clicks AS (
  SELECT user_id, event_id AS cid, ts AS cts
  FROM events WHERE event_type = 'click'
),
buys AS (
  SELECT user_id, event_id AS bid, ts AS bts
  FROM events WHERE event_type = 'purchase'
),
pairs AS (
  SELECT c.user_id, c.cid, c.cts, b.bid
  FROM clicks c JOIN buys b
    ON c.user_id = b.user_id
   AND c.cts < b.bts
   AND epoch_us(b.bts) - epoch_us(c.cts) <= 604800000000
),
per_buy AS (SELECT bid, COUNT(*) AS n FROM pairs GROUP BY bid),
credit AS (
  SELECT p.user_id, p.cts, 1000000 // nb.n AS credit_micro
  FROM pairs p JOIN per_buy nb ON p.bid = nb.bid
)
SELECT CAST(date_trunc('day', cts) AS DATE) AS day,
       COUNT(*) AS n_credited_clicks,
       CAST(SUM(credit_micro) AS DOUBLE) / 1000000.0 AS linear_credit
FROM credit
GROUP BY 1
""",
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution — the counterpart to
    `attribution_last_touch`: each purchase splits one unit of credit
    equally across ALL of that user's clicks in the prior 7 days, and
    the report rolls credit up by CLICK day (which channel-day earned
    it). Last-touch over-rewards the final touch; linear is the other
    standard model, and needs the full click↔purchase pairing, not
    just a running max.

    The pairing is a user-keyed equi join with the time window as a
    residual predicate — each user's events co-locate in one hash
    bucket, so the quadratic blow-up is bounded per user (add a
    time-bucket to the key for power users at 100 TB). Credit splits
    as integer micro-units (``1000000 div n``) so the per-day sums are
    exact longs — the deliberate sub-ppm rounding loss per purchase is
    the price of engine-exact totals.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("cid"), F.col("ts").alias("cts")
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("bid"),
        F.col("ts").alias("bts"),
    )
    pairs = clicks.join(
        buys,
        (F.col("user_id") == F.col("b_user"))
        & (F.col("cts") < F.col("bts"))
        & (
            F.unix_micros("bts") - F.unix_micros("cts")
            <= 604_800_000_000
        ),
    ).select("user_id", "cid", "cts", "bid")
    per_buy = pairs.groupBy("bid").agg(F.count(F.lit(1)).alias("n"))
    credit = pairs.join(per_buy, "bid").select(
        "cts", F.expr("1000000 div n").alias("credit_micro")
    )
    return credit.groupBy(F.col("cts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n_credited_clicks"),
        (F.sum("credit_micro").cast("double") / F.lit(1e6)).alias(
            "linear_credit"
        ),
    )


@register(
    "basket_apriori_triples",
    oracle=f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
fp AS (
  SELECT a.l_partkey AS x, b.l_partkey AS y
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
)
SELECT t.x, t.y, t.z, COUNT(*) AS support
FROM (
  -- candidate generation FROM the frequent-pair table (the same
  -- downward-closure order the Spark plan uses): enumerate-all-
  -- triples-then-EXISTS planned as an hour-scale scan at sf1 in
  -- DuckDB (round-12 sf1 gate finding, 384s at sf0.1 vs 1.4s for
  -- this form); identical result set, fp-first join order
  SELECT a.l_orderkey, f.x, f.y, c.l_partkey AS z
  FROM fp f
  JOIN items a ON a.l_partkey = f.x
  JOIN items b ON b.l_orderkey = a.l_orderkey AND b.l_partkey = f.y
  JOIN items c ON c.l_orderkey = a.l_orderkey AND c.l_partkey > f.y
  JOIN fp f2 ON f2.x = f.x AND f2.y = c.l_partkey
  JOIN fp f3 ON f3.x = f.y AND f3.y = c.l_partkey
) t
GROUP BY t.x, t.y, t.z
HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
""",
)
def basket_apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent triples with the A-PRIORI prune (Agrawal–Srikant): a
    triple can only be frequent if all three of its pairs are, so the
    enumerated (order, x, y, z) stream is filtered against the
    frequent-pair set BEFORE the counting aggregate — the downward-
    closure step that keeps level-3 candidate space proportional to
    the frequent level-2 output instead of basket-size-cubed.

    Plan: the triple fan-out is keyed on the order id (bounded by
    basket size³ per order, never global), the three pair-membership
    checks are LEFT SEMI joins against the broadcast frequent-pair
    table, and the final count groups the survivors. At 100 TB the
    frequent-pair table is the thing that must stay broadcastable —
    when it doesn't, bucket both sides by the leading item (the
    standard FP-growth handoff point). Note the result THINS as the
    part universe grows at fixed basket size (support-2 triples exist
    at sf0.01, none survive at sf0.1) — that long-tail sparsity is
    exactly why the a-priori prune exists; an empty level-3 is a
    correct answer, not a degenerate threshold (contrast the q11
    lesson, where the cut itself was scale-dependent).
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b, c = items.alias("a"), items.alias("b"), items.alias("c")
    fp = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("x"), F.col("b.l_partkey").alias("y")
        )
        .agg(F.count(F.lit(1)).alias("s"))
        .filter(F.col("s") >= _BASKET_MIN_SUPPORT)
        .select("x", "y")
    )
    triples = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .join(
            c,
            (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("b.l_partkey") < F.col("c.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("x"),
            F.col("b.l_partkey").alias("y"),
            F.col("c.l_partkey").alias("z"),
        )
    )
    fp_xy = fp
    fp_xz = fp.select(F.col("x").alias("fx"), F.col("y").alias("fz"))
    fp_yz = fp.select(F.col("x").alias("gy"), F.col("y").alias("gz"))
    pruned = (
        triples.join(F.broadcast(fp_xy), ["x", "y"], "left_semi")
        .join(
            F.broadcast(fp_xz),
            (F.col("x") == F.col("fx")) & (F.col("z") == F.col("fz")),
            "left_semi",
        )
        .join(
            F.broadcast(fp_yz),
            (F.col("y") == F.col("gy")) & (F.col("z") == F.col("gz")),
            "left_semi",
        )
    )
    return (
        pruned.groupBy("x", "y", "z")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= _BASKET_MIN_SUPPORT)
    )


@register(
    "basket_rules_confidence",
    oracle=f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
nb AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM items),
sup1 AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS s FROM items
  GROUP BY l_partkey
),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
         CAST(COUNT(*) AS BIGINT) AS s_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
),
rules AS (
  SELECT pa AS antecedent, pb AS consequent, s_ab, sa.s AS s_ant,
         sb.s AS s_con
  FROM pairs JOIN sup1 sa ON sa.l_partkey = pa
             JOIN sup1 sb ON sb.l_partkey = pb
  UNION ALL
  SELECT pb, pa, s_ab, sb.s, sa.s
  FROM pairs JOIN sup1 sa ON sa.l_partkey = pa
             JOIN sup1 sb ON sb.l_partkey = pb
)
SELECT antecedent, consequent, s_ab AS support,
       CAST(s_ab AS DOUBLE) / s_ant AS confidence,
       CAST(s_ab AS DOUBLE) * n / (CAST(s_ant AS DOUBLE) * s_con) AS lift
FROM rules CROSS JOIN nb
WHERE 2 * s_ab >= s_ant
""",
)
def basket_rules_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules from the frequent pairs: every surviving pair
    yields the two directed rules a→b and b→a with confidence
    P(b|a) = s(a,b)/s(a) and lift P(a,b)/(P(a)P(b)) — the metric layer
    the a-priori ladder exists for (`basket_item_pairs` mines the
    pairs, `basket_apriori_triples` the next level). Rules are kept
    when confidence ≥ 0.5, expressed as the INTEGER test 2·s_ab ≥
    s_ant so the cut can't sit on a float boundary.

    Plan: pair support re-derived by the bounded per-order self-join,
    single-item supports as one aggregate (broadcast back onto the
    pair table — item supports are dimension-sized), the basket count
    a 1-row broadcast. Confidence/lift are exact-integer ratios —
    identical doubles both engines. At 100 TB the single-item support
    table also feeds the a-priori prefilter so rare items never enter
    the pair join (the `basket_item_pairs` scale note).
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    nb = items.agg(F.countDistinct("l_orderkey").alias("n"))
    sup1 = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("s"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count(F.lit(1)).alias("s_ab"))
        .filter(F.col("s_ab") >= _BASKET_MIN_SUPPORT)
    )
    sa = sup1.select(F.col("l_partkey").alias("pa"), F.col("s").alias("sa"))
    sb = sup1.select(F.col("l_partkey").alias("pb"), F.col("s").alias("sb"))
    base = pairs.join(sa, "pa").join(sb, "pb")
    fwd = base.select(
        F.col("pa").alias("antecedent"),
        F.col("pb").alias("consequent"),
        "s_ab",
        F.col("sa").alias("s_ant"),
        F.col("sb").alias("s_con"),
    )
    rev = base.select(
        F.col("pb").alias("antecedent"),
        F.col("pa").alias("consequent"),
        "s_ab",
        F.col("sb").alias("s_ant"),
        F.col("sa").alias("s_con"),
    )
    rules = fwd.unionAll(rev)
    return (
        rules.crossJoin(F.broadcast(nb))
        .where(F.lit(2) * F.col("s_ab") >= F.col("s_ant"))
        .select(
            "antecedent",
            "consequent",
            F.col("s_ab").alias("support"),
            (F.col("s_ab").cast("double") / F.col("s_ant")).alias(
                "confidence"
            ),
            (
                F.col("s_ab").cast("double")
                * F.col("n")
                / (F.col("s_ant").cast("double") * F.col("s_con"))
            ).alias("lift"),
        )
    )


@register(
    "retention_decay_fit",
    oracle=f"""
WITH act AS (
  SELECT user_id,
         CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP)) / 604800.0) AS BIGINT)
           AS week
  FROM events
  GROUP BY 1, 2 HAVING COUNT(*) >= 12
),
first_w AS (
  SELECT user_id, MIN(week) AS w0 FROM act GROUP BY user_id
),
ret AS (
  SELECT a.week - f.w0 AS offset_w,
         CAST(COUNT(*) AS BIGINT) AS n_active
  FROM act a JOIN first_w f USING (user_id)
  GROUP BY a.week - f.w0
),
base AS (SELECT CAST(n_active AS BIGINT) AS n0 FROM ret WHERE offset_w = 0),
pts AS (
  SELECT offset_w AS x,
         {grid_sql('ln(CAST(n_active AS DOUBLE) / n0)', 9)} AS yg
  FROM ret CROSS JOIN base
  WHERE offset_w >= 1 AND n_active > 0
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(yg) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * yg) AS BIGINT) AS sxy
  FROM pts
)
SELECT n AS n_points,
       (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
       / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
       / 1000000000.0 AS decay_rate,
       CASE WHEN sxy * n = sx * sy THEN NULL
            ELSE -0.6931471805599453
                 / ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                    / (CAST(n AS DOUBLE) * sxx
                       - CAST(sx AS DOUBLE) * sx)
                    / 1000000000.0) END AS half_life_weeks
FROM s
""",
)
def retention_decay_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential retention-decay fit: pooled weekly retention
    (users with a SUBSTANTIAL week — ≥ 12 events — at week-offset o,
    as a fraction of the week-0 base; the engagement threshold is what
    makes the fixture's always-on users show churn) is log-linearized and the decay rate fit by closed-form
    OLS — the model layer on top of `retention_cohorts`' triangle
    (the triangle shows the curve; this compresses it to the two
    numbers a growth team quotes: decay rate and half-life,
    -ln2/rate, with ln 2 as a shared literal so no engine evaluates
    it).

    Everything is the established algebra: the activity distinct and
    first-week aggregation share the user key, per-offset log rates
    land on a 1e-9 grid, and the OLS slope is the exact-long
    `stat_corr_matrix` form. The fit runs over |offsets| points —
    driver-scale after one data-sized pass.
    """
    ev = load_table(spark, sf_dir, "events")
    act = (
        ev.groupBy(
            "user_id",
            F.floor(
                F.unix_timestamp(F.col("ts").cast("timestamp"))
                / F.lit(604800.0)
            )
            .cast("long")
            .alias("week"),
        )
        .agg(F.count(F.lit(1)).alias("n_ev"))
        .where(F.col("n_ev") >= 12)
        .select("user_id", "week")
    )
    first_w = act.groupBy("user_id").agg(F.min("week").alias("w0"))
    ret = (
        act.join(first_w, "user_id")
        .groupBy((F.col("week") - F.col("w0")).alias("offset_w"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    base = ret.where(F.col("offset_w") == 0).select(
        F.col("n_active").alias("n0")
    )
    pts = (
        ret.crossJoin(F.broadcast(base))
        .where((F.col("offset_w") >= 1) & (F.col("n_active") > 0))
        .select(
            F.col("offset_w").alias("x"),
            grid(F.log(F.col("n_active").cast("double") / F.col("n0")), 9).alias("yg"),
        )
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("yg").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("yg")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    slope = (
        (n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
        / (n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        / F.lit(1e9)
    )
    return s.select(
        F.col("n").alias("n_points"),
        slope.alias("decay_rate"),
        F.when(
            F.col("sxy") * F.col("n") != F.col("sx") * F.col("sy"),
            F.lit(-0.6931471805599453) / slope,
        ).alias("half_life_weeks"),
    )


@register(
    "events_stickiness_dau_mau",
    oracle="""
WITH dau AS (
  SELECT strftime(CAST(ts AS DATE), '%Y-%m') AS month,
         CAST(ts AS DATE) AS day,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
  FROM events GROUP BY 1, 2
),
mau AS (
  SELECT strftime(CAST(ts AS DATE), '%Y-%m') AS month,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
  FROM events GROUP BY 1
),
d AS (
  SELECT month, CAST(SUM(dau) AS BIGINT) AS dau_sum,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM dau GROUP BY month
)
SELECT d.month, d.n_days, mau.mau,
       CAST(d.dau_sum AS DOUBLE) / d.n_days AS avg_dau,
       CAST(d.dau_sum AS DOUBLE) / d.n_days / mau.mau AS stickiness
FROM d JOIN mau USING (month)
""",
)
def events_stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month — the engagement ratio product
    teams quote (1.0 = every monthly user shows up daily; ~0.2 is a
    weekly-habit product): average daily distinct users over monthly
    distinct users. Two distinct-count aggregations at different
    grains over the same scan (day-level first, month-level
    independently — NOT a re-aggregate, since distinct users don't
    sum across days; that non-mergeability is exactly why the metric
    needs both passes, or an `agg_hll_sketch` rollup at 100 TB where
    two exact distinct passes are too dear).

    All counts exact; the ratio is an exact-operand division. The
    month key is formatted identically in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    month = F.date_format(F.col("ts").cast("date"), "yyyy-MM")
    dau = ev.groupBy(
        month.alias("month"), F.col("ts").cast("date").alias("day")
    ).agg(F.countDistinct("user_id").alias("dau"))
    mau = ev.groupBy(month.alias("month")).agg(
        F.countDistinct("user_id").alias("mau")
    )
    d = dau.groupBy("month").agg(
        F.sum("dau").alias("dau_sum"), F.count(F.lit(1)).alias("n_days")
    )
    return d.join(mau, "month").select(
        "month",
        "n_days",
        "mau",
        (F.col("dau_sum").cast("double") / F.col("n_days")).alias(
            "avg_dau"
        ),
        (
            F.col("dau_sum").cast("double")
            / F.col("n_days")
            / F.col("mau")
        ).alias("stickiness"),
    )


#: interval-merge geometry: each order holds its customer "active" for
#: 30 days; overlapping/touching windows coalesce into activity islands.
_MERGE_SPAN_DAYS = 30


@register(
    "interval_merge",
    oracle=f"""
WITH iv AS (
  SELECT o_custkey,
         CAST(o_orderdate AS DATE) AS s,
         CAST(o_orderdate AS DATE) + {_MERGE_SPAN_DAYS} AS e
  FROM orders
),
flagged AS (
  SELECT o_custkey, s, e,
         CASE WHEN s <= MAX(e) OVER (PARTITION BY o_custkey ORDER BY s, e
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING)
              THEN 0 ELSE 1 END AS new_island
  FROM iv
),
islands AS (
  SELECT o_custkey, s, e,
         CAST(SUM(new_island) OVER (PARTITION BY o_custkey ORDER BY s, e
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS island_id
  FROM flagged
)
SELECT o_custkey, island_id,
       MIN(s) AS island_start, MAX(e) AS island_end,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM islands GROUP BY o_custkey, island_id
""",
)
def interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing (gaps-and-islands MERGE): collapse each
    customer's overlapping 30-day activity windows into maximal
    contiguous islands — the classic normalization behind "continuous
    subscription periods", uptime stitching, and session coverage
    (`interval_open_count` is the sweep-COUNTING sibling; this one
    rewrites the intervals themselves).

    The standard two-window derivation: an interval starts a new island
    iff it begins after the running max end of all earlier intervals
    (strictly — touching windows merge); the island id is then the
    running sum of those flags, and one grouped aggregate emits each
    island's span. Both windows share the (custkey, start, end) sort —
    one exchange, one sort, island count exact. Dates stay dates (no
    float anywhere). At 100 TB the partition key is the entity — high
    cardinality, the shape that scales; the NULL first-row case falls
    out of the frame (empty running max ⇒ new_island = 1).
    """
    o = load_table(spark, sf_dir, "orders")
    iv = o.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(F.col("o_orderdate").cast("date"), _MERGE_SPAN_DAYS).alias(
            "e"
        ),
    )
    prev = (
        Window.partitionBy("o_custkey")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "o_custkey",
        "s",
        "e",
        F.when(F.col("s") <= F.max("e").over(prev), 0).otherwise(1).alias(
            "new_island"
        ),
    )
    run = (
        Window.partitionBy("o_custkey")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = flagged.select(
        "o_custkey",
        "s",
        "e",
        F.sum("new_island").over(run).alias("island_id"),
    )
    return islands.groupBy("o_custkey", "island_id").agg(
        F.min("s").alias("island_start"),
        F.max("e").alias("island_end"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "mv_join_maintenance",
    oracle="""
WITH d_o AS (SELECT * FROM orders WHERE o_orderkey % 97 = 0),
o_old AS (SELECT * FROM orders WHERE o_orderkey % 97 <> 0),
d_c AS (SELECT * FROM customer WHERE c_custkey % 89 = 0),
c_old AS (SELECT * FROM customer WHERE c_custkey % 89 <> 0),
t1 AS (
  SELECT COUNT(*) AS n, CAST(COALESCE(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)), 0) AS BIGINT) AS cents
  FROM d_o JOIN c_old ON o_custkey = c_custkey
),
t2 AS (
  SELECT COUNT(*) AS n, CAST(COALESCE(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)), 0) AS BIGINT) AS cents
  FROM o_old JOIN d_c ON o_custkey = c_custkey
),
t3 AS (
  SELECT COUNT(*) AS n, CAST(COALESCE(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)), 0) AS BIGINT) AS cents
  FROM d_o JOIN d_c ON o_custkey = c_custkey
),
full_v AS (
  SELECT COUNT(*) AS n, CAST(COALESCE(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)), 0) AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
),
old_v AS (
  SELECT COUNT(*) AS n, CAST(COALESCE(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)), 0) AS BIGINT) AS cents
  FROM o_old JOIN c_old ON o_custkey = c_custkey
)
SELECT 'delta_orders_x_old_dim' AS term, n, cents FROM t1
UNION ALL SELECT 'old_facts_x_delta_dim', n, cents FROM t2
UNION ALL SELECT 'delta_x_delta', n, cents FROM t3
UNION ALL SELECT 'audit_full_minus_old',
       (SELECT n FROM full_v) - (SELECT n FROM old_v),
       CAST((SELECT cents FROM full_v) - (SELECT cents FROM old_v) AS BIGINT)
ORDER BY term
""",
)
def mv_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a join materialized view — the delta
    algebra Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB, the join sibling of
    `agg_incremental_maintenance`'s monoid rollups and the reason a
    100-TB view refresh touches the deltas, never the view: ΔA⋈B
    reuses B's existing partitioning, A⋈ΔB broadcasts the (small)
    dimension delta against the fact scan, and ΔA⋈ΔB is tiny×tiny.

    Deltas are deterministic key-residue slices (orders %97, customers
    %89 — ~1% and ~1.1% batches). Each term reports row count and an
    exact-cent checksum, and a fourth AUDIT row computes
    |V_full| − |V_old| directly — the maintenance algebra is correct
    iff the three delta terms sum to it exactly, which the oracle hash
    certifies cell-by-cell (the audit joins exist only in this demo;
    production refreshes ship the three delta terms alone).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    d_o = o.filter(F.col("o_orderkey") % 97 == 0)
    o_old = o.filter(F.col("o_orderkey") % 97 != 0)
    d_c = c.filter(F.col("c_custkey") % 89 == 0)
    c_old = c.filter(F.col("c_custkey") % 89 != 0)

    def term(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(cents), F.lit(0).cast("long")).alias("cents"),
        ).select(F.lit(name).alias("term"), "n", "cents")

    j = lambda a, b: a.join(F.broadcast(b), a.o_custkey == b.c_custkey)  # noqa: E731
    t1 = term("delta_orders_x_old_dim", j(d_o, c_old))
    t2 = term("old_facts_x_delta_dim", j(o_old, d_c))
    t3 = term("delta_x_delta", j(d_o, d_c))
    full_v = j(o, c).agg(
        F.count(F.lit(1)).alias("fn"), F.sum(cents).alias("fc")
    )
    old_v = j(o_old, c_old).agg(
        F.count(F.lit(1)).alias("on"), F.sum(cents).alias("oc")
    )
    audit = (
        full_v.crossJoin(F.broadcast(old_v))
        .select(
            F.lit("audit_full_minus_old").alias("term"),
            (F.col("fn") - F.col("on")).alias("n"),
            (F.col("fc") - F.col("oc")).alias("cents"),
        )
    )
    return t1.unionAll(t2).unionAll(t3).unionAll(audit).orderBy("term")


@register(
    "funnel_unordered",
    oracle="""
WITH p AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS tv,
         MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS tc,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp
  FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
  GROUP BY user_id
),
c AS (
  SELECT GREATEST(tv, tc, tp) - LEAST(tv, tc, tp) AS span_us
  FROM p WHERE tv IS NOT NULL AND tc IS NOT NULL AND tp IS NOT NULL
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_completed,
       CAST(SUM(CASE WHEN span_us <= 86400000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_within_24h,
       ROUND(CAST(CAST(SUM(span_us) AS BIGINT) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 60000000.0, 4) AS avg_span_min
FROM c
""",
)
def funnel_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered set-completion funnel: a user converts when they have
    done ALL of {view, click, purchase}, in ANY order — the
    checklist-completion metric (onboarding steps, feature adoption)
    that `funnel_steps`' strictly-ordered semantics can't express,
    with completion span = latest-first-touch − earliest-first-touch.

    One conditional-MIN aggregate per user is the whole distributed
    plan (map-side combinable; the per-step first-touch micros ride a
    single groupBy — no per-step join, no window), then a 1-row rollup
    counts completers, 24-hour completers, and the mean span. Spans
    are exact integer microseconds (`unix_micros`/`epoch_us`, the
    ts_order_gaps convention, immune to the events NTZ pitfall); the
    mean divides two exact longs. The total-users scalar rides back
    via a 1-row broadcast cross join.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    us = F.unix_micros(F.col("ts"))
    p = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("tv"),
        F.min(F.when(F.col("event_type") == "click", us)).alias("tc"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("tp"),
    )
    total = p.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    c = p.filter(
        F.col("tv").isNotNull() & F.col("tc").isNotNull() & F.col("tp").isNotNull()
    ).select(
        (
            F.greatest("tv", "tc", "tp") - F.least("tv", "tc", "tp")
        ).alias("span_us")
    )
    agg = c.agg(
        F.count(F.lit(1)).cast("long").alias("n_completed"),
        F.sum(F.when(F.col("span_us") <= 86_400_000_000, 1).otherwise(0))
        .cast("long")
        .alias("n_within_24h"),
        F.round(
            F.sum("span_us").cast("long").cast("double")
            / F.count(F.lit(1)).cast("double") / F.lit(60000000.0),
            4,
        ).alias("avg_span_min"),
    )
    return F.broadcast(total).crossJoin(agg).select(
        "n_users", "n_completed", "n_within_24h", "avg_span_min"
    )


#: interval_allen_relations: each order opens a fixed activity window.
_ALLEN_SPAN_DAYS = 7


@register(
    "interval_allen_relations",
    oracle=f"""
WITH iv AS (
  SELECT o_custkey,
         CAST(o_orderdate AS DATE) AS s,
         CAST(o_orderdate AS DATE) + {_ALLEN_SPAN_DAYS} AS e,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
           AS rn
  FROM orders
),
pairs AS (
  SELECT s AS s1, e AS e1,
         LEAD(s) OVER (PARTITION BY o_custkey ORDER BY rn) AS s2,
         LEAD(e) OVER (PARTITION BY o_custkey ORDER BY rn) AS e2
  FROM iv
  QUALIFY s2 IS NOT NULL
),
classified AS (
  SELECT CASE
           WHEN e1 < s2  THEN 'precedes'
           WHEN e1 = s2  THEN 'meets'
           WHEN s1 = s2 AND e1 = e2 THEN 'equals'
           WHEN s1 = s2 AND e1 < e2 THEN 'starts'
           WHEN s1 = s2 AND e1 > e2 THEN 'started_by'
           WHEN e1 = e2 AND s1 < s2 THEN 'finished_by'
           WHEN e1 = e2 AND s1 > s2 THEN 'finishes'
           WHEN s1 < s2 AND e1 > e2 THEN 'contains'
           WHEN s1 > s2 AND e1 < e2 THEN 'during'
           WHEN s1 < s2 AND e1 > s2 AND e1 < e2 THEN 'overlaps'
           WHEN s1 > s2 AND s1 < e2 AND e1 > e2 THEN 'overlapped_by'
           WHEN s1 = e2 THEN 'met_by'
           ELSE 'preceded_by'
         END AS relation
  FROM pairs
)
SELECT relation, CAST(COUNT(*) AS BIGINT) AS n
FROM classified
GROUP BY relation
ORDER BY n DESC, relation
""",
)
def interval_allen_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen's interval algebra over consecutive per-customer activity
    windows: each order opens a 7-day interval, and every consecutive
    pair is classified into one of Allen's 13 temporal relations
    (precedes/meets/overlaps/starts/during/finishes + inverses +
    equals) — the vocabulary temporal reasoning, conflict detection
    and SCD-validity audits are written in, which no engine ships as a
    built-in. The CASE ladder is evaluated in the same order in both
    engines over exact DATE comparisons, so classification is
    bit-deterministic.

    Consecutive pairing is ONE per-customer lead() window — a single
    shuffle on custkey, no self-join, no range join, no cartesian. At
    100 TB this is one pass over the sorted-within-partition order
    stream; the 13-way aggregate is map-side-combinable onto 13 rows.
    """
    od = load_table(spark, sf_dir, "orders")
    wv = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").cast("date"), "o_orderkey"
    )
    iv = od.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(F.col("o_orderdate").cast("date"), _ALLEN_SPAN_DAYS).alias(
            "e"
        ),
        F.row_number().over(wv).alias("rn"),
    )
    wl = Window.partitionBy("o_custkey").orderBy("rn")
    pairs = iv.select(
        F.col("s").alias("s1"),
        F.col("e").alias("e1"),
        F.lead("s").over(wl).alias("s2"),
        F.lead("e").over(wl).alias("e2"),
    ).where(F.col("s2").isNotNull())
    s1, e1, s2, e2 = (F.col(c) for c in ("s1", "e1", "s2", "e2"))
    relation = (
        F.when(e1 < s2, "precedes")
        .when(e1 == s2, "meets")
        .when((s1 == s2) & (e1 == e2), "equals")
        .when((s1 == s2) & (e1 < e2), "starts")
        .when((s1 == s2) & (e1 > e2), "started_by")
        .when((e1 == e2) & (s1 < s2), "finished_by")
        .when((e1 == e2) & (s1 > s2), "finishes")
        .when((s1 < s2) & (e1 > e2), "contains")
        .when((s1 > s2) & (e1 < e2), "during")
        .when((s1 < s2) & (e1 > s2) & (e1 < e2), "overlaps")
        .when((s1 > s2) & (s1 < e2) & (e1 > e2), "overlapped_by")
        .when(s1 == e2, "met_by")
        .otherwise("preceded_by")
    )
    return (
        pairs.select(relation.alias("relation"))
        .groupBy("relation")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "relation")
    )


#: agg_countmin_merge: probe-key stride (every partkey ≡ 1 mod 100 is
#: point-estimated from the merged sketch).
_CMM_PROBE_MOD = 100


@register(
    "agg_countmin_merge",
    oracle=f"""
WITH matrix AS (
  SELECT j,
         {md5_int_sql("CAST(l_partkey AS VARCHAR) || '-' || CAST(j AS VARCHAR)",
                      1, 6)} % {_CM_W} AS cell,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem, LATERAL unnest(generate_series(0, {_CM_D - 1})) t(j)
  GROUP BY 1, 2
),
probes AS (
  SELECT DISTINCT l_partkey AS k FROM lineitem
  WHERE l_partkey % {_CMM_PROBE_MOD} = 1
),
probe_cells AS (
  SELECT k, j,
         {md5_int_sql("CAST(k AS VARCHAR) || '-' || CAST(j AS VARCHAR)",
                      1, 6)} % {_CM_W} AS cell
  FROM probes, LATERAL unnest(generate_series(0, {_CM_D - 1})) t(j)
),
est AS (
  SELECT pc.k, CAST(MIN(m.cnt) AS BIGINT) AS cms_estimate
  FROM probe_cells pc JOIN matrix m USING (j, cell)
  GROUP BY pc.k
),
ex AS (
  SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS exact_cnt
  FROM lineitem WHERE l_partkey % {_CMM_PROBE_MOD} = 1
  GROUP BY l_partkey
)
SELECT ex.k AS probe_key, ex.exact_cnt, est.cms_estimate,
       est.cms_estimate - ex.exact_cnt AS overcount
FROM ex JOIN est ON ex.k = est.k
ORDER BY probe_key
""",
)
def agg_countmin_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch merge ACROSS A PARTITIONED SINK — the
    frequency-sketch leg of the persisted-sketch trilogy
    (`agg_kll_sketch_merge` quantiles, `agg_hll_sketch_merge` distinct
    counts): per-returnflag d x w counter matrices are WRITTEN to a
    flag-partitioned parquet sink, read back in a separate scan, and
    merged by cell-wise addition (CMS merge IS matrix addition — the
    property that makes it the 100-TB streaming-frequency workhorse:
    each partition job persists <= d*w counter rows once, any reader
    rolls up any union of partitions without rescanning data).

    Because the sketch's salted-md5 hash is engine-reproducible, the
    verification is EXACT, not a bound: every ~1%-stride probe key's
    point estimate min_j matrix[j][h_j(k)] off the MERGED matrix must
    hash-equal the DuckDB oracle's rebuild, alongside its exact count
    and overcount — a wrong merge, a lost partition, or a corrupted
    counter changes some estimate and fails the gate.
    """
    import os

    from ..sources.scans import _SCRATCH

    li = load_table(spark, sf_dir, "lineitem")
    exploded = li.select(
        "l_returnflag",
        F.posexplode(
            F.array(*[
                md5_int(F.concat(F.col("l_partkey").cast("string"), F.lit(f"-{j}")),
                        1, 6) % _CM_W
                for j in range(_CM_D)
            ])
        ).alias("j", "cell"),
    )
    per_mode = exploded.groupBy(
        "l_returnflag", F.col("j").cast("long").alias("j"), "cell"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    path = os.path.join(_SCRATCH, "cms_sketch_sink")
    per_mode.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)

    merged = (
        spark.read.parquet(path)
        .groupBy("j", "cell")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    probes = (
        li.where(F.col("l_partkey") % _CMM_PROBE_MOD == 1)
        .select(F.col("l_partkey").alias("k"))
        .distinct()
    )
    probe_cells = probes.select(
        "k",
        F.posexplode(
            F.array(*[
                md5_int(F.concat(F.col("k").cast("string"), F.lit(f"-{j}")), 1, 6)
                % _CM_W
                for j in range(_CM_D)
            ])
        ).alias("j", "cell"),
    ).select("k", F.col("j").cast("long").alias("j"), "cell")
    est = (
        probe_cells.join(merged, ["j", "cell"])
        .groupBy("k")
        .agg(F.min("cnt").cast("long").alias("cms_estimate"))
    )
    exact = (
        li.where(F.col("l_partkey") % _CMM_PROBE_MOD == 1)
        .groupBy(F.col("l_partkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
    )
    return (
        exact.join(est, "k")
        .select(
            F.col("k").alias("probe_key"),
            "exact_cnt",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_cnt")).alias("overcount"),
        )
        .orderBy("probe_key")
    )


@register(
    "cdc_apply_compact",
    oracle=f"""
WITH cdc AS (
  SELECT o_orderkey AS k, 1 AS lsn, 'U' AS op,
         {grid_sql('o_totalprice * 110.0', 0)} AS price_cents
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, 2, 'D', CAST(0 AS BIGINT)
  FROM orders WHERE o_orderkey % 21 = 0
  UNION ALL
  SELECT o_orderkey + 20000000, 1, 'I', CAST(100000 AS BIGINT)
  FROM orders WHERE o_orderkey % 1000 = 0
  UNION ALL
  SELECT o_orderkey + 20000000, 2, 'U', CAST(200000 AS BIGINT)
  FROM orders WHERE o_orderkey % 1000 = 0
),
compacted AS (
  SELECT k, op, price_cents FROM (
    SELECT k, op, price_cents,
           ROW_NUMBER() OVER (PARTITION BY k ORDER BY lsn DESC) AS rn
    FROM cdc) z
  WHERE rn = 1
),
tgt AS (
  SELECT o_orderkey AS k,
         {grid_sql('o_totalprice', 2)} AS price_cents
  FROM orders
),
merged AS (
  SELECT COALESCE(t.k, c.k) AS k,
         CASE WHEN c.k IS NULL THEN 'keep'
              WHEN c.op = 'D' AND t.k IS NOT NULL THEN 'delete'
              WHEN c.op = 'D' THEN 'noop'
              WHEN t.k IS NULL THEN 'insert'
              ELSE 'update' END AS action,
         CASE WHEN c.k IS NULL THEN t.price_cents
              WHEN c.op = 'D' THEN CAST(0 AS BIGINT)
              ELSE c.price_cents END AS price_cents
  FROM tgt t FULL OUTER JOIN compacted c ON t.k = c.k
)
SELECT action, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(price_cents) AS BIGINT) AS sum_cents
FROM merged GROUP BY action ORDER BY action
""",
)
def cdc_apply_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC APPLY with in-batch compaction — the Debezium-consumer /
    MERGE-with-deletes pattern `merge_upsert` stops short of: the
    change batch carries MULTIPLE ordered events per key (update then
    delete; insert then update), so applying it naively double-counts.
    Stage 1 compacts to last-writer-wins per key (ROW_NUMBER over LSN
    DESC — one shuffle on the key); stage 2 is ONE full-outer join
    against the target with a 5-way action CASE: keep / update /
    insert / delete / noop (a delete for a key that never existed —
    real CDC streams contain them, and swallowing one silently is the
    classic apply bug this key pins). Output is the action audit every
    ingestion job logs: row count + cents sum per action.

    Determinism: the batch derives from the target keys (the
    `merge_upsert` convention), prices live on the exact cent grid,
    LSNs are explicit integers — compaction, merge, and audit sums are
    all int64-exact.

    100-TB posture: compaction shuffles the (small) batch only; the
    merge is the Delta/Iceberg MERGE join — one shuffle of the target
    on the key, which bucketing removes entirely; a small CDC batch
    broadcasts and MERGE becomes map-only. Audit sums are map-side
    combinable. Overflow: cents sums <= 1e15 at 10x — int64-safe.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    cdc = (
        o.filter(F.col("o_orderkey") % 7 == 0).select(
            F.col("o_orderkey").alias("k"), F.lit(1).alias("lsn"),
            F.lit("U").alias("op"),
            grid(F.col("o_totalprice") * F.lit(110.0), 0).alias("price_cents"),
        )
        .unionAll(
            o.filter(F.col("o_orderkey") % 21 == 0).select(
                F.col("o_orderkey"), F.lit(2), F.lit("D"),
                F.lit(0).cast("long"),
            )
        )
        .unionAll(
            o.filter(F.col("o_orderkey") % 1000 == 0).select(
                F.col("o_orderkey") + 20000000, F.lit(1), F.lit("I"),
                F.lit(100000).cast("long"),
            )
        )
        .unionAll(
            o.filter(F.col("o_orderkey") % 1000 == 0).select(
                F.col("o_orderkey") + 20000000, F.lit(2), F.lit("U"),
                F.lit(200000).cast("long"),
            )
        )
    )
    compacted = (
        cdc.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("k").orderBy(F.col("lsn").desc())
            ),
        )
        .filter(F.col("rn") == 1)
        .select("k", "op", "price_cents")
    )
    tgt = o.select(
        F.col("o_orderkey").alias("tk"),
        grid("o_totalprice", 2).alias("t_cents"),
    )
    merged = tgt.join(
        compacted, tgt.tk == compacted.k, "full_outer"
    ).select(
        F.when(F.col("k").isNull(), F.lit("keep"))
        .when((F.col("op") == "D") & F.col("tk").isNotNull(), "delete")
        .when(F.col("op") == "D", "noop")
        .when(F.col("tk").isNull(), "insert")
        .otherwise("update")
        .alias("action"),
        F.when(F.col("k").isNull(), F.col("t_cents"))
        .when(F.col("op") == "D", F.lit(0).cast("long"))
        .otherwise(F.col("price_cents"))
        .alias("price_cents"),
    )
    return (
        merged.groupBy("action")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("price_cents").cast("long").alias("sum_cents"),
        )
        .orderBy("action")
    )
