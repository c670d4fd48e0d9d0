"""Join operators (SURVEY.md §2.3).

Physical-strategy notes for 100 TB (verified shapes in
tests/test_plan_shape.py):

- every dimension here (region/nation/customer/supplier/part at bench
  scale) is far under ``spark.sql.autoBroadcastJoinThreshold`` — Catalyst
  plans BroadcastHashJoin, so the fact table never shuffles for dim joins;
- fact-to-fact equi-joins (orders ⋈ lineitem) shuffle both sides on the
  key once — at scale, bucketing both tables on the join key would
  eliminate that shuffle (documented per-operator, not pre-built);
- the theta/band join keeps the *small* side broadcast so it never
  degenerates into a cartesian shuffle;
- the as-of join uses the union+window rewrite (operators/asof.py) — one
  shuffle, skew-safe — instead of a nested-loop range join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, local_frame
from ..functions.exact import dsum, dsum_sql, grid, grid_sql
from ..registry import register
from .asof import asof_join


@register(
    "join_inner_equi",
    oracle=f"""
SELECT l_orderkey,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue', 6)},
       CAST(o_orderdate AS DATE) AS order_date,
       o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way equi join → agg → top-k.

    customer (dim) broadcasts; orders⋈lineitem shuffles on the order key.
    The top-k sorts on the exact-decimal revenue, so ordering is
    engine-stable; l_orderkey breaks ties.
    """
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue", 6))
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "join_multiway",
    oracle=f"""
SELECT n_name,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue', 6)},
       COUNT(*) AS n_items
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
""",
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join with a local-supplier condition.

    All four dims broadcast; only orders⋈lineitem shuffles. The
    s_nationkey = c_nationkey condition rides on the supplier join.
    """
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    return (
        r.join(n, n.n_regionkey == r.r_regionkey)
        .join(c, c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey))
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue", 6),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "join_left_right_full",
    oracle="""
SELECT 'left' AS jt, COUNT(*) AS n_rows, COUNT(l_orderkey) AS n_matched
FROM part LEFT JOIN lineitem ON p_partkey = l_partkey
UNION ALL
SELECT 'right' AS jt, COUNT(*) AS n_rows, COUNT(l_orderkey) AS n_matched
FROM lineitem RIGHT JOIN part ON p_partkey = l_partkey
UNION ALL
SELECT 'full' AS jt, COUNT(*) AS n_rows,
       COUNT(CASE WHEN o_orderkey IS NOT NULL AND c_custkey IS NOT NULL
             THEN 1 END) AS n_matched
FROM customer FULL JOIN orders ON c_custkey = o_custkey
""",
)
def join_left_right_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer-join family; unmatched sides produce real NULLs (parts that
    were never ordered / customers with no orders)."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")

    left = (
        p.join(li, p.p_partkey == li.l_partkey, "left")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.count("l_orderkey").alias("n_matched"))
        .select(F.lit("left").alias("jt"), "n_rows", "n_matched")
    )
    right = (
        li.join(p, p.p_partkey == li.l_partkey, "right")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.count("l_orderkey").alias("n_matched"))
        .select(F.lit("right").alias("jt"), "n_rows", "n_matched")
    )
    full = (
        c.join(o, c.c_custkey == o.o_custkey, "full")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(
                F.when(
                    F.col("o_orderkey").isNotNull() & F.col("c_custkey").isNotNull(), 1
                )
            ).alias("n_matched"),
        )
        .select(F.lit("full").alias("jt"), "n_rows", "n_matched")
    )
    return left.unionByName(right).unionByName(full)


@register(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
              AND o_totalprice > 200000)
""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left-semi join (no right-side duplication, no payload)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_totalprice > 400000)
""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left-anti join (customers with no jumbo order; every
    customer has *some* order in the fixtures, so the right side is
    filtered to keep the result non-trivial)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_cross",
    oracle="""
SELECT r_name, n_name
FROM region CROSS JOIN nation
""",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product (tiny × tiny only — 125 rows)."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


_BUCKETS = [(0.0, 100.0, "low"), (100.0, 250.0, "mid"), (250.0, 1000.0, "high")]
_BUCKETS_SQL = ", ".join(f"({lo}, {hi}, '{nm}')" for lo, hi, nm in _BUCKETS)


@register(
    "join_theta_range",
    oracle=f"""
SELECT b.name AS bucket, COUNT(*) AS n,
       {dsum_sql('e.value', 'sum_value', 6)}
FROM events e
JOIN (VALUES {_BUCKETS_SQL}) AS b(lo, hi, name)
  ON e.value >= b.lo AND e.value < b.hi
GROUP BY b.name
""",
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (band) join: events against value ranges.

    The band table is a handful of rows → broadcast nested loop against
    it is the right plan. At 100 TB with a LARGE band table, the scale
    path is bin-then-equi-join: assign each event floor(value/width) and
    explode each band into the bins it overlaps (same trick as the
    astronomy coordinate cross-match, SURVEY.md §2.12).
    """
    ev = load_table(spark, sf_dir, "events")
    b = local_frame(spark, _BUCKETS, "lo DOUBLE, hi DOUBLE, name STRING")
    return (
        ev.join(
            F.broadcast(b),
            (ev.value >= b.lo) & (ev.value < b.hi),
        )
        .groupBy(F.col("name").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value", 6))
    )


@register(
    "join_asof",
    oracle="""
SELECT p.event_id, p.user_id, p.ts, c.ts AS click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def join_asof_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase, the latest click at-or-before it by the same
    user (DuckDB ASOF JOIN is the oracle; Spark has no native as-of —
    operators/asof.py implements the union+window rewrite)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join(
        purchases,
        clicks,
        on="user_id",
        right_values={"click_ts": "ts"},
    )
    return out.select("event_id", "user_id", "ts", "click_ts")


@register(
    "join_broadcast_hint",
    oracle=f"""
SELECT n_name, COUNT(*) AS n_suppliers,
       {dsum_sql('s_acctbal', 'sum_bal', 4)}
FROM nation JOIN supplier ON s_nationkey = n_nationkey
GROUP BY n_name
""",
)
def join_broadcast_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast hint — same result as the unhinted plan; exists
    to pin BroadcastHashJoin for the bench and the plan-shape test."""
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_suppliers"), dsum("s_acctbal", "sum_bal", 4))
    )


@register(
    "join_asof_forward",
    oracle="""
SELECT p.event_id, p.user_id, p.ts,
       (SELECT MIN(c.ts) FROM events c
        WHERE c.event_type = 'click'
          AND c.user_id = p.user_id AND c.ts >= p.ts) AS next_click_ts
FROM events p WHERE p.event_type = 'purchase'
""",
)
def join_asof_forward_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase, the EARLIEST click at-or-after it by the same
    user — forward as-of (operators/asof.py, mirrored kernel with a
    FOLLOWING frame). The oracle is a correlated MIN subquery — a
    genuinely different formulation (DuckDB's native ASOF is
    backward-only), so the window rewrite is checked against
    set-oriented semantics, including the no-later-click NULL case.
    """
    from .asof import asof_join_forward

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join_forward(
        purchases,
        clicks,
        on="user_id",
        right_values={"next_click_ts": "ts"},
    )
    return out.select("event_id", "user_id", "ts", "next_click_ts")


#: interval-overlap join: max interval length in days (key % _IVL_MOD)
#: and the cell width that guarantees each interval spans <= 2 cells.
_IVL_MOD = 8
_IVL_CELL = 16


@register(
    "join_interval_overlap",
    oracle=f"""
WITH a AS (
  SELECT o_orderkey AS ia,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS sa,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           + o_orderkey % {_IVL_MOD} AS ea
  FROM orders WHERE o_orderpriority = '1-URGENT'
),
b AS (
  SELECT o_orderkey AS ib,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS sb,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           + o_orderkey % {_IVL_MOD} AS eb
  FROM orders WHERE o_orderpriority = '5-LOW'
)
SELECT ia, ib,
       CAST(GREATEST(sa, sb) AS BIGINT) AS ov_start,
       CAST(LEAST(ea, eb) AS BIGINT) AS ov_end
FROM a, b
WHERE sa <= eb AND sb <= ea
""",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join without a nested loop: urgent-order windows
    × low-priority-order windows that overlap in time.

    The naive predicate ``sa <= eb AND sb <= ea`` is a theta join Spark
    can only plan as a broadcast nested loop. The scale plan quantizes
    time into cells wider than the longest interval, replicates each
    interval into the (<= 2) cells it touches, equi-joins on the cell
    id, re-applies the exact predicate — and de-duplicates pairs that
    share two cells by keeping only the canonical cell containing the
    overlap's start (``cell == greatest(sa, sb) div width``), so no
    DISTINCT shuffle is needed. O(n+m) shuffle on an integer key, ~2×
    replication; AQE splits hot cells. Same family as xmatch binning
    but 1-D with variable-length objects — the generic time-range /
    genomic-interval join shape. The oracle is the naive theta join, so
    the hash proves the binned plan finds exactly the naive pair set.
    """
    o = load_table(spark, sf_dir, "orders")
    days = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")

    def intervals(prio: str, tag: str) -> DataFrame:
        return (
            o.filter(F.col("o_orderpriority") == prio)
            .select(
                F.col("o_orderkey").alias(f"i{tag}"),
                days.alias(f"s{tag}"),
                (days + F.col("o_orderkey") % _IVL_MOD).alias(f"e{tag}"),
            )
            .withColumn(
                "cell",
                F.explode(
                    F.array_distinct(
                        F.array(
                            F.expr(f"s{tag} div {_IVL_CELL}"),
                            F.expr(f"e{tag} div {_IVL_CELL}"),
                        )
                    )
                ),
            )
        )

    a = intervals("1-URGENT", "a")
    b = intervals("5-LOW", "b")
    ov_start = F.greatest("sa", "sb")
    return (
        a.join(b, "cell")
        .filter(
            (F.col("sa") <= F.col("eb"))
            & (F.col("sb") <= F.col("ea"))
            & (F.col("cell") == F.expr(f"greatest(sa, sb) div {_IVL_CELL}"))
        )
        .select(
            "ia",
            "ib",
            ov_start.alias("ov_start"),
            F.least("ea", "eb").alias("ov_end"),
        )
    )


#: as-of tolerance: matches older than this are discarded (microseconds).
_ASOF_TOL_US = 30 * 60 * 1_000_000


@register(
    "join_asof_tolerance",
    oracle=f"""
SELECT p.event_id, p.user_id, p.ts,
       (SELECT MAX(c.ts) FROM events c
        WHERE c.event_type = 'click'
          AND c.user_id = p.user_id
          AND c.ts <= p.ts
          AND c.ts >= p.ts - INTERVAL 30 MINUTE) AS click_ts
FROM events p WHERE p.event_type = 'purchase'
""",
)
def join_asof_tolerance_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join with a 30-minute tolerance: the latest click
    at-or-before each purchase, but only if it happened within the
    window (pandas ``merge_asof(tolerance=...)``; attribution queries
    are exactly this shape).

    Reuses the one-shuffle union+window kernel unchanged, then nulls
    out matches older than the tolerance in a map-side projection —
    correct because the kernel picks the LATEST eligible row, so if
    that row misses the window, every other candidate misses it too.
    Zero extra shuffles over the plain as-of. The oracle is a
    correlated MAX subquery with both bounds (DuckDB's native ASOF
    accepts only one inequality) — an independent formulation.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join(
        purchases,
        clicks,
        on="user_id",
        right_values={"click_ts": "ts"},
    )
    within = (
        F.unix_micros("ts") - F.unix_micros("click_ts") <= F.lit(_ASOF_TOL_US)
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.when(within, F.col("click_ts")).alias("click_ts"),
    )


@register(
    "join_lateral_topk",
    oracle="""
SELECT n_name, s_suppkey, s_acctbal
FROM (
  SELECT n_name, s_suppkey, s_acctbal,
         ROW_NUMBER() OVER (PARTITION BY n_nationkey
                            ORDER BY s_acctbal DESC, s_suppkey) AS rn
  FROM nation JOIN supplier ON s_nationkey = n_nationkey
) WHERE rn <= 2
""",
)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY … LIMIT — 'for each
    nation, its top-2 suppliers by balance' written the way an analyst
    writes it. Catalyst DECORRELATES the lateral: the per-row subquery
    becomes a set-oriented plan (the oracle states the window rewrite
    explicitly — same semantics, independently formulated), so the
    lateral door costs the same as `win_rank_topk`, not one subquery
    execution per outer row. The plan is pinned nested-loop-free in
    tests/test_plan_shape.py.
    """
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name, l.s_suppkey, l.s_acctbal
        FROM nation,
        LATERAL (
          SELECT s_suppkey, s_acctbal FROM supplier
          WHERE s_nationkey = n_nationkey
          ORDER BY s_acctbal DESC, s_suppkey
          LIMIT 2
        ) l
        """
    )


@register(
    "join_null_safe",
    oracle=f"""
WITH a AS (
  SELECT nullif(l_returnflag, 'N') AS flag, COUNT(*) AS n_items
  FROM lineitem GROUP BY 1
), b AS (
  SELECT nullif(l_returnflag, 'N') AS flag,
         CAST(SUM({grid_sql('l_quantity', 2)}) AS BIGINT)
           AS sq
  FROM lineitem GROUP BY 1
)
SELECT a.flag, a.n_items, b.sq
FROM a JOIN b ON a.flag IS NOT DISTINCT FROM b.flag
""",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): the NULL
    key row on each side MATCHES (a plain equi-join silently drops it —
    the classic lost-rows bug when joining on nullable keys). Spark
    plans ``eqNullSafe`` as a hash join on the null-safe key, not a
    nested loop, so the cost is identical to the plain equi-join.
    NULLs are planted via nullif on a flag value so the match is
    actually exercised at every sf.
    """
    li = load_table(spark, sf_dir, "lineitem")
    flag = F.nullif(F.col("l_returnflag"), F.lit("N")).alias("flag")
    a = li.groupBy(flag).agg(F.count(F.lit(1)).alias("n_items"))
    b = li.groupBy(flag).agg(
        F.sum(grid("l_quantity", 2)).alias("sq")
    )
    return a.join(b, a["flag"].eqNullSafe(b["flag"])).select(
        a["flag"], "n_items", "sq"
    )


#: bloom prefilter geometry: m bits across 64-bit words, k probe hashes.
_BLOOM_BITS = 1 << 16
_BLOOM_K = 3


@register(
    "join_bloom_prefilter",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM({grid_sql('l_extendedprice * (1 - l_discount)', 4)}) AS DOUBLE)
         / 10000.0 AS revenue
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders
  WHERE o_orderpriority = '1-URGENT'
    AND o_orderdate >= TIMESTAMP '2000-01-01'
)
""",
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed bloom-filter semi-join: prefilter the fact scan with a
    broadcast bitmap before the exact join.

    The 100-TB pattern this demonstrates: when the build side of a
    semi-join is selective but its key list is too big (or too remote)
    to broadcast exactly, shrink it to a bloom filter and apply that
    map-side on the probe scan, so the exact join only sees survivors.
    Spark keeps ``BloomFilterAggregate`` internal (injected by the
    runtime-filter rule, not callable from SQL), so the engine builds
    the filter with public relational ops:

    1. build side → k = 3 hash positions per key (``xxhash64`` with
       distinct literal salts), distinct, then ``bit_or`` of
       ``1 << (pos % 64)`` grouped by word index — a ≤ m/64-row bitmap
       table built by one tiny shuffle;
    2. probe side explodes its own k positions, broadcast-joins the
       bitmap, and keeps rows where ALL k bits hit (count = k);
    3. exact semi-join on the survivors removes false positives.

    Step 3 makes the result exactly the plain semi-join (the oracle), so
    the bloom stage is pure shuffle-volume savings — false negatives are
    impossible (any built key finds all its own bits set). The filter
    here is 64 Kbit = 1024 longs; size m for ~10 bits/key at the real
    build cardinality.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= "2000-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")

    def positions(col: str) -> F.Column:
        return F.array(
            *[
                F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(_BLOOM_BITS))
                for i in range(_BLOOM_K)
            ]
        )

    bitmap = (
        o.select(F.explode(positions("o_orderkey")).alias("pos"))
        .distinct()
        .groupBy((F.col("pos") / 64).cast("long").alias("word"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(1L, CAST(pos % 64 AS INT))")
            ).alias("mask")
        )
    )
    # the probe must re-group per ROW, not per value tuple — two rows
    # sharing the grouping values would merge their exploded bits
    # (nbits = 2k ≠ k) and BOTH get dropped: a false negative. The
    # fixture has no unique natural key (even (l_orderkey,
    # l_linenumber) repeats), so each row is tagged with a transient
    # execution-unique id before the explode; the id never reaches the
    # output, so its arbitrariness can't leak into the result hash.
    probe = li.withColumn("rid", F.monotonically_increasing_id()).select(
        "rid",
        "l_orderkey",
        "l_extendedprice",
        "l_discount",
        F.explode(positions("l_orderkey")).alias("pos"),
    ).select(
        "rid",
        "l_orderkey",
        "l_extendedprice",
        "l_discount",
        (F.col("pos") / 64).cast("long").alias("word"),
        (F.col("pos") % 64).cast("int").alias("bit"),
    )
    hits = (
        probe.join(F.broadcast(bitmap), "word")
        .filter(F.expr("shiftleft(1L, bit) & mask") != 0)
        .groupBy("rid", "l_orderkey", "l_extendedprice", "l_discount")
        .agg(F.count(F.lit(1)).alias("nbits"))
        .filter(F.col("nbits") == _BLOOM_K)
    )
    survivors = hits.join(o, hits.l_orderkey == o.o_orderkey, "left_semi")
    return survivors.agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue", 4),
    )


@register(
    "join_asof_nearest",
    oracle="""
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
b AS (
  SELECT p.event_id, p.user_id, p.ts,
         (SELECT MAX(c.ts) FROM events c
          WHERE c.event_type = 'click'
            AND c.user_id = p.user_id AND c.ts <= p.ts) AS prev_ts,
         (SELECT MIN(c.ts) FROM events c
          WHERE c.event_type = 'click'
            AND c.user_id = p.user_id AND c.ts >= p.ts) AS next_ts
  FROM p
)
SELECT event_id, user_id, ts,
       CASE
         WHEN prev_ts IS NULL THEN next_ts
         WHEN next_ts IS NULL THEN prev_ts
         WHEN epoch_us(ts) - epoch_us(prev_ts)
              <= epoch_us(next_ts) - epoch_us(ts) THEN prev_ts
         ELSE next_ts
       END AS nearest_click_ts
FROM b
""",
)
def join_asof_nearest_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of: for each purchase, the click by the same
    user minimizing |Δt| in EITHER direction (tie → the earlier,
    backward match — pandas ``merge_asof(direction='nearest')``
    semantics).

    Composed from the two directional kernels (backward + forward
    union-window rewrites, one key shuffle each) and a microsecond-exact
    CASE pick; NULL sides fall back to the other direction. The oracle
    states the same semantics as two correlated extremum subqueries —
    set-oriented vs stream-oriented formulations checking each other.
    At 100 TB this stays two sort-merge-shaped passes over the same
    key partitioning (exchange reuse), never a range join.
    """
    from .asof import asof_join, asof_join_forward

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    back = asof_join(
        purchases, clicks, on="user_id", right_values={"prev_ts": "ts"}
    )
    both = asof_join_forward(
        back, clicks, on="user_id", right_values={"next_ts": "ts"}
    )
    prev_us = F.unix_micros(F.col("prev_ts"))
    next_us = F.unix_micros(F.col("next_ts"))
    ts_us = F.unix_micros(F.col("ts"))
    nearest = (
        F.when(F.col("prev_ts").isNull(), F.col("next_ts"))
        .when(F.col("next_ts").isNull(), F.col("prev_ts"))
        .when(ts_us - prev_us <= next_us - ts_us, F.col("prev_ts"))
        .otherwise(F.col("next_ts"))
    )
    return both.select(
        "event_id", "user_id", "ts", nearest.alias("nearest_click_ts")
    )


@register(
    "join_cardinality_estimate",
    oracle="""
WITH lc AS (SELECT l_orderkey AS k, COUNT(*) AS c FROM lineitem GROUP BY 1),
oc AS (SELECT o_orderkey AS k, COUNT(*) AS c FROM orders GROUP BY 1)
SELECT CAST(SUM(lc.c * oc.c) AS BIGINT) AS est_join_rows,
       CAST(MAX(lc.c * oc.c) AS BIGINT) AS hottest_key_rows,
       COUNT(*) AS n_join_keys
FROM lc JOIN oc ON lc.k = oc.k
""",
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size computation WITHOUT running the join: for an equi-join,
    |A ⋈ B| = Σ_k cA(k)·cB(k) over the shared keys — computed from two
    key-count aggregates whose join carries one row per DISTINCT key,
    never the output rows themselves. The hottest-key product is the
    skew diagnostic (how bad the worst reducer would be), and at 100 TB
    this is the dry-run you execute BEFORE a fact⋈fact join to decide
    between plain shuffle, skew salting, or rethinking the query —
    exact where a sampled estimate can be 100× off on skew, at the
    cost of one aggregation per side.

    (For an inner equi-join the formula is exact, not an estimate —
    the name keeps the planning-stage role visible.)
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lc = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("lc")
    )
    oc = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("oc")
    )
    prod = F.col("lc") * F.col("oc")
    return lc.join(oc, "k").agg(
        F.sum(prod).alias("est_join_rows"),
        F.max(prod).alias("hottest_key_rows"),
        F.count(F.lit(1)).alias("n_join_keys"),
    )


@register(
    "join_multi_exists_flags",
    oracle="""
SELECT c.c_custkey,
       CAST(EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT') AS INT)
         AS has_urgent,
       CAST(EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderstatus = 'F') AS INT) AS has_finished,
       CAST(EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > CAST(300000.0 AS DOUBLE)) AS INT)
         AS has_big_ticket
FROM customer c
""",
)
def join_multi_exists_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-EXISTS enrichment: one row per customer with three
    independent existence FLAGS (urgent order? finished order?
    big-ticket order?) — the segmentation-feature build every CRM/ML
    feature store runs, where each flag written as a separate EXISTS
    would correlate-rescan the fact three times.

    Decorrelation: ONE pass over orders computes all three flags as
    conditional MAX aggregates per customer, then a single left join
    (missing customers coalesce to 0) — the fact is scanned once
    regardless of flag count, and adding a fourth flag is one more
    conditional aggregate, not another join. The oracle keeps the
    triple-EXISTS form; DuckDB decorrelates it its own way, and the
    hash match proves the flag semantics agree.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    flags = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.max(
            (F.col("o_orderpriority") == "1-URGENT").cast("int")
        ).alias("f_urgent"),
        F.max((F.col("o_orderstatus") == "F").cast("int")).alias("f_finished"),
        F.max((F.col("o_totalprice") > 300000.0).cast("int")).alias("f_big"),
    )
    return (
        c.join(flags, c.c_custkey == F.col("k"), "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("f_urgent"), F.lit(0)).alias("has_urgent"),
            F.coalesce(F.col("f_finished"), F.lit(0)).alias("has_finished"),
            F.coalesce(F.col("f_big"), F.lit(0)).alias("has_big_ticket"),
        )
    )
