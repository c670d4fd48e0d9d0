"""TPC-H completion batch — the 12 query shapes workloads.py left out
(Q2/Q6/Q7/Q8/Q9/Q11/Q13/Q15/Q16/Q17/Q20/Q21), adapted to the fixture
schema. With workloads.py this makes all 22 TPC-H shapes runnable.

The fixtures carry no ``partsupp`` table and no commit/receipt dates
(TESTDATA.md), so the five partsupp queries derive the part↔supplier
relation from ``lineitem`` (the pairs that actually shipped) and Q21's
"received late" becomes "shipped >60 days after the order". Each
adaptation preserves the query's PLANNER shape — that is what these
workloads exist to exercise:

- Q2:  per-group min over a derived relation + equality join back
        (correlated MIN subquery, decorrelated);
- Q6:  pure scan-filter-global-agg (the predicate-pushdown benchmark);
- Q7:  two-role dimension (nation joined twice) + disjunctive pair
        filter + year rollup;
- Q8:  conditional share-of-total (two sums in one aggregate, no
        second pass);
- Q9:  wide 4-way join with a LIKE-filtered dimension + profit
        expression + (nation, year) rollup;
- Q11: global-total scalar subquery in the HAVING threshold;
- Q13: outer join with an ON-clause filter + double aggregation
        (count per key, then histogram of counts);
- Q15: aggregate → argmax over the aggregate (scalar MAX subquery);
- Q16: NOT IN exclusion (anti join) + COUNT(DISTINCT) rollup;
- Q17: correlated per-part average threshold, decorrelated to a
        self-aggregation join;
- Q20: nested IN over a grouped-HAVING subquery (semi join);
- Q21: double EXISTS / NOT EXISTS, decorrelated to one per-order
        aggregate pass (the n_supp>1 ∧ n_late=1 trick).

Determinism follows SURVEY.md §5.3: exact scaled-long money sums
(functions/exact.py), double literals CAST to DOUBLE in the oracle so
DuckDB does not parse them as DECIMAL, thresholds placed mid-grid
(0.045/0.075 for the 0.01-step discount column) so no row sits on a
comparison boundary, and every ordered/LIMIT query fully tie-broken.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .functions.exact import davg_sql, dsum, dsum_sql, grid, grid_sql
from .registry import register

_Q7_NATION_A, _Q7_NATION_B = "NATION_3", "NATION_7"
_Q8_NATION = "NATION_5"


@register(
    "q6_forecast_revenue",
    oracle=f"""
SELECT {dsum_sql('l_extendedprice * l_discount', 'revenue', 4)}
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount >= CAST(0.045 AS DOUBLE)
  AND l_discount <= CAST(0.075 AS DOUBLE)
  AND l_quantity < CAST(24 AS DOUBLE)
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue delta from dropping small-quantity,
    mid-discount lines for one year. The whole query is a single scan
    with ALL three predicates pushed to parquet (row-group min/max on
    l_shipdate prunes ~6/7 of the data before decode) and one global
    scaled-long sum whose partials collapse map-side — zero shuffles of
    data rows, one row out. The discount bounds sit mid-grid (the
    column is a 0.01-step grid) so neither engine ever compares a row
    on the boundary.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount") >= 0.045)
            & (F.col("l_discount") <= 0.075)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue", 4))
    )


@register(
    "q7_volume_shipping",
    oracle=f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue', 4)}
FROM supplier
JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = '{_Q7_NATION_A}' AND n2.n_name = '{_Q7_NATION_B}')
    OR (n1.n_name = '{_Q7_NATION_B}' AND n2.n_name = '{_Q7_NATION_A}'))
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY n1.n_name, n2.n_name, CAST(EXTRACT(year FROM l_shipdate) AS BIGINT)
""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations by year, in
    both directions. The nation dimension plays two ROLES (supplier's
    and customer's); aliasing one broadcast table twice keeps it one
    build side reused, and the disjunctive pair filter runs after both
    role joins (it references both roles, so it cannot be pushed below
    either one — but each role join is itself a broadcast, so nothing
    extra shuffles). The only data-sized shuffles are lineitem⋈orders
    and orders⋈customer; the (nation, nation, year) rollup is tiny.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == _Q7_NATION_A) & (F.col("cust_nation") == _Q7_NATION_B)
    ) | (
        (F.col("supp_nation") == _Q7_NATION_B) & (F.col("cust_nation") == _Q7_NATION_A)
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue", 4))
    )


@register(
    "q8_market_share",
    oracle=f"""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CASE WHEN n2.n_name = '{_Q8_NATION}'
                     THEN {grid_sql('l_extendedprice * (1 - l_discount)', 4)}
                     ELSE 0 END) AS DOUBLE)
       / CAST(SUM({grid_sql('l_extendedprice * (1 - l_discount)', 4)}) AS DOUBLE)
         AS mkt_share
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN part     ON p_partkey = l_partkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'PROMO'
  AND n1.n_name IN ('NATION_1', 'NATION_5', 'NATION_9')
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY CAST(EXTRACT(year FROM o_orderdate) AS BIGINT)
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of PROMO-part revenue inside
    a customer region, per year. The share is a conditional sum over
    the SAME rows as the total — one aggregate computes both (no second
    pass, no self-join), and the division happens on the two exact
    scaled-long sums, so the ratio is bit-identical across engines.
    The fixtures have no region table rows tied to customers' markets,
    so the "region" is a 3-nation IN list on the customer's nation.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_1", "NATION_5", "NATION_9"))
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    cents = grid(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == _Q8_NATION, cents).otherwise(
                        F.lit(0)
                    )
                ).cast("double")
                / F.sum(cents).cast("double")
            ).alias("mkt_share")
        )
    )


@register(
    "q9_product_profit",
    oracle=f"""
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       {dsum_sql('l_extendedprice * (1 - l_discount)'
                 ' - CAST(0.6 AS DOUBLE) * p_retailprice * l_quantity',
                 'sum_profit', 4)}
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN part     ON p_partkey = l_partkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY n_name, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT)
""",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for
    parts whose name matches a substring. The fixtures carry no
    ps_supplycost, so cost is modeled as 60% of the part's retail price
    per unit — the profit EXPRESSION (revenue minus a join-sourced unit
    cost × quantity) and the plan shape (LIKE-filtered part dimension
    broadcast into the fact, 4-way join, two-level rollup) are what Q9
    exercises. The LIKE '%gear%' cannot use an index anywhere — it
    rides the broadcast-build of the 20k-row part table, pruning it
    before the join, never the 600M-row fact side.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    n = load_table(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(dsum(profit, "sum_profit", 4))
    )


@register(
    "q11_important_parts",
    oracle=f"""
WITH pv AS (
  SELECT l_partkey,
         SUM({grid_sql('l_extendedprice', 2)}) AS val_c
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT SUM(val_c) AS tot_c, COUNT(*) AS n_parts FROM pv)
SELECT l_partkey, CAST(val_c AS DOUBLE) / 100.0 AS part_value
FROM pv, tot
WHERE 2 * val_c * n_parts > 3 * tot_c
""",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose traded value exceeds a fraction of
    the GLOBAL total — the scalar-subquery-in-HAVING pattern. The
    fixtures carry no partsupp, so value is total extended price traded
    per part from lineitem, and the threshold is ADAPTIVE — parts above
    1.5× the average part value — because a fixed fraction of the global
    total empties as the part universe grows (0 rows at sf0.1 with the
    original 0.05% cut); the adaptive cut is the integer inequality
    ``2·val·n_parts > 3·total``, scale-free and exact. Both the per-part values and the global
    total come from the same exact cent-long partials — the total is
    the sum of the per-part longs (integer addition, exact in any
    order), so re-aggregating the agg is free and bit-stable; the
    global scalar rides a broadcast nested-loop cross join (1 row), not
    a shuffle. Threshold compare happens in DOUBLE on both sides with
    the same operand tree.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pv = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(grid("l_extendedprice", 2)).alias("val_c")
        )
    )
    tot = pv.agg(
        F.sum("val_c").alias("tot_c"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(2 * F.col("val_c") * F.col("n_parts") > 3 * F.col("tot_c"))
        .select(
            "l_partkey",
            (F.col("val_c").cast("double") / F.lit(100.0)).alias("part_value"),
        )
    )


@register(
    "q13_customer_distribution",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) per_cust
GROUP BY c_count
""",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of per-customer order counts,
    keeping zero-order customers (LEFT join; COUNT(col) skips the
    NULLs the outer join manufactures) and excluding one priority class
    in the JOIN CONDITION — excluding it in a WHERE would silently turn
    the outer join inner and lose the zeros. Double aggregation: the
    first groups 150k customers (shuffle on c_custkey — but the join
    already partitioned by it, so AQE coalesces into the same
    exchange), the second is a histogram over ≤ a few hundred distinct
    counts, map-side combinable to almost nothing.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q15_top_supplier",
    oracle=f"""
WITH rev AS (
  SELECT l_suppkey AS suppkey,
         {dsum_sql('l_extendedprice * (1 - l_discount)', 'total_rev', 4)}
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_rev
FROM supplier JOIN rev ON s_suppkey = suppkey
WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum quarterly revenue
    — aggregate, then argmax over the aggregate. The scalar MAX is
    decorrelated as a 1-row broadcast cross join against the revenue
    aggregate (NOT a global window, which would funnel every supplier
    row through one partition), and the equality compare is safe
    because both sides derive the revenue from the same exact
    scaled-long sum — the doubles are bit-identical. Supplier is
    broadcast into the aggregated (tiny) side.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1997-04-01")
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_rev", 4))
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


@register(
    "q16_supplier_cnt",
    oracle="""
SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5'
  AND p_type <> 'MEDIUM'
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_size
""",
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers ship each surviving
    (brand, size) combination, excluding blacklisted suppliers via NOT
    IN. The s_suppkey subquery is non-nullable, so NOT IN is exactly a
    LEFT ANTI join (null-trap documented at joins.py join_null_safe);
    the blacklist is a handful of rows — broadcast anti join, zero
    shuffle. Part filters prune the broadcast build side. The
    COUNT(DISTINCT) shuffles (brand, size, suppkey) once — Spark
    expands distinct aggregates into a two-level exchange, both keyed
    small.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "MEDIUM")
        & (F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0.0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q17_small_quantity",
    oracle=f"""
WITH thr AS (
  SELECT l_partkey AS t_partkey, {davg_sql('l_quantity', 'avg_qty', 6)}
  FROM lineitem GROUP BY l_partkey
)
SELECT {dsum_sql('l_extendedprice', 'total_small', 2)},
       {dsum_sql('l_extendedprice / 2.0', 'avg_yearly', 2)}
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN thr  ON t_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < CAST(0.5 AS DOUBLE) * avg_qty
""",
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue locked in below-half-average-quantity
    lines of one brand — the correlated per-part AVG threshold,
    decorrelated into a self-aggregation joined back on l_partkey. The
    threshold average is the exact scaled-long form so the `<` cut
    selects the same ROWS in both engines (a float AVG could flip
    membership of a boundary row, which is a row-set bug, not a digits
    bug). At scale the thr aggregate is partkey-partitioned exactly
    like the probe side, so AQE reuses the exchange; part filters
    broadcast. TPC-H divides by 7 years; the fixture window is ~2 so
    the constant is 2.0 — shape-identical.
    """
    li = load_table(spark, sf_dir, "lineitem")
    thr = (
        li.groupBy(F.col("l_partkey").alias("t_partkey"))
        .agg(
            (
                F.sum(grid("l_quantity", 6)).cast(
                    "double"
                )
                / F.lit(1e6)
                / F.count(F.lit(1))
            ).alias("avg_qty")
        )
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    small = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(thr, li.l_partkey == thr.t_partkey)
        .filter(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
    )
    return small.agg(
        dsum(F.col("l_extendedprice"), "total_small", 2),
        dsum(F.col("l_extendedprice") / F.lit(2.0), "avg_yearly", 2),
    )


@register(
    "q20_promo_suppliers",
    oracle=f"""
SELECT s_suppkey, s_name, CAST(s_nationkey AS BIGINT) AS nationkey
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '%gear%'
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey, l_partkey
  HAVING SUM({grid_sql('l_quantity', 0)}) > 40
)
""",
)
def q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who moved serious volume of a
    name-matched part family in one year — the nested
    IN(grouped-HAVING) pattern. Decorrelation: the inner block
    aggregates (suppkey, partkey) volume with the HAVING cut on an
    exact long sum (quantities are integral doubles; floor+0.5 makes
    them longs), projects the surviving suppkeys, and the outer IN is a
    LEFT SEMI join — supplier is the small side but semi-join
    direction matters: we semi-join SUPPLIER against the aggregate so
    the output is one row per supplier regardless of how many parts
    qualified (IN semantics, no dedup pass needed).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    qualifying = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(grid("l_quantity", 0)).alias("vol"))
        .filter(F.col("vol") > 40)
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        s.join(qualifying, s.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select(
            "s_suppkey", "s_name", F.col("s_nationkey").cast("long").alias("nationkey")
        )
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
         CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
              THEN 1 ELSE 0 END AS late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
),
per_ord AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late,
         MAX(CASE WHEN late = 1 THEN l_suppkey END) AS waiter
  FROM lo GROUP BY l_orderkey
)
SELECT s_name, COUNT(*) AS numwait
FROM per_ord JOIN supplier ON s_suppkey = waiter
WHERE n_supp > 1 AND n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    finished multi-supplier order. The textbook form is a double
    correlated EXISTS / NOT EXISTS over lineitem; the scalable
    decorrelation is ONE aggregate pass per order computing (distinct
    suppliers, distinct late suppliers, and — because exactly one
    supplier is late in qualifying orders — MAX(late supplier) as that
    supplier's key), then a filter `n_supp > 1 AND n_late = 1`. This
    replaces two correlated re-scans of the 600M-row fact with a
    single orderkey-partitioned aggregate; the fixtures carry no
    receipt/commit dates, so "late" is shipped >60 days after the
    order date.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        F.lit(1),
    ).otherwise(F.lit(0))
    lo = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_suppkey", late.alias("late")
    )
    per_ord = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("late") == 1, F.col("l_suppkey"))
        ).alias("n_late"),
        F.max(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias("waiter"),
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        per_ord.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(s), F.col("waiter") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@register(
    "q2_min_cost_supplier",
    oracle="""
WITH offers AS (
  SELECT l_partkey, l_suppkey,
         MIN(l_extendedprice / l_quantity) AS unit_price
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
best AS (
  SELECT l_partkey AS b_partkey, MIN(unit_price) AS best_price
  FROM offers GROUP BY l_partkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, unit_price
FROM part
JOIN offers ON l_partkey = p_partkey
JOIN best   ON b_partkey = p_partkey AND unit_price = best_price
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
WHERE p_type = 'STANDARD' AND p_size < 15
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the supplier offering
    it at minimum cost — the correlated MIN subquery, decorrelated as
    aggregate → per-part min → equality join back. The fixtures carry
    no partsupp, so the offer relation is derived from lineitem: per
    (part, supplier) the minimum observed unit price. All doubles on
    the equality path are computed by the IDENTICAL expression tree in
    both engines (one division, then MINs — both order-independent), so
    `unit_price = best_price` is exact. The two aggregates share the
    l_partkey partitioning (the second is a re-agg of the first — no
    extra exchange under AQE), part/supplier/nation broadcast, and the
    top-100 is TakeOrderedAndProject with a total tie-break (s_name is
    unique per supplier; p_partkey finishes the key).
    """
    li = load_table(spark, sf_dir, "lineitem")
    offers = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"))
    )
    best = offers.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("unit_price").alias("best_price")
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") < 15)
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        offers.join(F.broadcast(p), offers.l_partkey == p.p_partkey)
        .join(
            best,
            (F.col("b_partkey") == F.col("p_partkey"))
            & (F.col("unit_price") == F.col("best_price")),
        )
        .join(F.broadcast(s), offers.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "unit_price")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )
