"""Set operators (SURVEY.md §2.7).

UNION ALL is shuffle-free (plan concatenation). DISTINCT / INTERSECT /
EXCEPT each shuffle on the full row — at 100 TB prefer pre-aggregated or
key-only forms (as these queries do: they operate on key columns, not
wide rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import grid, grid_sql
from ..registry import register


@register(
    "set_union_all",
    oracle="""
SELECT o_custkey AS key, 'orders' AS src FROM orders
UNION ALL
SELECT c_custkey AS key, 'customer' AS src FROM customer
""",
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union; the second branch is built column-reversed and merged
    with unionByName to demo by-name resolution."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"), F.lit("orders").alias("src")
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("src"), F.col("c_custkey").alias("key")
    )
    return o.unionByName(c)


@register(
    "set_union_distinct",
    oracle="""
SELECT o_custkey AS key FROM orders
UNION
SELECT c_custkey AS key FROM customer
""",
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    return o.union(c).distinct()


@register(
    "set_intersect",
    oracle="""
SELECT c_custkey AS key FROM customer
INTERSECT
SELECT o_custkey AS key FROM orders
""",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection (customers that placed at least one order)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    return c.intersect(o)


@register(
    "set_intersect_all",
    oracle="""
SELECT l_suppkey AS key FROM lineitem
INTERSECT ALL
SELECT s_suppkey AS key FROM supplier
""",
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag intersection — multiplicity min(left, right)."""
    li = load_table(spark, sf_dir, "lineitem").select(F.col("l_suppkey").alias("key"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("key"))
    return li.intersectAll(s)


@register(
    "set_except",
    oracle="""
SELECT c_custkey AS key FROM customer
EXCEPT
SELECT o_custkey AS key FROM orders WHERE o_totalprice > 400000
""",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (customers with no jumbo order; unfiltered orders
    cover every customer in the fixtures, which would make the result
    trivially empty)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("key"))
    )
    return c.subtract(o)


@register(
    "set_except_all",
    oracle="""
SELECT l_partkey AS key FROM lineitem
EXCEPT ALL
SELECT p_partkey AS key FROM part
""",
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag difference — keeps surplus duplicates from the left side."""
    li = load_table(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("key"))
    p = load_table(spark, sf_dir, "part").select(F.col("p_partkey").alias("key"))
    return li.exceptAll(p)


@register(
    "set_union_byname",
    oracle=f"""
SELECT * FROM (
  SELECT o_orderkey AS key,
         {grid_sql('o_totalprice', 2)} AS cents,
         'orders' AS src
  FROM orders)
UNION ALL BY NAME
SELECT * FROM (
  SELECT c_custkey AS key, c_nationkey AS nation, 'customer' AS src
  FROM customer)
""",
)
def set_union_byname(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union — ``unionByName(allowMissingColumns=True)``
    (DuckDB: ``UNION ALL BY NAME``): branches with DIFFERENT column sets
    merge by name, each side's missing columns null-filled. This is the
    append path when a feed adds or drops columns mid-stream (log-format
    v1 + v2, backfill + live): positional UNION would silently misalign
    or reject, by-name union is exact. Still plan concatenation — zero
    shuffles, and each branch keeps its own pushdown/pruning; at 100 TB
    the null-fill is a metadata-only projection, not a rewrite.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        grid("o_totalprice", 2).alias("cents"),
        F.lit("orders").alias("src"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.col("c_nationkey").alias("nation"),
        F.lit("customer").alias("src"),
    )
    return o.unionByName(c, allowMissingColumns=True)
