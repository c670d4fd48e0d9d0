"""UDF / UDAF / UDTF surface (SURVEY.md §2.11).

The escape hatches, ordered by cost:

    pandas_udf (Arrow-vectorized)  ≈ 10-100× faster than
    row-at-a-time F.udf; applyInPandas/mapInPandas for group/partition
    kernels; @udtf for table functions.

Every UDF here mirrors a SQL expression so the Python boundary itself is
oracle-checked: if serialization, Arrow conversion, or batching corrupted
values, the hash would catch it. In production these wrap logic that
genuinely can't be expressed in SQL — and stay OUT of hot paths.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..catalog import load_table
from ..functions.exact import grid_sql
from ..registry import register


@register(
    "udf_python",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS revenue
FROM lineitem
""",
)
def udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (the slow path — one Python round-trip
    per row; kept for API completeness, never for hot paths)."""
    rev = F.udf(lambda p, d: p * (1.0 - d), "double")
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rev("l_extendedprice", "l_discount").alias("revenue"),
    )


@register(
    "udf_pandas_scalar",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
FROM lineitem
""",
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar pandas UDF — Arrow batches in, numpy arithmetic,
    Arrow batches out. Elementwise float ops match the SQL expression
    bit-for-bit. Defined inside the builder: a module-level pandas_udf
    would need an active SparkSession at import time to parse its DDL
    return type."""

    @pandas_udf("double")
    def _charge_pandas(
        price: pd.Series, disc: pd.Series, tax: pd.Series
    ) -> pd.Series:
        return price * (1.0 - disc) * (1.0 + tax)

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _charge_pandas("l_extendedprice", "l_discount", "l_tax").alias("charge"),
    )


@register(
    "udaf_pandas_agg",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
         AS mean_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
""",
)
def udaf_pandas_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate via GROUPED_AGG pandas UDF."""

    @pandas_udf("double")
    def _mean_qty(qty: pd.Series) -> float:
        # quantities are integer-valued doubles → the sum is exact and
        # the single division matches SQL AVG exactly.
        return float(qty.sum() / len(qty))

    # Spark disallows mixing GROUPED_AGG pandas UDFs with built-in
    # aggregates in one agg() — the count is a second pandas UDF so the
    # whole aggregation runs in one Arrow-batched pass.
    @pandas_udf("long")
    def _count(qty: pd.Series) -> int:
        return len(qty)

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        _mean_qty("l_quantity").alias("mean_qty"),
        _count("l_quantity").alias("n"),
    )


def _zscore(pdf: pd.DataFrame) -> pd.DataFrame:
    mu = pdf["o_totalprice"].mean()
    sd = pdf["o_totalprice"].std(ddof=1)
    z = ((pdf["o_totalprice"] - mu) / sd).round(4)
    # singleton group: pandas std(ddof=1) is NaN where SQL STDDEV_SAMP is
    # NULL — map to a nullable float so the Arrow column carries NULL and
    # the oracle comparison sees the same value.
    return pd.DataFrame(
        {
            "o_orderkey": pdf["o_orderkey"],
            "o_orderstatus": pdf["o_orderstatus"],
            "z": z.astype("Float64") if z.isna().any() else z,
        }
    )


@register(
    "udtf_grouped_map",
    oracle="""
SELECT o_orderkey, o_orderstatus,
       round((o_totalprice - AVG(o_totalprice) OVER w)
             / STDDEV_SAMP(o_totalprice) OVER w, 4) AS z
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus)
""",
)
def udtf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group DataFrame→DataFrame via applyInPandas (z-score per
    order status), oracle'd by the equivalent window rewrite. Rounded to
    4: pandas mean/std and SQL window aggregates associate float sums
    differently (~1e-13 relative), which coarse rounding absorbs."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").applyInPandas(
        _zscore, "o_orderkey BIGINT, o_orderstatus STRING, z DOUBLE"
    )


def _partition_revenue(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = pdf[["l_orderkey", "l_linenumber"]].copy()
        out["revenue"] = pdf["l_extendedprice"] * (1.0 - pdf["l_discount"])
        yield out


@register(
    "udtf_map_in_pandas",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS revenue
FROM lineitem
""",
)
def udtf_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-wise map over Arrow batches (mapInPandas) — the shape
    used by the multimodal decode kernels."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.mapInPandas(
        _partition_revenue, "l_orderkey BIGINT, l_linenumber INT, revenue DOUBLE"
    )


@register(
    "udtf_python",
    oracle="""
SELECT doc_id, unnest(string_split(text, ' ')) AS token
FROM documents WHERE doc_id < 50
""",
)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Python UDTF (Spark 4 @udtf) invoked through the SQL door with
    a TABLE argument — one input row in, N token rows out; oracle'd by
    the unnest equivalent."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id BIGINT, token STRING")
    class Tokenize:
        def eval(self, row):
            for tok in row["text"].split(" "):
                yield row["doc_id"], tok

    spark.udtf.register("sky_tokenize", Tokenize)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        "SELECT t.doc_id, t.token FROM sky_tokenize("
        "TABLE(SELECT doc_id, text FROM documents WHERE doc_id < 50)) t"
    )


@register(
    "udtf_apply_in_arrow",
    oracle="""
SELECT l_orderkey, l_returnflag,
       CAST(ROUND(l_extendedprice*100) AS BIGINT)
         - MIN(CAST(ROUND(l_extendedprice*100) AS BIGINT))
             OVER (PARTITION BY l_returnflag) AS delta_cents
FROM lineitem
""",
)
def udtf_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Arrow-native kernel via ``applyInArrow`` (Spark 4).

    The zero-copy sibling of ``applyInPandas``: the group arrives as a
    ``pyarrow.Table`` (no pandas conversion layer at all), the kernel
    runs vectorized ``pyarrow.compute``, and the result Table ships
    straight back over Arrow IPC. For numeric kernels this skips the
    pandas block-manager materialization entirely — the cheapest
    group-map boundary Spark offers. Semantics mirrored by a window SQL
    oracle: per-flag min-centering in exact integer cents.
    """
    import pyarrow as pa

    def center(table: pa.Table) -> pa.Table:
        import pyarrow.compute as pc

        cents = pc.round(pc.multiply(table["l_extendedprice"], 100)).cast(
            pa.int64()
        )
        return pa.table(
            {
                "l_orderkey": table["l_orderkey"],
                "l_returnflag": table["l_returnflag"],
                "delta_cents": pc.subtract(cents, pc.min(cents)),
            }
        )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    return li.groupBy("l_returnflag").applyInArrow(
        center, "l_orderkey BIGINT, l_returnflag STRING, delta_cents BIGINT"
    )


@register(
    "udtf_map_in_arrow",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(ROUND(l_extendedprice*100) AS BIGINT) AS price_cents
FROM lineitem
""",
)
def udtf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-wise Arrow map via ``mapInArrow``.

    Streams each partition as a sequence of ``pyarrow.RecordBatch``es
    through one Python worker call — the batch-iterator shape used for
    model inference and media decode at scale, with batch size bounded
    by ``spark.sql.execution.arrow.maxRecordsPerBatch`` so executor
    memory stays flat regardless of partition size. Row-local arithmetic
    (price → exact integer cents) keeps it oracle-checkable.
    """
    import pyarrow as pa

    def to_cents(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        for b in batches:
            cents = pc.round(pc.multiply(b.column("l_extendedprice"), 100)).cast(
                pa.int64()
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("l_orderkey"), b.column("l_linenumber"), cents],
                names=["l_orderkey", "l_linenumber", "price_cents"],
            )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    return li.mapInArrow(
        to_cents, "l_orderkey BIGINT, l_linenumber INT, price_cents BIGINT"
    )


@register(
    "udtf_analyze",
    oracle="""
SELECT doc_id,
       unnest(string_split(text, ' ')) AS word,
       CAST(unnest(range(len(string_split(text, ' ')))) AS INT) AS pos
FROM documents
WHERE doc_id < 50
""",
)
def udtf_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (Spark 4): the output schema comes from a
    static ``analyze()`` method resolved at plan time, not a fixed
    ``returnType`` — the API for table functions whose shape depends on
    their arguments. The demo tokenizes text into (word, pos) rows via
    a correlated LATERAL invocation; the oracle is DuckDB's zipped
    unnest-with-ordinality. Tokenization is ``split(' ')`` (empties
    preserved) so both engines emit identical rows.

    Scale: a Python UDTF is the row-at-a-time slow path (each outer
    row crosses into Python); the built-in equivalent is
    ``posexplode(split(...))`` (see text_* family) — this key exists
    for API-surface completeness, like `udf_python`.
    """
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class SplitWords:
        @staticmethod
        def analyze(col: AnalyzeArgument) -> AnalyzeResult:
            return AnalyzeResult(
                StructType(
                    [
                        StructField("word", StringType()),
                        StructField("pos", IntegerType()),
                    ]
                )
            )

        def eval(self, text: str):
            for i, w in enumerate((text or "").split(" ")):
                yield (w, i)

    spark.udtf.register("sky_split_words", SplitWords)
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT d.doc_id, t.word, t.pos
        FROM documents d, LATERAL sky_split_words(d.text) t
        WHERE d.doc_id < 50
        """
    )


@register(
    "udf_sql",
    oracle="""
SELECT o_orderkey, o_totalprice,
       CASE WHEN o_totalprice < 50000 THEN 'low'
            WHEN o_totalprice < 200000 THEN 'mid'
            ELSE 'high' END AS band,
       CAST(FLOOR(o_totalprice) AS BIGINT) * 2 AS doubled
FROM orders
""",
)
def udf_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined UDFs (Spark 4 ``CREATE FUNCTION … RETURN expr``) —
    reusable business logic WITHOUT leaving the JVM: the function body
    is inlined into the plan at analysis time, so unlike every Python
    UDF in this family it costs nothing at runtime (same codegen as
    writing the expression inline — the fastest rung of the UDF
    ladder, above pandas_udf and far above row-Python). The oracle
    states the inlined expressions directly.
    """
    from ..catalog import register_views

    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION sky_price_band(p DOUBLE) "
        "RETURNS STRING RETURN CASE WHEN p < 50000 THEN 'low' "
        "WHEN p < 200000 THEN 'mid' ELSE 'high' END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION sky_double_floor(p DOUBLE) "
        "RETURNS BIGINT RETURN CAST(FLOOR(p) AS BIGINT) * 2"
    )
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice,
               sky_price_band(o_totalprice) AS band,
               sky_double_floor(o_totalprice) AS doubled
        FROM orders
        """
    )


@register(
    "api_pandas_on_spark",
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM({grid_sql('o_totalprice', 2)})
            AS DOUBLE) / 100.0 AS total
FROM orders
GROUP BY o_orderpriority
""",
)
def api_pandas_on_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas API on Spark (``pyspark.pandas``) — the THIRD user
    API next to DataFrame and SQL, for teams porting pandas code: a
    groupby-aggregate written in pandas idiom (``df.groupby(...)
    .agg(...)``) that lowers to the SAME Catalyst plan as the native
    DataFrame form, proven by hash-matching the same oracle.

    The money sum pre-scales to exact cent-longs BEFORE entering the
    pandas-API groupby (the engine-wide determinism rule applies to
    every API door), and ``to_spark()`` hands back the logical plan —
    no materialization, no driver round-trip; at 100 TB the pandas
    facade costs nothing at execution time because there is no
    pandas at execution time.
    """
    import pyspark.pandas as pso

    psdf = pso.read_parquet(f"{sf_dir}/orders.parquet")
    # floor via the column's spark accessor to stay engine-exact
    from pyspark.sql import functions as SF

    psdf["cents"] = psdf["o_totalprice"].spark.transform(
        lambda c: SF.floor(c * SF.lit(100.0) + SF.lit(0.5))
    )
    out = (
        psdf.groupby("o_orderpriority")
        .agg(n=("o_orderkey", "count"), cents_sum=("cents", "sum"))
        .reset_index()
    )
    sdf = out.to_spark()
    return sdf.select(
        "o_orderpriority",
        F.col("n").cast("long").alias("n"),
        (F.col("cents_sum").cast("double") / F.lit(100.0)).alias("total"),
    )


@register(
    "udf_arrow_optimized",
    oracle="""
SELECT o_orderkey,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) * 3
         - CAST(ROUND(o_totalprice * 100) AS BIGINT) // 7 AS score
FROM orders
""",
)
def udf_arrow_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-OPTIMIZED scalar Python UDF (``udf(..., useArrow=True)``,
    Spark 3.5+/4): same ``def``-style ergonomics as the classic pickled
    row-at-a-time UDF, but arguments arrive as Arrow-backed pandas
    batches — the middle rung between `udf_python` (row pickling,
    ~10–100× slower) and `udf_pandas_scalar` (explicit pandas_udf
    typing). The kernel is exact integer arithmetic on cents
    (floor-division tie-broken the same way in both engines), so even
    this Python-side path is hash-checked.

    At 100 TB the guidance ordering stands: built-in expression >
    arrow-optimized/pandas UDF > pickled UDF — this key exists so the
    middle rung's wiring (Arrow batch size, schema inference, null
    passthrough) is exercised and benchmarked against its SQL twin.
    """
    import pandas as pd

    @F.udf("long", useArrow=True)
    def score(cents: pd.Series) -> pd.Series:
        return cents * 3 - cents // 7

    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return o.select("o_orderkey", score(cents).alias("score"))


@register(
    "udtf_table_partition_by",
    oracle=f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM({grid_sql('value', 2)}) AS BIGINT)
         AS sum_value_cents,
       CAST(MIN(event_id) AS BIGINT) AS first_event_id
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def udtf_table_partition_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF over a TABLE argument with PARTITION BY / ORDER BY
    (Spark 4): the engine shuffles the input on the partition key,
    sorts within partitions, and streams each partition's rows through
    one UDTF instance — ``eval`` accumulates, ``terminate`` emits the
    per-partition row. This is the API for arbitrary per-group
    imperative logic when built-in aggregates genuinely can't express
    it (custom state machines, ordered scans); here the body is a
    plain count/sum/first so the DuckDB oracle can hash-verify the
    machinery end to end.

    Scale: same shuffle shape as groupBy — partitions stream one row
    at a time through Python, memory is O(1) per group, skewed keys
    hurt exactly like any group-by key. The built-in equivalent is the
    stated GROUP BY; the UDTF rung costs the Python row boundary
    (use applyInPandas for Arrow-batched transfer when the logic
    vectorizes — see udtf_grouped_map).
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType=(
        "event_type string, n bigint, sum_value_cents bigint, "
        "first_event_id bigint"
    ))
    class PerTypeStats:
        def __init__(self):
            self._key = None
            self._n = 0
            self._sum = 0
            self._first = None

        def eval(self, row):
            self._key = row["event_type"]
            self._n += 1
            import math

            self._sum += int(math.floor(row["value"] * 100.0 + 0.5))
            if self._first is None:
                self._first = row["event_id"]

        def terminate(self):
            if self._key is not None:
                yield (self._key, self._n, self._sum, self._first)

    spark.udtf.register("sky_per_type_stats", PerTypeStats)
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_type, n, sum_value_cents, first_event_id
        FROM sky_per_type_stats(
          TABLE(SELECT event_type, value, event_id FROM events)
          PARTITION BY event_type ORDER BY event_id
        )
        ORDER BY event_type
        """
    )


def _reconcile_bucket(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
    """Cogrouped reconciliation kernel, VECTORIZED per bucket: the
    cogroup key is a coarse hash bucket, and the per-order math runs as
    numpy/pandas group operations inside it — one python invocation
    per bucket, not per order (measured 57 s -> ~2 s at sf0.01 versus
    the per-order-key form). Cents math on the exact +0.5-floor grid
    matches both engines."""
    import numpy as np

    orders = pd.DataFrame(
        {
            "o_orderkey": left["o_orderkey"].astype("int64"),
            "o_cents": np.floor(
                left["o_totalprice"] * 100.0 + 0.5
            ).astype("int64"),
        }
    )
    if len(right):
        li_cents = np.floor(
            right["l_extendedprice"] * (1.0 - right["l_discount"])
            * (1.0 + right["l_tax"]) * 100.0 + 0.5
        ).astype("int64")
        agg = (
            pd.DataFrame(
                {"o_orderkey": right["l_orderkey"].astype("int64"),
                 "li_cents": li_cents}
            )
            .groupby("o_orderkey", as_index=False)
            .agg(li_cents=("li_cents", "sum"), n_lines=("li_cents", "size"))
        )
    else:
        agg = pd.DataFrame(
            {"o_orderkey": [], "li_cents": [], "n_lines": []}
        ).astype("int64")
    out = orders.merge(agg, on="o_orderkey", how="left")
    out["li_cents"] = out["li_cents"].fillna(0).astype("int64")
    out["n_lines"] = out["n_lines"].fillna(0).astype("int64")
    return out


@register(
    "udtf_cogrouped_map",
    oracle=f"""
WITH li AS (
  SELECT l_orderkey,
         CAST(SUM({grid_sql('''l_extendedprice * (1.0 - l_discount)
                             * (1.0 + l_tax)''', 2)}) AS BIGINT) AS li_cents,
         CAST(COUNT(*) AS BIGINT) AS n_lines
  FROM lineitem GROUP BY l_orderkey)
SELECT o.o_orderkey,
       {grid_sql('o.o_totalprice', 2)} AS o_cents,
       COALESCE(li.li_cents, 0) AS li_cents,
       COALESCE(li.n_lines, 0) AS n_lines
FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
""",
)
def udtf_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COGROUPED pandas transform — the two-sided member of the pandas
    API family (`udtf_grouped_map` is one-sided, `udtf_map_in_pandas`
    is ungrouped): ``a.groupBy(k).cogroup(b.groupBy(k))
    .applyInPandas(fn)`` hands each key's rows from BOTH DataFrames to
    one python function as two aligned pandas frames — the escape
    hatch for per-key logic that needs both sides at once
    (reconciliation, as-of matching with custom rules, feature/label
    alignment) when no built-in join expresses it.

    The kernel reconciles each order header against its line items on
    the exact cent grid, so the python path is fully oracle-checked by
    the relational LEFT JOIN restatement. Plan shape: BOTH sides
    shuffle once on the cogroup key into aligned partitions
    (FlatMapCoGroupsInPandas), Arrow-batched — at 100 TB this costs
    exactly the two exchanges the equivalent join would.

    The cogroup key is a COARSE HASH BUCKET of the order key, not the
    order key itself: cogroup pays one python invocation per KEY, so
    ultra-fine keys drown in per-call overhead (57 s/sf0.01 per-order
    vs ~2 s bucketed, measured) — bucket the cogroup and vectorize the
    fine-grained logic inside the kernel, the same rule that applies
    to any applyInPandas key choice.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.pmod("o_orderkey", F.lit(256)).alias("b")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_tax",
        F.pmod("l_orderkey", F.lit(256)).alias("b"),
    )
    return (
        o.groupBy("b")
        .cogroup(li.groupBy("b"))
        .applyInPandas(
            _reconcile_bucket,
            "o_orderkey BIGINT, o_cents BIGINT, li_cents BIGINT, "
            "n_lines BIGINT",
        )
    )
