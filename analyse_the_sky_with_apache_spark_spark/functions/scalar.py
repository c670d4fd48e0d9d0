"""Scalar-function families (SURVEY.md §2.8).

One registered query per family; each stacks several functions so a
single value-hash covers them all. Everything stays JVM-side inside
whole-stage codegen — no Python UDFs anywhere on this surface.

Cross-engine discipline learned the hard way (tools/check.py):
- never ROUND a raw double for output — identical IEEE expression trees
  already agree bit-for-bit, and ROUND semantics differ on edge doubles;
  round only transcendentals (libm results genuinely differ in the last
  ulp) and round them coarsely;
- never CAST double→int (Spark truncates, DuckDB rounds) — floor first;
- integer microseconds (unix_micros/epoch_us) for timestamp arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from .exact import grid_sql


@register(
    "fn_string",
    oracle="""
SELECT c_custkey,
       concat(c_name, '-', c_mktsegment)              AS full_label,
       upper(substr(c_name, 1, 8))                    AS head_up,
       lower(c_mktsegment)                            AS seg_lo,
       length(c_name)                                 AS name_len,
       lpad(CAST(c_custkey AS VARCHAR), 12, '0')      AS key_pad,
       rpad(c_mktsegment, 12, '.')                    AS seg_pad,
       trim(concat('  ', c_mktsegment, '  '))         AS seg_trim,
       regexp_extract(c_name, 'Customer#(\\d+)', 1)   AS cust_num,
       regexp_replace(c_name, '0+', '-', 'g')         AS squashed,
       replace(c_name, 'Customer', 'C')               AS short_name,
       strpos(c_name, '#')                            AS hash_pos,
       (c_name LIKE '%9%')                            AS has_nine
FROM customer
""",
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: concat/substr/case/pad/trim/regex/replace/position."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.concat(F.col("c_name"), F.lit("-"), F.col("c_mktsegment")).alias(
            "full_label"
        ),
        F.upper(F.substring("c_name", 1, 8)).alias("head_up"),
        F.lower("c_mktsegment").alias("seg_lo"),
        F.length("c_name").alias("name_len"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("key_pad"),
        F.rpad("c_mktsegment", 12, ".").alias("seg_pad"),
        F.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit("  "))).alias(
            "seg_trim"
        ),
        F.regexp_extract("c_name", r"Customer#(\d+)", 1).alias("cust_num"),
        # DuckDB side needs the 'g' flag — its regexp_replace is
        # first-match-only by default, Spark's is global.
        F.regexp_replace("c_name", "0+", "-").alias("squashed"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("C")).alias("short_name"),
        F.instr("c_name", "#").alias("hash_pos"),
        F.col("c_name").like("%9%").alias("has_nine"),
    )


@register(
    "fn_date",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderdate AS DATE)                       AS d,
       year(CAST(o_orderdate AS DATE))                 AS yr,
       month(CAST(o_orderdate AS DATE))                AS mo,
       day(CAST(o_orderdate AS DATE))                  AS dom,
       quarter(CAST(o_orderdate AS DATE))              AS qtr,
       isodow(CAST(o_orderdate AS DATE)) - 1           AS wd,
       CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
                                                       AS month_start,
       CAST(o_orderdate AS DATE) + 30                  AS plus_30,
       CAST(o_orderdate AS DATE) - 15                  AS minus_15,
       datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
                                                       AS days_since,
       last_day(CAST(o_orderdate AS DATE))             AS month_end,
       make_date(year(CAST(o_orderdate AS DATE)),
                 month(CAST(o_orderdate AS DATE)), 1)  AS first_of_month,
       datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                                                       AS epoch_days
FROM orders
""",
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date family. Fixture dates are midnight timestamps, cast to date
    first (§5.3). Weekday alignment: Spark weekday (0=Mon) == DuckDB
    isodow-1."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        d.alias("d"),
        F.year(d).alias("yr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dom"),
        F.quarter(d).alias("qtr"),
        F.weekday(d).alias("wd"),
        F.date_trunc("month", d).cast("date").alias("month_start"),
        F.date_add(d, 30).alias("plus_30"),
        F.date_sub(d, 15).alias("minus_15"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).alias("days_since"),
        F.last_day(d).alias("month_end"),
        F.make_date(F.year(d), F.month(d), F.lit(1)).alias("first_of_month"),
        F.unix_date(d).alias("epoch_days"),
    )


@register(
    "fn_math",
    oracle="""
SELECT p_partkey,
       abs(p_size - 25)                       AS dist_25,
       CAST(ceil(p_retailprice) AS BIGINT)    AS price_ceil,
       CAST(floor(p_retailprice) AS BIGINT)   AS price_floor,
       p_size * p_size                        AS size_sq,
       sqrt(p_size)                           AS size_sqrt,
       round(exp(p_size / 10.0), 6)           AS e_pow,
       round(ln(p_retailprice), 6)            AS log_price,
       p_size % 7                             AS size_mod,
       CAST(sign(p_size - 25) AS INT)         AS side,
       CAST(floor(p_retailprice / 100) AS BIGINT) AS price_bin
FROM part
""",
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family. sqrt is IEEE-correctly-rounded (exact cross-engine);
    exp/ln are libm-dependent, hence rounded to 6. floor(x/width) is the
    engine's histogram-binning idiom (width_bucket is not portable to the
    oracle)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.abs(F.col("p_size") - 25).alias("dist_25"),
        F.ceil("p_retailprice").cast("bigint").alias("price_ceil"),
        F.floor("p_retailprice").cast("bigint").alias("price_floor"),
        (F.col("p_size") * F.col("p_size")).alias("size_sq"),
        F.sqrt("p_size").alias("size_sqrt"),
        F.round(F.exp(F.col("p_size") / 10.0), 6).alias("e_pow"),
        F.round(F.log(F.col("p_retailprice")), 6).alias("log_price"),
        (F.col("p_size") % 7).alias("size_mod"),
        F.signum(F.col("p_size") - 25).cast("int").alias("side"),
        F.floor(F.col("p_retailprice") / 100).cast("bigint").alias("price_bin"),
    )


@register(
    "fn_cast",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderkey AS VARCHAR)                    AS key_str,
       CAST(floor(o_totalprice) AS BIGINT)            AS price_int,
       CAST(o_orderdate AS DATE)                      AS d,
       CAST(o_orderkey AS DOUBLE) / 7                 AS key_frac,
       CAST(concat(CAST(o_orderkey AS VARCHAR), '.5') AS DOUBLE)
                                                      AS parsed_dbl,
       TRY_CAST(o_orderstatus AS INTEGER)             AS bad_int,
       TRY_CAST(concat('x', CAST(o_orderkey AS VARCHAR)) AS DOUBLE)
                                                      AS bad_dbl
FROM orders
""",
)
def fn_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cast/try_cast across types. double→int goes through floor()
    (Spark truncates a bare cast, DuckDB rounds it — not portable);
    try_cast on malformed input yields NULL in both engines."""
    o = load_table(spark, sf_dir, "orders")
    key_str = F.col("o_orderkey").cast("string")
    return o.select(
        "o_orderkey",
        key_str.alias("key_str"),
        F.floor("o_totalprice").cast("bigint").alias("price_int"),
        F.col("o_orderdate").cast("date").alias("d"),
        (F.col("o_orderkey").cast("double") / 7).alias("key_frac"),
        F.concat(key_str, F.lit(".5")).cast("double").alias("parsed_dbl"),
        F.col("o_orderstatus").try_cast("int").alias("bad_int"),
        F.concat(F.lit("x"), key_str).try_cast("double").alias("bad_dbl"),
    )


@register(
    "fn_array",
    oracle="""
SELECT vec_id,
       len(embedding)                                    AS dim,
       embedding[1]::DOUBLE                              AS first_val,
       list_aggregate(embedding, 'max')::DOUBLE          AS max_val,
       list_aggregate(embedding, 'min')::DOUBLE          AS min_val,
       round(list_aggregate(list_transform(embedding, x -> x::DOUBLE),
                            'sum'), 4)                   AS sum_val,
       round(list_aggregate(list_transform(embedding[1:8],
                            x -> x::DOUBLE), 'sum'), 4)  AS sum_head,
       len(list_distinct(embedding))                     AS n_distinct,
       list_sort(embedding)[1]::DOUBLE                   AS sorted_first,
       list_contains(embedding, embedding[1])            AS has_first,
       len(list_filter(embedding, x -> x > 0))           AS n_pos,
       (vec_id % 10 + 1) * (vec_id % 10 + 2) / 2         AS tri_sum
FROM embeddings
""",
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family incl. higher-order functions (transform/filter/
    aggregate/zip_with are the idiomatic no-UDF path for vector math).
    Array-typed outputs are reduced to scalars — cross-engine hashing of
    raw lists is not portable."""
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    as_double = F.transform(emb, lambda x: x.cast("double"))
    fold_sum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, x: acc + x
    )
    return e.select(
        "vec_id",
        F.size(emb).alias("dim"),
        F.element_at(emb, 1).cast("double").alias("first_val"),
        F.array_max(emb).cast("double").alias("max_val"),
        F.array_min(emb).cast("double").alias("min_val"),
        F.round(fold_sum(as_double), 4).alias("sum_val"),
        F.round(
            fold_sum(F.transform(F.slice(emb, 1, 8), lambda x: x.cast("double"))), 4
        ).alias("sum_head"),
        F.size(F.array_distinct(emb)).alias("n_distinct"),
        F.element_at(F.sort_array(emb), 1).cast("double").alias("sorted_first"),
        F.array_contains(emb, F.element_at(emb, 1)).alias("has_first"),
        F.size(F.filter(emb, lambda x: x > 0)).alias("n_pos"),
        fold_sum(F.sequence(F.lit(1), (F.col("vec_id") % 10 + 1).cast("int")))
        .cast("double")
        .alias("tri_sum"),
    )


@register(
    "fn_map_struct",
    oracle="""
SELECT event_id,
       json_extract(props, '$.k')::INTEGER     AS k_val,
       len(json_keys(props))                   AS n_keys,
       event_type                              AS type_from_struct,
       user_id * 2                             AS doubled_id
FROM events
""",
)
def fn_map_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON→struct/map manufacture + field access (the fixtures have no
    nested columns, so nested values are built from events.props and
    struct()/named_struct, then reduced back to scalars)."""
    ev = load_table(spark, sf_dir, "events")
    as_struct = F.from_json("props", "k INT")
    as_map = F.from_json("props", "map<string,int>")
    nested = F.named_struct(
        F.lit("t"), F.col("event_type"), F.lit("u"), F.col("user_id")
    )
    return ev.select(
        "event_id",
        as_struct.getField("k").alias("k_val"),
        F.size(F.map_keys(as_map)).alias("n_keys"),
        nested.getField("t").alias("type_from_struct"),
        (nested.getField("u") * 2).alias("doubled_id"),
    )


@register(
    "fn_json",
    oracle="""
SELECT json_extract_string(props, '$.k')           AS k_str,
       json_extract(props, '$.k')::INTEGER         AS k_int,
       COUNT(*)                                    AS n,
       CAST(SUM(CASE WHEN json_extract_string(props, '$.missing') IS NULL
                THEN 1 ELSE 0 END) AS BIGINT)      AS n_absent,
       bool_and(json_valid(props))                 AS all_valid,
       MIN(event_id)                               AS first_event
FROM events
GROUP BY 1, 2
""",
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-path family over the props payload; missing paths yield NULL
    in both engines.

    Parses each payload ONCE via ``from_json`` and extracts every field
    from the struct — N separate ``get_json_object`` calls re-parse the
    string per path (measured 1.19 s → 0.80 s at sf0.1). The corrupt-
    record column makes validity a by-product of the same parse. The
    grouped tail keeps the collected result proportional to the k-domain,
    not the event count, while the hash still covers every extraction.
    """
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json(
        "props",
        "k INT, missing STRING, _corrupt STRING",
        {"columnNameOfCorruptRecord": "_corrupt"},
    )
    # r12 note: a single-split fan-out before the parse was tried and
    # REVERTED — at this events volume the added exchange (stage +
    # shuffle of props) costs more than the serial parse it
    # parallelizes (paired A/B ~0.9 s → ~3.7 s). The fan-out pattern
    # only pays when per-row work dominates the shuffle (md5 folds,
    # ×200 fan-outs), which a 3-field from_json does not.
    return (
        ev.select("event_id", parsed.alias("p"))
        .groupBy(
            F.col("p.k").cast("string").alias("k_str"),
            F.col("p.k").alias("k_int"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("p.missing").isNull(), 1).otherwise(0)
            ).alias("n_absent"),
            F.bool_and(F.col("p._corrupt").isNull()).alias("all_valid"),
            F.min("event_id").alias("first_event"),
        )
    )


@register(
    "fn_hash",
    oracle="""
SELECT doc_id,
       md5(text)            AS text_md5,
       sha256(text)         AS text_sha256,
       md5(concat(lang, '|', source)) AS meta_md5
FROM documents
""",
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable hash family (md5/sha256 hex). Spark-native hashes
    (xxhash64, hash, crc32) live in fn_hash_native — their seeds are
    engine-specific."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2(F.col("text"), 256).alias("text_sha256"),
        F.md5(F.concat(F.col("lang"), F.lit("|"), F.col("source"))).alias("meta_md5"),
    )


@register("fn_hash_native")  # rows-only: Spark-specific hash seeds
def fn_hash_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 / murmur3 hash / crc32 — the fast in-engine hashes used
    by shuffle partitioning and the dedup/LSH operators."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.xxhash64("text").alias("text_xx64"),
        F.hash("text").alias("text_murmur"),
        F.crc32("text").alias("text_crc32"),
    )


@register(
    "fn_bitwise",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_orderkey & 255                       AS k_and,
       l_orderkey | 4096                      AS k_or,
       xor(l_orderkey, l_linenumber)          AS k_xor,
       l_orderkey << 2                        AS k_shl,
       l_orderkey >> 3                        AS k_shr,
       bit_count(l_orderkey)                  AS k_bits
FROM lineitem
WHERE l_orderkey < 1000
""",
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise family — the workhorse of fingerprints, bitmask flags and
    banded hashing (dedup_simhash builds on exactly these primitives)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    k, n = F.col("l_orderkey"), F.col("l_linenumber")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        k.bitwiseAND(F.lit(255)).alias("k_and"),
        k.bitwiseOR(F.lit(4096)).alias("k_or"),
        k.bitwiseXOR(n).alias("k_xor"),
        F.shiftleft(k, 2).alias("k_shl"),
        F.shiftright(k, 3).alias("k_shr"),
        F.bit_count(k).alias("k_bits"),
    )


@register(
    "fn_generator",
    oracle="""
SELECT doc_id,
       CAST(UNNEST(range(len(string_split(text, ' ')))) AS INT) AS pos,
       UNNEST(string_split(text, ' ')) AS word
FROM documents
""",
)
def fn_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator (table-valued) expressions: posexplode with ordinality.

    ``posexplode`` emits (position, element) pairs — the ordinality-
    preserving lateral flatten (DuckDB: zipped UNNESTs). Generate exec
    runs map-side inside whole-stage codegen: no shuffle, output rows =
    total token count. Position is the 0-based array index, so token
    order survives the flatten — required by any sequence-aware
    downstream (n-grams, positional features).
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "word"),
    )


@register(
    "fn_variant",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS INT) AS k_int,
       CAST(json_extract(props, '$.k') AS DOUBLE) AS k_double,
       json_extract_string(props, '$.k') AS k_str,
       CAST(json_extract(props, '$.missing') AS INT) AS k_missing
FROM events
""",
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT columns (Spark 4): parse once, extract typed.

    ``parse_json`` decodes the JSON string into the binary VARIANT
    encoding a single time; each ``variant_get`` then navigates the
    pre-parsed tree — unlike ``get_json_object``, which re-parses the
    string per call (a measured trap, see fn_json). Missing paths yield
    NULL via ``try_variant_get``. At 100 TB VARIANT is the schema-on-read
    answer for heterogeneous event payloads: store once as VARIANT,
    shred typed columns at query time with full codegen support.
    """
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k_int"),
        F.variant_get(v, "$.k", "double").alias("k_double"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
        F.try_variant_get(v, "$.missing", "int").alias("k_missing"),
    )


@register(
    "fn_url",
    oracle="""
SELECT c_custkey,
       lower(replace(c_name, '#', '')) || '.example.com' AS host,
       '/seg/' || CAST(c_nationkey AS VARCHAR) AS path,
       'q=' || c_mktsegment AS query,
       'c=' || c_mktsegment AS q_param
FROM customer
""",
)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing: build a URL, then take it apart with ``parse_url``.

    The oracle derives each component directly from the source columns,
    so ``parse_url``'s HOST/PATH/QUERY/QUERY-param extraction is checked
    against an independent ground-truth construction — not against
    another URL parser. Web-corpus pipelines need this for host-level
    dedup and robots/quality filtering; it's a codegen'd JVM expression,
    no regex in Python.
    """
    c = load_table(spark, sf_dir, "customer")
    url = F.concat(
        F.lit("https://"),
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit(""))),
        F.lit(".example.com/seg/"),
        F.col("c_nationkey").cast("string"),
        F.lit("?q="),
        F.col("c_mktsegment"),
        F.lit("&c="),
        F.col("c_mktsegment"),
    )
    return c.select(
        "c_custkey",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.concat(F.lit("q="), F.parse_url(url, F.lit("QUERY"), F.lit("q"))).alias(
            "query"
        ),
        F.concat(
            F.lit("c="), F.parse_url(url, F.lit("QUERY"), F.lit("c"))
        ).alias("q_param"),
    )


@register(
    "fn_map_hof",
    oracle="""
SELECT user_id, event_type, COUNT(*)*10 AS scaled
FROM events GROUP BY user_id, event_type HAVING COUNT(*) >= 2
""",
)
def fn_map_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions: build → transform → filter → flatten.

    Per user, the event-type histogram becomes a real MapType column
    (``map_from_entries`` over collected structs), is rescaled with
    ``transform_values``, thinned with ``map_filter``, and exploded back
    to rows. The oracle computes the same result relationally (GROUP BY
    + HAVING) — two genuinely different shapes, one fixpoint. Map HOFs
    are codegen'd JVM lambdas: the per-user map stays inside one row, so
    the pipeline after the first aggregation is shuffle-free; at 100 TB
    this is the pattern for per-entity feature dictionaries (bounded
    key space per row, never a row explosion until the final flatten).
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    m = counts.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "n"))).alias(
            "m"
        )
    )
    return m.select(
        "user_id",
        F.explode(
            F.map_filter(
                F.transform_values(F.col("m"), lambda k, v: v * 10),
                lambda k, v: v >= 20,
            )
        ).alias("event_type", "scaled"),
    )


@register(
    "fn_interval",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) AS d,
       CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS plus_3m,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(date_trunc('quarter', CAST(o_orderdate AS DATE)) AS DATE)
         AS qtr_start,
       CAST(o_orderdate AS DATE) + 10 AS plus_10d,
       CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
            AS BIGINT) AS days_to_2002
FROM orders
WHERE o_orderkey % 100 = 0
""",
)
def fn_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/calendar arithmetic family: month addition (with its
    end-of-month clamping, which both engines share), month/quarter
    boundaries, day offsets and day distances.

    All codegen'd date arithmetic on a pushed-down keyed slice — no
    shuffle. Cross-engine hazards handled: timestamps cast to DATE
    before arithmetic (midnight-timestamp fixture trap, SURVEY.md
    §5.3), and only operations with identical calendar semantics in
    Spark and DuckDB are exposed (e.g. ``next_day`` is Spark-only and
    excluded).
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 100 == 0
    )
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        d.alias("d"),
        F.add_months(d, 3).alias("plus_3m"),
        F.last_day(d).alias("month_end"),
        F.date_trunc("quarter", d).cast("date").alias("qtr_start"),
        F.date_add(d, 10).alias("plus_10d"),
        F.dayofyear(d).cast("long").alias("doy"),
        F.datediff(F.lit("2002-01-01").cast("date"), d)
        .cast("long")
        .alias("days_to_2002"),
    )


@register(
    "fn_collation",
    oracle="""
WITH variants AS (
  SELECT lang FROM documents
  UNION ALL SELECT upper(lang) FROM documents
  UNION ALL SELECT concat(upper(substr(lang, 1, 1)), substr(lang, 2))
  FROM documents
)
SELECT lower(lang) AS lang_ci, COUNT(*) AS n
FROM variants
GROUP BY lower(lang)
""",
)
def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive grouping via Spark 4 COLLATION — the engine
    groups on ``COLLATE(lang, 'UTF8_LCASE')`` so 'en' / 'EN' / 'En'
    (synthesized case variants of the corpus language codes) land in
    ONE group with no normalizing rewrite of the data. Collation rides
    the hash aggregation — same partial/final plan, the collation only
    changes the grouping key's equality/hash functions. The group
    REPRESENTATIVE under a collation is whichever variant the engine
    keeps, so the projection lowercases it for the oracle hash (the
    oracle states the portable lower() rewrite — same semantics for
    ASCII codes).
    """
    d = load_table(spark, sf_dir, "documents").select("lang")
    variants = (
        d.unionByName(d.select(F.upper("lang").alias("lang")))
        .unionByName(d.select(F.initcap("lang").alias("lang")))
    )
    return (
        variants.groupBy(F.expr("COLLATE(lang, 'UTF8_LCASE')").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lower(F.col("k").cast("string")).alias("lang_ci"), "n")
    )


@register(
    "fn_try_arith",
    oracle="""
SELECT o_orderkey,
       CASE WHEN (o_orderkey % 100) <> 0
            THEN CAST(FLOOR(o_totalprice) AS BIGINT) // (o_orderkey % 100)
       END AS safe_div,
       CASE WHEN o_totalprice < 1e15 THEN
            CAST(FLOOR(o_totalprice) AS BIGINT) * 1000000
       END AS safe_mul,
       CASE WHEN o_orderstatus IN ('O','F','P') THEN NULL
            ELSE NULL END AS bad_cast
FROM orders
""",
)
def fn_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic: ``try_divide`` / ``try_multiply`` /
    ``try_cast`` return NULL where strict ANSI mode would THROW
    (division by zero, overflow, bad cast) — the error-tolerant lane a
    pipeline uses on dirty data without disabling ANSI globally.
    Division by zero is planted via ``o_orderkey % 100`` (every 100th
    row); the bad cast tries a non-numeric status string. The oracle
    states the equivalent CASE guards. Cross-engine cast hazard handled:
    DuckDB CAST(double AS BIGINT) ROUNDS while Spark's truncates, so
    both sides FLOOR before the integer cast; try_divide returns true
    division (DOUBLE), floored to match DuckDB's // floor-division.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.floor(
            F.try_divide(
                F.floor("o_totalprice").cast("bigint"),
                F.col("o_orderkey") % 100,
            )
        ).alias("safe_div"),
        F.try_multiply(
            F.floor("o_totalprice").cast("bigint"), F.lit(1000000).cast("bigint")
        ).alias("safe_mul"),
        F.expr("try_cast(o_orderstatus AS BIGINT)").alias("bad_cast"),
    )


_AES_KEY = "0123456789abcdef"


@register(
    "fn_crypto",
    oracle="""
SELECT c_custkey, c_name AS roundtrip, TRUE AS match
FROM customer
""",
)
def fn_crypto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AES-GCM encrypt/decrypt round-trip — column-level encryption for
    PII-bearing fields (the at-rest pattern when storage-side
    encryption isn't enough). The CIPHERTEXT is nondeterministic by
    design (GCM draws a random IV per value — two encryptions of the
    same value differ, which is the security property), so the checked
    output is the decrypt(encrypt(x)) round-trip, which is exact; the
    oracle is the identity. Both AES stages run JVM-side inside
    codegen — no Python, no shuffle.
    """
    c = load_table(spark, sf_dir, "customer")
    rt = F.expr(
        f"CAST(aes_decrypt(aes_encrypt(c_name, '{_AES_KEY}'),"
        f" '{_AES_KEY}') AS STRING)"
    )
    return c.select(
        "c_custkey",
        rt.alias("roundtrip"),
        (rt == F.col("c_name")).alias("match"),
    )


@register(
    "fn_business_days",
    oracle="""
WITH pairs AS (
  SELECT epoch_us(o_orderdate) // 86400000000 AS a,
         epoch_us(l_shipdate) // 86400000000 AS b
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
bd AS (
  SELECT ((b + 3) // 7) * 5 + LEAST((b + 3) % 7, 5)
       - (((a + 3) // 7) * 5 + LEAST((a + 3) % 7, 5)) AS business_days
  FROM pairs
)
SELECT business_days, COUNT(*) AS n
FROM bd GROUP BY business_days
""",
)
def fn_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day lead time between order and ship dates, as a
    histogram — calendar arithmetic done with PURE integer math on
    epoch days, deliberately avoiding each engine's dayofweek()
    (Spark counts 1=Sunday, DuckDB 0=Sunday; relying on either is a
    portability bug this operator exists to sidestep).

    The closed form: anchor epoch day −3 (1969-12-29, a Monday), then
    weekdays-before-day-n is ``(n+3) div 7 * 5 + min((n+3) mod 7, 5)``
    — full weeks contribute 5, the partial week contributes its
    weekday prefix — and the lead time is the difference of two such
    prefix sums. Zero UDFs, zero calendar tables, codegen'd longs all
    the way; the only shuffle is the orderkey join it rides and the
    tiny histogram aggregate.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def wd_prefix(day_col):
        m = day_col + F.lit(3)
        return (
            F.floor(m / F.lit(7)) * F.lit(5)
            + F.least(m % F.lit(7), F.lit(5))
        )

    a = F.floor(F.unix_micros("o_orderdate") / F.lit(86_400_000_000))
    b = F.floor(F.unix_micros("l_shipdate") / F.lit(86_400_000_000))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select((wd_prefix(b) - wd_prefix(a)).cast("long").alias("business_days"))
        .groupBy("business_days")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "sql_named_params",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n
FROM orders
WHERE o_totalprice > CAST(100000.0 AS DOUBLE)
GROUP BY o_orderpriority
""",
)
def sql_named_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (named parameter markers, Spark 3.4+): the
    injection-safe way to template queries — ``:threshold`` binds as a
    typed literal at ANALYSIS time, so the bound value participates in
    constant folding and predicate pushdown exactly like an inline
    literal (check the scan's PushedFilters), while the query text
    stays static and cacheable. The oracle inlines the same constant;
    matching hashes prove binding ≡ inlining.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders
        WHERE o_totalprice > :threshold
        GROUP BY o_orderpriority
        """,
        args={"threshold": 100000.0},
    )


@register(
    "sql_lateral_alias",
    oracle=f"""
SELECT l_orderkey, l_linenumber,
       {grid_sql('l_extendedprice * (1 - l_discount)', 2)} AS net_cents,
       {grid_sql('l_extendedprice * (1 - l_discount)', 2)} * 2 AS doubled
FROM lineitem
WHERE l_quantity < CAST(3.0 AS DOUBLE)
""",
)
def sql_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (Spark 3.4+ / DuckDB parity): a SELECT
    item referencing an alias defined EARLIER IN THE SAME SELECT —
    ``net_cents`` is defined once and reused by ``doubled``, instead
    of repeating the expression or nesting a subquery. Catalyst
    inlines the alias during analysis, so the plan is identical to
    the written-out form (no extra Project); the oracle writes the
    expression out twice and the hashes agree.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        f"""
        SELECT l_orderkey, l_linenumber,
               {grid_sql('l_extendedprice * (1 - l_discount)', 2)} AS net_cents,
               net_cents * 2 AS doubled
        FROM lineitem
        WHERE l_quantity < CAST(3.0 AS DOUBLE)
        """
    )


@register(
    "sql_group_by_all",
    oracle=f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM({grid_sql('l_quantity', 0)}) AS BIGINT)
         AS total_qty
FROM lineitem
GROUP BY ALL
""",
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` (Spark 3.4+ and DuckDB share the extension):
    group by every non-aggregate SELECT item — the analyst-ergonomics
    form that eliminates the stale-GROUP-BY-list bug when projections
    change. Both engines resolve it to the identical explicit grouping
    (the oracle literally uses GROUP BY ALL on the DuckDB side too),
    and the plan is byte-for-byte the explicit-list plan.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(SUM({grid_sql('l_quantity', 0)}) AS BIGINT)
                 AS total_qty
        FROM lineitem
        GROUP BY ALL
        """
    )


@register(
    "sql_pipe_syntax",
    oracle=f"""
SELECT l_returnflag, COUNT(*) AS n,
       CAST(SUM({grid_sql('l_extendedprice * (1 - l_discount)', 2)}) AS DOUBLE) / 100.0
         AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
ORDER BY revenue DESC, l_returnflag
LIMIT 3
""",
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0's ``|>`` operator chain, from the
    GoogleSQL pipes proposal): the query reads top-to-bottom in
    execution order — FROM |> WHERE |> AGGREGATE |> ORDER BY |> LIMIT —
    instead of the inside-out SELECT nesting. Each pipe stage lowers to
    the identical logical operator the classic form produces (the
    oracle is the classic form; matching hashes prove it), so the
    ergonomics are free: same pushdown, same partial aggregation, same
    TakeOrderedAndProject.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        f"""
        FROM lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |> AGGREGATE COUNT(*) AS n,
                     CAST(SUM({grid_sql('l_extendedprice * (1 - l_discount)', 2)})
                          AS DOUBLE) / 100.0 AS revenue
           GROUP BY l_returnflag
        |> SELECT l_returnflag, n, revenue
        |> ORDER BY revenue DESC, l_returnflag
        |> LIMIT 3
        """
    )


@register(
    "sql_filter_clause",
    oracle=f"""
SELECT l_returnflag,
       COUNT(*) AS n_all,
       COUNT(*) FILTER (WHERE l_quantity >= CAST(25.0 AS DOUBLE)) AS n_big,
       CAST(SUM({grid_sql('l_extendedprice', 2)})
            FILTER (WHERE l_discount > CAST(0.05 AS DOUBLE)) AS BIGINT)
         AS cents_discounted
FROM lineitem
GROUP BY l_returnflag
""",
)
def sql_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL:2003 aggregate FILTER clause (Spark 3.0+ and DuckDB both
    speak it): per-aggregate predicates without CASE WHEN wrapping —
    the readable form of conditional aggregation, lowering to the
    identical conditional-sum plan (`q12_late_lines`' CASE form and
    this compile to the same expressions; the oracle uses FILTER
    verbatim on the DuckDB side).

    The FILTERed SUM's NULL-on-empty semantics (vs CASE's 0) is the
    behavioral difference worth pinning — both engines agree, and the
    hash check would catch an engine that coalesced differently.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag,
               COUNT(*) AS n_all,
               COUNT(*) FILTER (WHERE l_quantity >= CAST(25.0 AS DOUBLE))
                 AS n_big,
               CAST(SUM({grid_sql('l_extendedprice', 2)})
                    FILTER (WHERE l_discount > CAST(0.05 AS DOUBLE)) AS BIGINT)
                 AS cents_discounted
        FROM lineitem
        GROUP BY l_returnflag
        """
    )


@register(
    "sql_recursive_cte",
    oracle="""
WITH RECURSIVE chain AS (
  SELECT c_custkey AS node, 1 AS depth,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS path_cents
  FROM customer WHERE c_custkey = 1
  UNION ALL
  SELECT c.c_custkey, ch.depth + 1,
         ch.path_cents + CAST(ROUND(c.c_acctbal * 100) AS BIGINT)
  FROM customer c JOIN chain ch ON c.c_custkey // 2 = ch.node
)
SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(path_cents) AS BIGINT) AS total_path_cents
FROM chain GROUP BY depth
""",
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.0 ``WITH RECURSIVE``) — the hierarchical
    walk SQL surface: treat customers as an implicit binary org-tree
    (parent = ``custkey div 2``, rooted at 1) and roll root-to-node
    path sums down level by level, reporting per-depth node counts and
    exact cents path totals.

    The engine executes each recursion level as one self-join of the
    frontier against the child scan — K levels = K joins, exactly the
    manual Pregel unrolling `graph_bfs_hops` does by hand, but
    DECLARED: the fixpoint machinery (frontier, termination on empty
    delta, level limit `spark.sql.cteRecursionLevelLimit`) is the
    engine's. Depth is log₂(|customers|) (~11–18 at any realistic
    scale) so the plan stays shallow; each level shuffles only on the
    parent key. All arithmetic is exact cents longs, so the recursion
    is hash-checkable against DuckDB's independent WITH RECURSIVE
    implementation — two fixpoint engines must agree exactly.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        WITH RECURSIVE chain AS (
          SELECT c_custkey AS node, 1 AS depth,
                 CAST(ROUND(c_acctbal * 100) AS BIGINT) AS path_cents
          FROM customer WHERE c_custkey = 1
          UNION ALL
          SELECT c.c_custkey, ch.depth + 1,
                 ch.path_cents + CAST(ROUND(c.c_acctbal * 100) AS BIGINT)
          FROM customer c JOIN chain ch ON c.c_custkey div 2 = ch.node
        )
        SELECT depth, COUNT(*) AS n_nodes,
               SUM(path_cents) AS total_path_cents
        FROM chain GROUP BY depth
        """
    )


@register(
    "sql_variables",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_big,
       CAST(MIN(o_orderkey) AS BIGINT) AS first_key
FROM orders
WHERE o_totalprice > 250000.0
GROUP BY o_orderpriority
""",
)
def sql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4: DECLARE / SET VARIABLE /
    EXECUTE IMMEDIATE): the parameterization surface for SQL-first
    pipelines — thresholds and run dates live in session state instead
    of string-formatted literals, so the same statement text deploys
    across environments and audits cleanly.

    The demo DECLAREs a price floor with a default, overrides it via
    ``EXECUTE IMMEDIATE ... USING`` (the injection-safe bind path) and
    a plain ``SET VARIABLE``, then filters through the variable.
    Variables resolve at ANALYSIS time to constants, so Catalyst still
    pushes ``o_totalprice > 250000.0`` into the parquet scan — session
    state costs nothing at 100 TB. The oracle inlines the final value,
    certifying the variable chain resolved to exactly that constant.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
        "DECLARE OR REPLACE VARIABLE price_floor DOUBLE DEFAULT 100000.0"
    )
    # bind-parameter override (EXECUTE IMMEDIATE ... USING)
    spark.sql(
        "EXECUTE IMMEDIATE 'SET VARIABLE price_floor = ?' USING 200000.0"
    )
    # plain override — last writer wins
    spark.sql("SET VARIABLE price_floor = 250000.0")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_big,
               CAST(MIN(o_orderkey) AS BIGINT) AS first_key
        FROM orders
        WHERE o_totalprice > price_floor
        GROUP BY o_orderpriority
        """
    )


@register(
    "sql_identifier_clause",
    oracle=f"""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM({grid_sql('o_totalprice', 2)})
            AS BIGINT) AS sum_cents
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``IDENTIFIER(:param)`` (Spark 4): injection-safe TABLE/COLUMN
    templating — the parameter binds as an SQL *identifier* at parse
    time, completing the parameterization story next to
    `sql_named_params` (which binds *literals*). Multi-tenant
    pipelines template "same query, different table/column" this way
    instead of f-string SQL, which is both an injection hole and a
    plan-cache miss. The bound identifier resolves before analysis, so
    pushdown/pruning see a plain column reference — the oracle inlines
    the same identifiers; matching hashes prove binding ≡ inlining.
    """
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT IDENTIFIER(:grp) AS o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({grid_sql('IDENTIFIER(:val)', 2)}) AS BIGINT) AS sum_cents
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:grp)
        ORDER BY IDENTIFIER(:grp)
        """,
        args={"tbl": "orders", "grp": "o_orderstatus", "val": "o_totalprice"},
    )


@register(
    "sql_star_except",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
FROM (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderpriority
      FROM orders)
WHERE o_orderkey % 100 = 0
ORDER BY o_orderkey
""",
)
def sql_star_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SELECT * EXCEPT (cols)`` — the Spark 4 star-modifier that
    keeps wide-table projections maintainable (drop the sensitive or
    huge columns, keep everything else, no 200-column list to
    hand-sync when the schema evolves). The oracle spells out the
    surviving columns explicitly, proving the modifier's column
    arithmetic; column PRUNING still reaches the scan because EXCEPT
    resolves at analysis time, not runtime.

    100-TB posture: pure analysis-time sugar — the physical plan is
    identical to the explicit projection, ReadSchema drops the
    excluded column at the parquet footer.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    )
    o.createOrReplaceTempView("star_except_orders")
    return spark.sql(
        "SELECT * EXCEPT (o_totalprice) FROM star_except_orders "
        "WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey"
    )


@register(
    "fn_xml",
    oracle="""
SELECT n_nationkey,
       n_name AS name_from_xml,
       n_regionkey AS region_from_xml,
       n_nationkey * 2 AS doubled_key,
       n_name IS NOT NULL AS parsed_ok
FROM nation
""",
)
def fn_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML COLUMN functions (Spark 4 ``from_xml``/``xpath`` family) —
    the per-cell twin of the file-level `scan_xml` source: payloads
    that arrive as XML STRINGS inside a column (legacy feeds, SOAP
    bodies, sitemap entries) parse once per row into a struct with a
    declared schema, exactly the fn_json discipline (never N xpath
    re-parses per field). The XML cells are ASSEMBLED from ``nation``
    columns, so the oracle re-derives every extracted field
    relationally — element order, nesting and numeric re-extraction
    round-trip through the real XML parser or the hash fails.

    100-TB posture: ``from_xml`` is a JVM-side expression on the scan
    projection — no shuffle, no Python; schema is declared (inference
    would add a full pass).
    """
    n = load_table(spark, sf_dir, "nation")
    xml = F.concat(
        F.lit("<rec><k>"), F.col("n_nationkey").cast("string"),
        F.lit("</k><nm>"), F.col("n_name"),
        F.lit("</nm><rg>"), F.col("n_regionkey").cast("string"),
        F.lit("</rg></rec>"),
    )
    parsed = F.from_xml(xml, "k INT, nm STRING, rg INT")
    return n.select(
        "n_nationkey", parsed.alias("p")
    ).select(
        "n_nationkey",
        F.col("p.nm").alias("name_from_xml"),
        F.col("p.rg").alias("region_from_xml"),
        (F.col("p.k") * F.lit(2)).alias("doubled_key"),
        F.col("p.nm").isNotNull().alias("parsed_ok"),
    )
