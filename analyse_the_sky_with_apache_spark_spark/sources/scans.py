"""Scans / sources / sinks (SURVEY.md §2.1).

Parquet is the canonical columnar source — the scan is lazy, filters and
projections push into the reader (``PushedFilters`` / ``ReadSchema`` in
``explain("formatted")``), and at 100 TB the same code path reads a
partitioned directory tree with static + dynamic partition pruning.

CSV/JSON are the ingest formats: schema is always *declared* (DDL string),
never inferred — schema inference is a full extra pass over the data, which
at 100 TB doubles the read cost and can mis-type sparse columns.

Sinks write with explicit ``mode`` and, for the partitioned variant,
``partitionBy`` — the layout that makes downstream partition pruning
possible. Demo sinks round-trip through a temp dir and are oracle-checked
on the read-back values, so the whole write→read cycle is hash-verified.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, local_frame
from ..functions.exact import dsum, dsum_sql, grid, grid_sql
from ..registry import register

#: per-PROCESS scratch root for sink round-trips; files are tiny (region /
#: one lineitem projection). mkdtemp isolates concurrent check/bench
#: processes — a shared fixed path lets one process overwrite a directory
#: another is mid-read on — and the atexit hook removes it so isolation
#: doesn't leak a directory per run.
_SCRATCH = tempfile.mkdtemp(prefix="sky_spark_sinks_")


def _cleanup_scratch() -> None:
    import shutil

    shutil.rmtree(_SCRATCH, ignore_errors=True)


import atexit  # noqa: E402

atexit.register(_cleanup_scratch)


@register(
    "scan_parquet",
    oracle="""
SELECT r_regionkey, r_name FROM region
""",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical parquet scan: schema from the footer, zero inference."""
    return load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")


@register(
    "scan_csv",
    oracle="""
SELECT r_regionkey, r_name FROM region
""",
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan with a declared schema + header.

    The fixture set is parquet-only, so the query materializes a CSV copy
    of ``region`` first (tiny, driver-side write) and then exercises the
    real CSV reader path: explicit DDL schema, header row, no inference.
    """
    path = os.path.join(_SCRATCH, "region_csv")
    load_table(spark, sf_dir, "region").select("r_regionkey", "r_name").coalesce(
        1
    ).write.mode("overwrite").option("header", "true").csv(path)
    return (
        spark.read.schema("r_regionkey BIGINT, r_name STRING")
        .option("header", "true")
        .csv(path)
    )


@register(
    "scan_json",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey FROM nation
""",
)
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan with declared schema (no inference pass)."""
    path = os.path.join(_SCRATCH, "nation_json")
    load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).coalesce(1).write.mode("overwrite").json(path)
    return spark.read.schema(
        "n_nationkey INT, n_name STRING, n_regionkey INT"
    ).json(path)


@register(
    "sink_parquet",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue', 4)},
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet write + read-back round trip.

    The aggregate is computed, written to parquet, and the *read-back*
    is returned — the oracle hash therefore verifies the sink preserved
    every value bit-for-bit, not just the row count.
    """
    path = os.path.join(_SCRATCH, "revenue_parquet")
    agg = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # the engine's exact scaled-long sum, NOT round(sum(double)) —
            # float sums are association-order-dependent and can round to
            # different cents across engines (SURVEY.md §5.3 hazard 2)
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue", 4),
            F.count(F.lit(1)).alias("n"),
        )
    )
    agg.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@register(
    "sink_partitioned",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem
WHERE l_returnflag = 'R'
""",
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout (``partitionBy``) + pruned read-back.

    Writes lineitem partitioned by ``l_returnflag`` then reads back ONE
    partition via a filter on the partition column. In the read-back plan
    the filter is a *partition filter* — Spark lists only the
    ``l_returnflag=R`` directory and never opens the other files. This is
    the layout/pruning pattern that matters at 100 TB: a predicate on the
    partition key skips data proportionally.
    """
    path = os.path.join(_SCRATCH, "lineitem_by_flag")
    load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    ).write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    back = spark.read.parquet(path).filter(F.col("l_returnflag") == "R")
    # partitionBy makes the partition column STRING on read-back and moves
    # it last; restore the original column order for the hash compare.
    return back.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


@register(
    "scan_orc",
    oracle="""
SELECT r_regionkey, r_name FROM region
""",
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip: Spark's second columnar format, hash-verified.

    DuckDB cannot read ORC, so the oracle checks the *content*: the
    round-tripped rows must equal the parquet original. ORC keeps the
    vectorized reader + predicate pushdown properties of parquet; at
    100 TB the choice between them is an ecosystem question, not a plan
    question — every operator in this engine is storage-format agnostic
    past the scan node.
    """
    path = os.path.join(_SCRATCH, "region_orc")
    df = load_table(spark, sf_dir, "region")
    df.write.mode("overwrite").orc(path)
    return spark.read.orc(path).select("r_regionkey", "r_name")


@register(
    "scan_text",
    oracle="""
SELECT text AS value FROM documents
""",
)
def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text source round-trip (``spark.read.text``).

    The raw-corpus ingestion format: one line per document, a single
    ``value`` column. Written out in parallel (one file per task) and
    read back — line order differs from input order, which the
    order-insensitive oracle hash is explicitly robust to.
    """
    path = os.path.join(_SCRATCH, "docs_text")
    load_table(spark, sf_dir, "documents").select("text").write.mode(
        "overwrite"
    ).text(path)
    return spark.read.text(path)


def _make_skygen_source():
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class SkyGenReader(DataSourceReader):
        """Partition reader for the synthetic sky-catalog generator."""

        def __init__(self, options):
            self.n = int(options.get("n", "1000"))
            self.parts = int(options.get("partitions", "4"))

        def partitions(self):
            step = (self.n + self.parts - 1) // self.parts
            return [
                InputPartition((i * step, min((i + 1) * step, self.n)))
                for i in range(self.parts)
            ]

        def read(self, partition):
            lo, hi = partition.value
            for i in range(lo, hi):
                yield (
                    i,
                    (i * 7919 % 36000) / 100.0,
                    (i * 104729 % 18000) / 100.0 - 90.0,
                    (i % 150) / 10.0,
                )

    class SkyGenSource(DataSource):
        """Deterministic synthetic object catalog (id, ra, dec, mag)."""

        @classmethod
        def name(cls):
            return "skygen"

        def schema(self):
            return "obj_id BIGINT, ra DOUBLE, dec DOUBLE, mag DOUBLE"

        def reader(self, schema):
            return SkyGenReader(self.options)

    return SkyGenSource


@register(
    "scan_pyds",
    oracle="""
SELECT i AS obj_id,
       (i*7919 % 36000)/100.0 AS ra,
       (i*104729 % 18000)/100.0 - 90.0 AS dec,
       (i % 150)/10.0 AS mag
FROM range(0, 1000) t(i)
""",
)
def scan_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom source via the Python DataSource API (Spark 4).

    The extensibility door for sources Spark lacks natively (instrument
    telemetry, survey catalogs, proprietary archives): a pure-Python
    ``DataSource`` declaring schema + input partitions, each partition
    read independently by an executor-side Python worker — the split
    model any parallel source needs at scale. The demo source generates
    a deterministic synthetic sky catalog from integer arithmetic, so
    the DuckDB oracle reproduces it exactly from ``range()`` — the
    whole plumb (registration, options, partition planning, Arrow
    return path) is hash-verified.
    """
    # Registration is idempotent (re-register replaces) and cheap;
    # id(spark)-keyed memoization can misfire after a session is
    # garbage-collected and its id reused (ADVICE r6) — so just register.
    spark.dataSource.register(_make_skygen_source())
    return (
        spark.read.format("skygen")
        .option("n", "1000")
        .option("partitions", "4")
        .load()
    )


@register(
    "sink_sorted_clustered",
    oracle="""
SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
FROM lineitem
""",
)
def sink_sorted_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered, sorted parquet layout — the data-skipping sink.

    ``repartitionByRange(l_shipdate)`` range-partitions by the query-time
    predicate column (sampled boundaries, one shuffle), then
    ``sortWithinPartitions`` orders rows inside each file. The payoff at
    100 TB: every parquet row-group's min/max stats on l_shipdate become
    tight and disjoint, so a date-range query prunes to a handful of
    row groups — the open-format equivalent of clustered indexes.
    Content round-trips bit-exactly (hash-checked against the source).
    """
    path = os.path.join(_SCRATCH, "li_clustered")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity"
    )
    (
        li.repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate", "l_orderkey", "l_linenumber")
        .write.mode("overwrite")
        .parquet(path)
    )
    return spark.read.parquet(path)


@register(
    "scan_csv_permissive",
    oracle="""
SELECT 'good' AS kind, COUNT(*) AS n FROM nation
UNION ALL
SELECT 'corrupt', 3
""",
)
def scan_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV parsing of a dirty file: three malformed lines
    (wrong arity, non-numeric key, truncated row) are planted into a
    CSV copy of ``nation``; the reader must load every GOOD row and
    route each bad line into ``_corrupt_record`` instead of failing the
    job — the posture a 100-TB ingest runs with (fail-fast on one bad
    line in a billion is not an option; DROPMALFORMED silently loses
    data — PERMISSIVE + corrupt-record audit is the production mode).
    The query returns the good/corrupt row counts; the oracle states
    the expected tallies from the clean table + the planted-bad-line
    count (the dirty file itself is engine-staged, so the oracle pins
    the COUNTS, which is exactly the ingest-audit contract).
    """
    src = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    rows = src.collect()  # 25 rows — driver-side file authoring only
    path = os.path.join(_SCRATCH, "nation_dirty_csv")
    os.makedirs(path, exist_ok=True)
    fname = os.path.join(path, "part-00000.csv")
    with open(fname, "w") as f:
        f.write("n_nationkey,n_name,n_regionkey\n")
        for i, r in enumerate(rows):
            f.write(f"{r['n_nationkey']},{r['n_name']},{r['n_regionkey']}\n")
            if i == 2:
                f.write("not_a_number,BADKEY,7\n")          # bad int
            if i == 5:
                f.write("99,TOO,MANY,FIELDS,HERE\n")        # wrong arity
            if i == 8:
                f.write("100\n")                             # truncated
    df = (
        spark.read.schema(
            "n_nationkey INT, n_name STRING, n_regionkey INT,"
            " _corrupt_record STRING"
        )
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    # one action per branch over a cached parse: corrupt-record columns
    # cannot be filtered in the same query that projects them (Spark
    # restriction) — persist then audit.
    df = df.cache()
    good = df.filter(F.col("_corrupt_record").isNull()).select(
        F.lit("good").alias("kind")
    )
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select(
        F.lit("corrupt").alias("kind")
    )
    return good.unionByName(bad).groupBy("kind").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "scan_partition_pruned",
    oracle=f"""
SELECT event_type, COUNT(*) AS n,
       CAST(SUM({grid_sql('value', 6)}) AS DOUBLE)
         / 1000000.0 AS sum_value
FROM events
WHERE event_type IN ('click', 'purchase')
GROUP BY event_type
""",
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static partition pruning, demonstrated end-to-end: events are
    laid out hive-partitioned by event_type (once, cached in scratch),
    and the reader's IN-filter prunes to the two matching directories
    BEFORE any file is opened — `PartitionFilters` in the scan node,
    zero rows read from the other partitions. This is the mechanism
    every 100-TB claim in SCALE.md leans on (partition-prune first,
    push filters second, prune columns third); here it is pinned by a
    plan-shape test instead of assumed. The oracle aggregates the
    original table — identical rows by construction.
    """
    part_dir = os.path.join(_SCRATCH, "events_by_type")
    done = os.path.join(part_dir, "_STAGED")
    if not os.path.exists(done):
        load_table(spark, sf_dir, "events").write.mode("overwrite").partitionBy(
            "event_type"
        ).parquet(part_dir)
        with open(done, "w") as f:
            f.write("ok")
    ev = spark.read.parquet(part_dir)
    return (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(grid("value", 6))
                .cast("double")
                / 1000000.0
            ).alias("sum_value"),
        )
    )


@register(
    "join_dpp",
    oracle=f"""
WITH dim AS (
  SELECT 'click' AS event_type, 'engagement' AS category
  UNION ALL SELECT 'purchase', 'revenue'
  UNION ALL SELECT 'view', 'engagement'
  UNION ALL SELECT 'signup', 'acquisition'
)
SELECT d.category, COUNT(*) AS n,
       CAST(SUM({grid_sql('e.value', 6)}) AS DOUBLE)
         / 1000000.0 AS sum_value
FROM events e JOIN dim d ON e.event_type = d.event_type
WHERE d.category = 'revenue'
GROUP BY d.category
""",
)
def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the join-driven half of the pruning
    story (`scan_partition_pruned` pins the static half): the fact side
    is hive-partitioned by event_type, the filter sits on the DIM table
    only, and at runtime Spark derives the surviving partition keys
    from the broadcast dim and prunes the fact scan with a
    ``dynamicpruning`` subquery — unmatched partitions are never read
    even though no literal predicate touches the fact table. At 100 TB
    this is what makes star-schema queries over partitioned facts read
    1% of the data; the plan-shape test asserts the pruning expression
    is present.
    """
    part_dir = os.path.join(_SCRATCH, "events_by_type")
    done = os.path.join(part_dir, "_STAGED")
    if not os.path.exists(done):
        load_table(spark, sf_dir, "events").write.mode("overwrite").partitionBy(
            "event_type"
        ).parquet(part_dir)
        with open(done, "w") as f:
            f.write("ok")
    # the dim is a table too: a filter over literal rows is folded into
    # the LocalRelation at optimization, and with no filter left on the
    # dim side Spark inserts no pruning subquery.
    dim_dir = os.path.join(_SCRATCH, "event_type_dim")
    if not os.path.exists(os.path.join(dim_dir, "_SUCCESS")):
        local_frame(
            spark,
            [
                ("click", "engagement"),
                ("purchase", "revenue"),
                ("view", "engagement"),
                ("signup", "acquisition"),
            ],
            "event_type STRING, category STRING",
        ).write.mode("overwrite").parquet(dim_dir)
    ev = spark.read.parquet(part_dir)
    dim = spark.read.parquet(dim_dir).filter(F.col("category") == "revenue")
    return (
        ev.join(F.broadcast(dim), "event_type")
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(grid("value", 6))
                .cast("double")
                / 1000000.0
            ).alias("sum_value"),
        )
    )


@register(
    "scan_merge_schema",
    oracle="""
SELECT r_regionkey, r_name, CAST(NULL AS BIGINT) AS r_tier, 1 AS v
FROM region
UNION ALL
SELECT r_regionkey, r_name, r_regionkey % 3 AS r_tier, 2 AS v
FROM region
""",
)
def scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet generations of the same
    table — the second grew an ``r_tier`` column — live side by side
    in one dataset; ``mergeSchema=true`` reads the UNION of the
    schemas, null-padding the old files (the additive-evolution
    contract every long-lived lake table relies on; without the
    option, which generation's footer wins is scan-order luck).
    Merge-on-read costs one footer pass per file at planning time —
    at 100 TB you amortize it by writing the unified schema forward
    and keeping mergeSchema for the historical tail.
    """
    base = os.path.join(_SCRATCH, "region_evolved")
    done = os.path.join(base, "_STAGED")
    r = load_table(spark, sf_dir, "region")
    if not os.path.exists(done):
        r.select("r_regionkey", "r_name", F.lit(1).alias("v")).write.mode(
            "overwrite"
        ).parquet(os.path.join(base, "gen=1"))
        r.select(
            "r_regionkey",
            "r_name",
            (F.col("r_regionkey") % 3).alias("r_tier"),
            F.lit(2).alias("v"),
        ).write.mode("overwrite").parquet(os.path.join(base, "gen=2"))
        with open(done, "w") as f:
            f.write("ok")
    df = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "gen=1"), os.path.join(base, "gen=2")
    )
    return df.select("r_regionkey", "r_name", "r_tier", "v")


@register(
    "scan_binaryfile",
    oracle="""
SELECT 'region_' || CAST(r_regionkey AS VARCHAR) || '.txt' AS fname,
       CAST(length(CAST(r_regionkey AS VARCHAR) || '|' || r_name || chr(10))
            AS BIGINT) AS n_bytes,
       md5(CAST(r_regionkey AS VARCHAR) || '|' || r_name || chr(10))
         AS checksum
FROM region
""",
)
def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file binary ingestion — Spark's ``binaryFile`` source, one
    row per file with an opaque BINARY payload column.

    This is the front door for multimodal data (images/audio/video
    arrive as files, not rows): the source yields (path, length,
    content) without interpreting bytes; downstream Arrow kernels do
    the decode (mm_binary_features). The staged files carry bytes
    derived from the ``region`` view, so the oracle recomputes every
    file's name, size, and md5 from SQL alone — verifying the bytes
    survived disk → listing → binary column intact, with no file I/O
    on the oracle side. At 100 TB the listing distributes across
    executors, ``pathGlobFilter``/``modifiedAfter`` prune files inside
    the listing, and ``spark.sql.files.maxPartitionBytes`` packs small
    media files into shared tasks.
    """
    base = os.path.join(_SCRATCH, "blob_stage")
    rows = sorted(
        load_table(spark, sf_dir, "region")
        .select("r_regionkey", "r_name")
        .collect()
    )
    os.makedirs(base, exist_ok=True)
    for r in rows:
        payload = f"{r['r_regionkey']}|{r['r_name']}\n".encode()
        path = os.path.join(base, f"region_{r['r_regionkey']}.txt")
        if not (os.path.exists(path) and os.path.getsize(path) == len(payload)):
            with open(path, "wb") as f:
                f.write(payload)
    df = spark.read.format("binaryFile").load(f"{base}/*.txt")
    return df.select(
        F.regexp_extract(F.col("path"), r"([^/]+)$", 1).alias("fname"),
        F.col("length").alias("n_bytes"),
        F.md5(F.decode(F.col("content"), "UTF-8")).alias("checksum"),
    )


@register(
    "scan_xml",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey FROM nation
""",
)
def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML scan (Spark 4 native `xml` source, no external package):
    declared schema + rowTag, no inference pass. The fixture set is
    parquet-only, so the query materializes an XML copy of ``nation``
    first and then exercises the real XML reader path. At scale the
    reader splits by row tag within files like the JSON-lines reader;
    schema is always declared — XML inference is an extra full pass
    plus type guessing.
    """
    path = os.path.join(_SCRATCH, "nation_xml")
    load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).coalesce(1).write.mode("overwrite").format("xml").option(
        "rowTag", "nation"
    ).save(path)
    return (
        spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .format("xml")
        .option("rowTag", "nation")
        .load(path)
    )


@register(
    "scan_log_regexp",
    oracle=f"""
SELECT event_id, user_id, event_type,
       CAST(value_str AS DOUBLE) AS value
FROM (
  SELECT CAST(regexp_extract(line, '^ev=(\\d+) user=(\\d+) type=(\\w+) value=([0-9.]+)$', 1) AS BIGINT) AS event_id,
         CAST(regexp_extract(line, '^ev=(\\d+) user=(\\d+) type=(\\w+) value=([0-9.]+)$', 2) AS BIGINT) AS user_id,
         regexp_extract(line, '^ev=(\\d+) user=(\\d+) type=(\\w+) value=([0-9.]+)$', 3) AS event_type,
         regexp_extract(line, '^ev=(\\d+) user=(\\d+) type=(\\w+) value=([0-9.]+)$', 4) AS value_str
  FROM (
    SELECT 'ev=' || CAST(event_id AS VARCHAR) || ' user='
           || CAST(user_id AS VARCHAR) || ' type=' || event_type
           || ' value=' || CAST({grid_sql('value', 2)}
                                AS VARCHAR)
           AS line
    FROM events
  )
)
""",
)
def scan_log_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-line ingestion: stage the events as key=value text lines (a
    real text file on disk, read back through ``spark.read.text``),
    then parse them into typed columns with one regexp — the
    unstructured-log ETL front door. Four ``regexp_extract`` calls
    share one pattern; Catalyst's common-subexpression handling plus
    the single-pass Java regex keep it scan-bound, and nothing
    shuffles. The staged value is pre-scaled to integer cents so the
    text round-trip is exact (float-to-string formatting differs
    between engines; integer strings do not — the oracle therefore
    parses the same synthesized lines, never touching a float
    rendering).
    """
    path = os.path.join(_SCRATCH, "events_log")
    ev = load_table(spark, sf_dir, "events")
    line = F.concat(
        F.lit("ev="), F.col("event_id").cast("string"),
        F.lit(" user="), F.col("user_id").cast("string"),
        F.lit(" type="), F.col("event_type"),
        F.lit(" value="),
        grid("value", 2).cast("string"),
    )
    ev.select(line.alias("value")).coalesce(1).write.mode("overwrite").text(
        path
    )
    pat = r"^ev=(\d+) user=(\d+) type=(\w+) value=([0-9.]+)$"
    raw = spark.read.text(path)
    return raw.select(
        F.regexp_extract("value", pat, 1).cast("long").alias("event_id"),
        F.regexp_extract("value", pat, 2).cast("long").alias("user_id"),
        F.regexp_extract("value", pat, 3).alias("event_type"),
        F.regexp_extract("value", pat, 4).cast("double").alias("value"),
    )


#: integer lineitem columns whose footer min/max parse losslessly as
#: BIGINT in both metadata surfaces.
_FOOTER_COLS = ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")


@register("scan_parquet_footer_stats")  # rows-only: the oracle surface
# (DuckDB parquet_metadata) needs the FILE PATH, which the driver's
# view-based oracle harness cannot carry; the cross-reader agreement is
# instead pinned by tests/test_stats.py::test_footer_stats_match_duckdb
# against the same independent parquet_metadata() implementation.
def scan_parquet_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet footer statistics as a queryable table — the metadata
    every data-skipping claim in this repo rests on (`PushedFilters`
    prunes row groups by exactly these min/max bounds; `zorder_layout`
    and `sink_sorted_clustered` exist to make them TIGHT). Reading the
    footer costs O(row groups), not O(data): this is the observability
    query a table-maintenance job runs to decide whether to re-cluster
    — wide min/max ranges per row group mean the sort key has decayed.

    The engine reads footers via pyarrow on the driver (a metadata
    operation — at 100 TB this parallelizes as a mapPartitions over
    the file listing, each task reading only footers); the oracle
    reads the SAME footers through DuckDB's independent
    `parquet_metadata()` implementation (pytest mirror — the driver's
    oracle harness carries table views, not file paths), so the two
    parquet metadata readers must agree byte-for-byte on counts and
    bounds. Restricted to integer columns whose stats round-trip
    losslessly as BIGINT.
    """
    import pyarrow.parquet as pq

    md = pq.ParquetFile(os.path.join(sf_dir, "lineitem.parquet")).metadata
    rows = []
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            if c.path_in_schema in _FOOTER_COLS:
                st = c.statistics
                # stats are OPTIONAL in the parquet spec (writers can
                # disable them per column) — report absent bounds as
                # NULL rather than crashing the maintenance query.
                has_mm = st is not None and st.has_min_max
                rows.append(
                    (
                        rg,
                        c.path_in_schema,
                        c.num_values,
                        int(st.min) if has_mm else None,
                        int(st.max) if has_mm else None,
                        st.null_count if st is not None else None,
                    )
                )
    return local_frame(
        spark,
        rows,
        "row_group BIGINT, column_name STRING, num_values BIGINT, "
        "min_value BIGINT, max_value BIGINT, null_count BIGINT",
    )


@register(
    "scan_nested_pruning",
    oracle="""
SELECT o_orderkey,
       o_totalprice AS price,
       CAST(o_orderdate AS DATE) AS order_day
FROM orders
WHERE o_orderpriority = '1-URGENT'
""",
)
def scan_nested_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-schema pruning: a parquet file whose payload is a STRUCT
    column (`detail: {price, priority, dates: {order_day}}` — the
    shape event logs and API dumps actually have) is read selecting
    only the needed LEAF fields, and Spark's nestedSchemaPruning pushes
    the projection INTO the reader — `ReadSchema` requests just the
    referenced leaves (the unread `customer`/`status` siblings never
    appear in the request), not the whole struct (the columnar win that makes
    nested layouts viable at 100 TB: parquet stores each leaf as its
    own column chain, so unread siblings cost zero I/O). The filter on
    a nested leaf also reaches the reader as a pushed predicate.

    The round trip writes the nested file from `orders`, reads it back
    through the pruned projection, and the oracle re-derives the same
    three columns from the FLAT source — so the nest/prune/unnest
    cycle is value-verified, while tests/test_plan_shape.py pins the
    pruned `ReadSchema` so the optimization itself cannot silently
    regress.
    """
    path = os.path.join(_SCRATCH, "orders_nested")
    o = load_table(spark, sf_dir, "orders")
    nested = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_totalprice").alias("price"),
            F.col("o_orderpriority").alias("priority"),
            F.col("o_custkey").alias("customer"),
            F.col("o_orderstatus").alias("status"),
            F.struct(
                F.col("o_orderdate").cast("date").alias("order_day")
            ).alias("dates"),
        ).alias("detail"),
    )
    nested.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return back.where(
        F.col("detail.priority") == "1-URGENT"
    ).select(
        "o_orderkey",
        F.col("detail.price").alias("price"),
        F.col("detail.dates.order_day").alias("order_day"),
    )


# --- minimal transaction-log table format (Delta/Iceberg-style) ---------
#
# A table = data files + an ordered log of ADD/REMOVE file actions; a
# reader replays the log to a version to get the active-file set, then
# scans exactly those files. That indirection is what buys ACID-ish
# semantics on object storage: writers commit by appending ONE log entry
# (atomic rename), readers never list the data directory (listing is
# eventually-consistent and O(files) at 100 TB — the log replay is
# O(versions) and each entry is tiny), deletes are logical (rewrite the
# affected file, REMOVE the old one) so concurrent readers of the prior
# snapshot are never torn, and time travel is "stop replaying earlier".
# No table-format package exists in this sandbox, so the format is built
# here from primitives — JSON log + parquet data — which also keeps every
# byte of the mechanics visible and oracle-checkable.

_TXN_BUCKETS = 4
_txn_roots: dict[str, str] = {}


def _txn_log_build(spark: SparkSession, sf_dir: str) -> str:
    """Build the demo table once per (process, sf): version 0 ingests
    orders as 4 bucket files; version 1 is a logical DELETE of the
    finished ('F') orders in bucket 3, committed as rewrite-new +
    remove-old; version 2 is a COMPACTION (OPTIMIZE) commit — the 4
    surviving files rewritten as 2 range-clustered files, logged with
    per-file min/max key stats and ``dataChange: false`` (layout-only:
    incremental consumers must not reprocess it). Returns the table
    root."""
    root = _txn_roots.get(sf_dir)
    if root:
        return root
    import json

    root = os.path.join(
        _SCRATCH, "txnlog_" + os.path.basename(os.path.normpath(sf_dir))
    )
    data, logd = os.path.join(root, "data"), os.path.join(root, "_log")
    os.makedirs(logd, exist_ok=True)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v0 = []
    for b in range(_TXN_BUCKETS):
        p = os.path.join(data, f"bucket_{b}_v0")
        o.filter(F.pmod("o_orderkey", F.lit(_TXN_BUCKETS)) == b).write.mode(
            "overwrite"
        ).parquet(p)
        v0.append({"action": "add", "path": p})
    rewrite = os.path.join(data, "bucket_3_v1")
    o.filter(
        (F.pmod("o_orderkey", F.lit(_TXN_BUCKETS)) == 3)
        & (F.col("o_orderstatus") != "F")
    ).write.mode("overwrite").parquet(rewrite)
    v1 = [
        {"action": "remove", "path": os.path.join(data, "bucket_3_v0")},
        {"action": "add", "path": rewrite},
    ]
    # v2 — compaction: surviving rows range-split at the deterministic
    # pivot (min+max)//2, one sorted file per half, tight stats recorded
    # in the commit itself so readers can skip files without touching
    # any parquet footer.
    surviving = o.filter(
        (F.pmod("o_orderkey", F.lit(_TXN_BUCKETS)) != 3)
        | (F.col("o_orderstatus") != "F")
    )
    lo_hi = surviving.agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    ).collect()[0]
    pivot = (lo_hi["lo"] + lo_hi["hi"]) // 2
    v2 = [{"action": "remove", "path": a["path"]} for a in (v0[:3] + [v1[1]])]
    for idx, half in enumerate(
        (
            surviving.filter(F.col("o_orderkey") <= pivot),
            surviving.filter(F.col("o_orderkey") > pivot),
        )
    ):
        p = os.path.join(data, f"compact_{idx}_v2")
        half.coalesce(1).sortWithinPartitions("o_orderkey").write.mode(
            "overwrite"
        ).parquet(p)
        st = half.agg(
            F.min("o_orderkey").alias("mn"), F.max("o_orderkey").alias("mx")
        ).collect()[0]
        v2.append(
            {
                "action": "add",
                "path": p,
                "dataChange": False,
                "stats": {"o_orderkey": [st["mn"], st["mx"]]},
            }
        )
    for ver, actions in enumerate((v0, v1, v2)):
        with open(os.path.join(logd, f"{ver:08d}.json"), "w") as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")
    _txn_roots[sf_dir] = root
    return root


def _txn_active(root: str, version: int) -> list[dict]:
    """Replay the log through `version`; return the active add-actions
    (path + whatever stats the committing writer recorded)."""
    import json

    logd = os.path.join(root, "_log")
    active: dict[str, dict] = {}
    for name in sorted(os.listdir(logd)):
        ver = int(name.split(".")[0])
        if ver > version:
            break
        with open(os.path.join(logd, name)) as f:
            for line in f:
                a = json.loads(line)
                if a["action"] == "add":
                    active[a["path"]] = a
                elif a["action"] == "remove":
                    active.pop(a["path"], None)
                # other actions (e.g. "schema") are metadata-only
    return [active[p] for p in sorted(active)]


def _txn_snapshot(spark: SparkSession, root: str, version: int) -> DataFrame:
    """Replay the log through `version`, scan the active files."""
    return spark.read.parquet(
        *[a["path"] for a in _txn_active(root, version)]
    )


@register(
    "scan_txn_log_snapshot",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders
WHERE (o_orderkey % 4 <> 3) OR (o_orderstatus <> 'F')
""",
)
def scan_txn_log_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest snapshot of the txn-log table: the version-1 logical DELETE
    (finished orders in bucket 3) is visible because replay lands on the
    rewritten file and skips the removed one. The oracle re-derives the
    surviving row set relationally — the hash proves log replay selected
    exactly the right bytes."""
    root = _txn_log_build(spark, sf_dir)
    return _txn_snapshot(spark, root, version=10**9)


@register(
    "scan_txn_log_time_travel",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n,
       {dsum_sql('o_totalprice', 'total', 2)}
FROM orders GROUP BY o_orderstatus
""",
)
def scan_txn_log_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: replay stops at version 0, so the bucket-3 DELETE is
    invisible and every ingested order is back — per-status counts and
    exact totals equal the raw table's. At 100 TB this is the audit /
    reproduce-yesterday's-training-set read path, and it costs nothing
    extra: the old files were never mutated, only logically removed."""
    root = _txn_log_build(spark, sf_dir)
    return (
        _txn_snapshot(spark, root, version=0)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("o_totalprice"), "total", 2),
        )
    )


@register(
    "scan_txn_log_incremental",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders
WHERE (o_orderkey % 4 = 3) AND (o_orderstatus <> 'F')
""",
)
def scan_txn_log_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental consumption off the txn log: scan ONLY the files
    ADDED after a remembered version — the "process what's new since my
    last checkpoint" read every incremental pipeline (downstream index
    build, CDC fan-out, dedup-against-corpus ingest) runs instead of
    re-scanning the table. Here the consumer last saw version 0, so the
    delta is exactly the bucket-3 rewrite file; the oracle re-derives
    that file's row set relationally. At 100 TB this is the difference
    between touching gigabytes and re-touching the whole table: cost is
    proportional to the commit's add-set, the log pinpoints it without
    any directory diffing, and pairing the add-set with the same
    commit's remove-set upgrades the read to a row-level changefeed
    (new-file minus removed-file = net change).

    Commits whose adds are flagged ``dataChange: false`` (the version-2
    compaction) are SKIPPED: they rewrite bytes, not rows, and an
    incremental consumer that reprocessed them would double-count the
    entire table after every OPTIMIZE — the exact reason the flag
    exists in production log formats."""
    import json

    root = _txn_log_build(spark, sf_dir)
    logd = os.path.join(root, "_log")
    added: list[str] = []
    for name in sorted(os.listdir(logd)):
        if int(name.split(".")[0]) <= 0:  # consumer checkpoint: version 0
            continue
        with open(os.path.join(logd, name)) as f:
            added += [
                a["path"]
                for a in map(json.loads, f)
                if a["action"] == "add" and a.get("dataChange", True)
            ]
    return spark.read.parquet(*sorted(added))


@register(
    "txn_log_compact",
    oracle=f"""
WITH s AS (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE (o_orderkey % 4 <> 3) OR (o_orderstatus <> 'F')
), b AS (
  SELECT (MIN(o_orderkey) + MAX(o_orderkey)) // 2 AS pv FROM s
)
SELECT CASE WHEN o_orderkey <= pv THEN 0 ELSE 1 END AS file_id,
       COUNT(*) AS n_rows,
       MIN(o_orderkey) AS key_min, MAX(o_orderkey) AS key_max,
       {dsum_sql('o_totalprice', 'total', 2)}
FROM s, b GROUP BY 1
""",
)
def txn_log_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-compaction file inventory: each version-2 compacted file
    read back individually (per-file row count, key bounds, exact price
    total), hash-verified against the relational derivation of what a
    content-preserving range-split compaction MUST have produced.

    This is the OPTIMIZE half of the small-file problem: streaming and
    incremental ingest commit thousands of small files per hour, and at
    100 TB an uncompacted table makes every scan pay per-file open
    latency and every driver pay O(files) planning. Compaction here is
    a pure log transaction — rewrite survivors range-clustered, commit
    remove-old + add-new atomically — so concurrent readers replaying
    any log prefix still see exactly one complete file set, and the
    range clustering is what gives the stats-pruned scan
    (`scan_txn_log_pruned`) disjoint per-file key bounds to skip on."""
    root = _txn_log_build(spark, sf_dir)
    per_file = []
    for idx, a in enumerate(_txn_active(root, 10**9)):
        per_file.append(
            spark.read.parquet(a["path"]).select(
                F.lit(idx).alias("file_id"), "o_orderkey", "o_totalprice"
            )
        )
    df = per_file[0]
    for other in per_file[1:]:
        df = df.unionAll(other)
    return df.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderkey").alias("key_min"),
        F.max("o_orderkey").alias("key_max"),
        dsum(F.col("o_totalprice"), "total", 2),
    )


#: predicate for the stats-pruned demo scan — keys ≤ 1000 land entirely
#: in compacted file 0 at every fixture SF (file 0 spans [min, (min+max)//2]
#: and max(o_orderkey) ≥ 6000 even at sf0.001).
_TXN_PRUNE_KEY_MAX = 1000


@register(
    "scan_txn_log_pruned",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
WHERE o_orderkey <= 1000
  AND ((o_orderkey % 4 <> 3) OR (o_orderstatus <> 'F'))
""",
)
def scan_txn_log_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data skipping from LOG-RECORDED stats: the predicate
    ``o_orderkey <= 1000`` is intersected with each active file's
    [min, max] key range from its add-action BEFORE any file is opened
    — only compacted file 0 survives (asserted in tests), file 1 is
    never read. Files whose commit recorded no stats are kept
    (conservative, correct), and the predicate is re-applied to the
    scanned rows, so pruning can only skip work, never change results.

    At 100 TB this is the first pruning tier: the log replay already
    sits on the driver, so thousands of files drop out with ZERO
    storage round trips — unlike parquet-footer stats, which cost one
    open per file on object storage (`scan_parquet_footer_stats`), and
    unlike directory partitioning, which only prunes on the partition
    key. Tier order: log stats → partition dirs → footer row-groups →
    page indexes."""
    root = _txn_log_build(spark, sf_dir)
    keep = []
    for a in _txn_active(root, 10**9):
        st = (a.get("stats") or {}).get("o_orderkey")
        # st[0] can be None when a compaction wrote an empty half and
        # recorded [null, null] stats — treat like missing stats (keep
        # the file; the re-applied predicate keeps results correct).
        if st is None or st[0] is None or st[0] <= _TXN_PRUNE_KEY_MAX:
            keep.append(a["path"])
    return (
        spark.read.parquet(*keep)
        .filter(F.col("o_orderkey") <= _TXN_PRUNE_KEY_MAX)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


#: versions of time travel VACUUM must preserve (files removed at or
#: before latest − retain are reclaimable).
_TXN_VACUUM_RETAIN = 1


@register(
    "txn_log_vacuum",
    oracle="""
WITH b AS (
  SELECT o_orderkey % 4 AS bucket, o_orderstatus FROM orders
)
SELECT * FROM (
  SELECT 'bucket_0_v0' AS file, CAST(2 AS BIGINT) AS removed_in_version,
         CAST((SELECT COUNT(*) FROM b WHERE bucket = 0) AS BIGINT) AS n_rows,
         FALSE AS eligible
  UNION ALL
  SELECT 'bucket_1_v0', 2,
         CAST((SELECT COUNT(*) FROM b WHERE bucket = 1) AS BIGINT), FALSE
  UNION ALL
  SELECT 'bucket_2_v0', 2,
         CAST((SELECT COUNT(*) FROM b WHERE bucket = 2) AS BIGINT), FALSE
  UNION ALL
  SELECT 'bucket_3_v0', 1,
         CAST((SELECT COUNT(*) FROM b WHERE bucket = 3) AS BIGINT), TRUE
  UNION ALL
  SELECT 'bucket_3_v1', 2,
         CAST((SELECT COUNT(*) FROM b
               WHERE bucket = 3 AND o_orderstatus <> 'F') AS BIGINT), FALSE
) ORDER BY file
""",
)
def txn_log_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM dry-run over the transaction log: every file some commit
    REMOVED, the version that removed it, its row count, and whether
    the retention policy (keep files referenced by the last
    ``_TXN_VACUUM_RETAIN`` versions, so time travel that far back still
    works) lets it be deleted — the maintenance audit every log-format
    table needs before reclaiming storage, and the missing fourth verb
    after snapshot/time-travel/compact in this table-format family.

    The ENGINE derives everything from the log alone: one replay
    collects remove-actions with their versions (driver-side metadata,
    like every log scan here), then ONE distributed parquet read over
    all removed files counts rows grouped by file via
    ``input_file_name()`` — no per-file job. The ORACLE re-derives the
    same rows from the relational truth the fixture encodes (which
    bucket residues each file held), so the hash certifies the log
    replay against an independent statement of what the files must
    contain. At 100 TB the replay is O(log); the counting scan is
    optional evidence (a real VACUUM trusts sizes from the commit) and
    parallelizes over exactly the files being reclaimed.
    """
    import json as _json

    root = _txn_log_build(spark, sf_dir)
    logd = os.path.join(root, "_log")
    removed: dict[str, int] = {}
    latest = 0
    for name in sorted(os.listdir(logd)):
        ver = int(name.split(".")[0])
        latest = max(latest, ver)
        with open(os.path.join(logd, name)) as f:
            for line in f:
                a = _json.loads(line)
                if a["action"] == "remove":
                    removed[a["path"]] = ver
    horizon = latest - _TXN_VACUUM_RETAIN
    paths = sorted(removed)
    counts = (
        spark.read.parquet(*paths)
        .select(F.input_file_name().alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # map part files back to their table file (directory) name
    base = F.regexp_extract("part", r".*/(bucket_[0-9]+_v[0-9]+)/", 1)
    per_file = counts.groupBy(base.alias("file")).agg(
        F.sum("n").cast("long").alias("n_rows")
    )
    meta = local_frame(
        spark,
        [
            (os.path.basename(p), removed[p], removed[p] <= horizon)
            for p in paths
        ],
        "file STRING, removed_in_version BIGINT, eligible BOOLEAN",
    )
    # LEFT join + coalesce (ADVICE r6): a removed file whose parquet is
    # empty yields no count row; it must still appear with n_rows=0,
    # matching the oracle's relational restatement.
    return (
        meta.join(per_file, "file", "left")
        .select(
            "file",
            "removed_in_version",
            F.coalesce("n_rows", F.lit(0)).cast("long").alias("n_rows"),
            "eligible",
        )
        .orderBy("file")
    )


@register(
    "txn_log_checkpoint",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders
WHERE (o_orderkey % 4 <> 3) OR (o_orderstatus <> 'F')
""",
)
def txn_log_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log CHECKPOINTING — the mechanism that keeps replay O(recent)
    instead of O(history): a checkpoint file materializes the full
    active-file set as of version N (here the compaction commit), and
    a reader seeds its replay from the newest checkpoint ≤ its target
    version, applying only the log SUFFIX past it. Without this, a
    table with a million commits pays a million-entry replay per
    query; with it, replay cost is bounded by checkpoint interval —
    exactly Delta's `_last_checkpoint` contract, reproduced on the
    minimal format (checkpoints live in a sibling ``_ckpt/`` dir so
    the incremental/vacuum readers, which fold every log line, never
    see them).

    The returned snapshot is read THROUGH the checkpoint path (seed =
    checkpoint contents, then suffix versions only — asserted to skip
    the checkpointed prefix) and must hash-equal the relational truth
    of the latest snapshot — the same oracle `scan_txn_log_snapshot`
    carries, so checkpointed and full replay provably agree.
    """
    import json as _json

    root = _txn_log_build(spark, sf_dir)
    logd = os.path.join(root, "_log")
    ckptd = os.path.join(root, "_ckpt")
    os.makedirs(ckptd, exist_ok=True)
    ckpt_ver = 2
    ckpt_path = os.path.join(ckptd, f"{ckpt_ver:08d}.json")
    if not os.path.exists(ckpt_path):
        active = _txn_active(root, ckpt_ver)
        tmp = ckpt_path + f".tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            for a in active:
                f.write(_json.dumps(a) + "\n")
        os.replace(tmp, ckpt_path)
    # seeded replay: checkpoint contents + ONLY the suffix past it
    with open(ckpt_path) as f:
        active_map = {a["path"]: a for a in map(_json.loads, f)}
    suffix = 0
    for name in sorted(os.listdir(logd)):
        ver = int(name.split(".")[0])
        if ver <= ckpt_ver:
            continue
        suffix += 1
        with open(os.path.join(logd, name)) as f:
            for line in f:
                a = _json.loads(line)
                if a["action"] == "add":
                    active_map[a["path"]] = a
                elif a["action"] == "remove":
                    active_map.pop(a["path"], None)
    assert suffix == 0, "demo log has no post-checkpoint commits"
    return spark.read.parquet(*sorted(active_map)).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


_txn_schema_roots: dict[str, str] = {}


def _txn_schema_build(spark: SparkSession, sf_dir: str) -> str:
    """Schema-evolution demo table (separate root from the main txn-log
    table so its log stays frozen for the snapshot/vacuum/conflict
    keys): version 0 ingests nations of regions 0–1 with the BASE
    schema (n_nationkey, n_name); version 1 both declares the new
    nullable column ``name_len BIGINT`` (a metadata-only ``schema``
    action — no data rewritten, exactly how Delta/Iceberg ADD COLUMN
    commits) and appends a file for regions 2–4 written with the
    evolved schema."""
    root = _txn_schema_roots.get(sf_dir)
    if root:
        return root
    import json

    root = os.path.join(
        _SCRATCH, "txnschema_" + os.path.basename(os.path.normpath(sf_dir))
    )
    data, logd = os.path.join(root, "data"), os.path.join(root, "_log")
    os.makedirs(logd, exist_ok=True)
    n = load_table(spark, sf_dir, "nation")
    old = os.path.join(data, "nations_v0")
    n.filter(F.col("n_regionkey") <= 1).select(
        "n_nationkey", "n_name"
    ).write.mode("overwrite").parquet(old)
    new = os.path.join(data, "nations_v1")
    n.filter(F.col("n_regionkey") >= 2).select(
        "n_nationkey",
        "n_name",
        F.length("n_name").cast("long").alias("name_len"),
    ).write.mode("overwrite").parquet(new)
    v0 = [{"action": "add", "path": old}]
    v1 = [
        {"action": "schema", "add_column": "name_len", "type": "BIGINT"},
        {"action": "add", "path": new},
    ]
    for ver, actions in enumerate((v0, v1)):
        with open(os.path.join(logd, f"{ver:08d}.json"), "w") as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")
    _txn_schema_roots[sf_dir] = root
    return root


@register(
    "txn_log_schema_evolution",
    oracle="""
SELECT n_nationkey, n_name,
       CASE WHEN n_regionkey >= 2
            THEN CAST(length(n_name) AS BIGINT) END AS name_len
FROM nation
ORDER BY n_nationkey
""",
)
def txn_log_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADD COLUMN through the transaction log — the schema-evolution
    verb of the table-format family (snapshot / time travel /
    incremental / compact / vacuum / OCC-conflict are the others). A
    commit declares the new nullable column as a METADATA action; no
    existing file is rewritten. Readers replay the log to get both the
    active file set AND the current schema, then scan old and new
    files together: pre-evolution files simply lack the column and
    surface NULL — Delta/Iceberg's exact contract, reproduced here
    with Spark's mergeSchema parquet read.

    At 100 TB this is the whole point of logged schema changes: ADD
    COLUMN is O(1) — one log entry — instead of an O(data) rewrite,
    and every reader version-skews safely because column presence is
    resolved per file at scan time. The oracle restates the merged
    result relationally (region ≤ 1 rows predate the evolution ⇒ NULL
    name_len), so the hash certifies replay + merge together.
    """
    root = _txn_schema_build(spark, sf_dir)
    paths = [a["path"] for a in _txn_active(root, 10**9)]
    merged = (
        spark.read.option("mergeSchema", "true").parquet(*paths)
    )
    return merged.select(
        "n_nationkey", "n_name", F.col("name_len").cast("long")
    ).orderBy("n_nationkey")


#: Pending-commit fixtures for the OCC dry-run: (txn, base_version,
#: remove-set basenames). Chosen to exercise every verdict class —
#: a delete that lost a race to the v2 compaction (two files), a blind
#: append (empty remove-set, never conflicts), a delete whose base
#: predates the v1 rewrite, and a delete already based on the latest
#: snapshot (no winners → clean).
_TXN_PENDING = (
    ("append_events", 1, ()),
    ("delete_bucket3", 0, ("bucket_3_v0",)),
    ("delete_low", 1, ("bucket_0_v0", "bucket_1_v0")),
    ("delete_recent", 2, ("compact_0_v2",)),
)


@register(
    "txn_log_conflict_detect",
    oracle="""
WITH counts AS (
  SELECT
    CAST(SUM(CASE WHEN o_orderkey % 4 IN (0, 1) THEN 1 ELSE 0 END)
         AS BIGINT) AS low01,
    CAST(SUM(CASE WHEN o_orderkey % 4 = 3 THEN 1 ELSE 0 END)
         AS BIGINT) AS b3
  FROM orders)
SELECT * FROM (
  SELECT 'append_events' AS txn, CAST(1 AS BIGINT) AS base_version,
         CAST(0 AS BIGINT) AS n_conflicts, '' AS conflicting_files,
         CAST(0 AS BIGINT) AS rows_at_risk, TRUE AS commit_ok
  UNION ALL
  SELECT 'delete_bucket3', CAST(0 AS BIGINT), CAST(1 AS BIGINT),
         'bucket_3_v0', b3, FALSE FROM counts
  UNION ALL
  SELECT 'delete_low', CAST(1 AS BIGINT), CAST(2 AS BIGINT),
         'bucket_0_v0,bucket_1_v0', low01, FALSE FROM counts
  UNION ALL
  SELECT 'delete_recent', CAST(2 AS BIGINT), CAST(0 AS BIGINT),
         '', CAST(0 AS BIGINT), TRUE
) ORDER BY txn
""",
)
def txn_log_conflict_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic-concurrency write-write conflict detection over the
    transaction log — the commit-time check every multi-writer
    Delta/Iceberg-class table relies on, and the piece VERDICT r6
    ranked as this table format's biggest gap (What's missing #5).

    A pending commit declares its base snapshot version and the files
    it intends to REMOVE (rewrites and deletes; blind appends have an
    empty remove-set and can always commit). Detection replays only the
    log suffix the pending writer has NOT seen — versions ``base+1`` …
    latest — and collects which files those winning commits removed; a
    pending remove of an already-removed file is a write-write conflict
    (the Delta protocol's ConcurrentDeleteDeleteException class;
    compaction's ``dataChange: false`` removes still conflict — the
    file is gone either way). The report gives per-transaction verdicts
    plus the evidence a retry loop needs: which files lost the race and
    how many live rows they hold (one distributed parquet read over the
    union of conflicted files, grouped by ``input_file_name`` — same
    single-scan shape as ``txn_log_vacuum``).

    At 100 TB the check is O(log-suffix) driver-side metadata — the
    whole point of log-based OCC: no data is read to decide, and the
    row-count evidence scan parallelizes over exactly the conflicted
    files (here it doubles as the oracle hook: DuckDB restates those
    counts from the bucket arithmetic the fixture encodes).
    """
    import json as _json

    root = _txn_log_build(spark, sf_dir)
    logd = os.path.join(root, "_log")
    log: dict[int, list[dict]] = {}
    for name in sorted(os.listdir(logd)):
        ver = int(name.split(".")[0])
        with open(os.path.join(logd, name)) as f:
            log[ver] = [_json.loads(line) for line in f]

    clean_rows: list[tuple] = []
    conflict_meta: list[tuple] = []  # (txn, base, n_conflicts, file)
    conflict_paths: set[str] = set()
    for txn, base, removes in _TXN_PENDING:
        removed_by: dict[str, int] = {}
        for ver, actions in log.items():
            if ver <= base:
                continue
            for a in actions:
                if a["action"] == "remove":
                    removed_by[os.path.basename(a["path"])] = ver
        conflicts = sorted(f for f in removes if f in removed_by)
        if not conflicts:
            clean_rows.append((txn, base, 0, "", 0, True))
            continue
        for f_ in conflicts:
            conflict_meta.append((txn, base, len(conflicts), f_))
            conflict_paths.add(os.path.join(root, "data", f_))

    schema = (
        "txn STRING, base_version BIGINT, n_conflicts BIGINT, "
        "conflicting_files STRING, rows_at_risk BIGINT, commit_ok BOOLEAN"
    )
    clean = local_frame(spark, clean_rows, schema)
    if not conflict_meta:
        return clean.orderBy("txn")
    # Evidence scan: ONE distributed read over every conflicted file
    # (they are still on disk — vacuum here is a dry-run), rows grouped
    # back to their table file by name.
    counts = (
        spark.read.parquet(*sorted(conflict_paths))
        .select(F.input_file_name().alias("part"))
        .groupBy(
            F.regexp_extract(
                "part", r".*/((?:bucket|compact)_[0-9]+_v[0-9]+)/", 1
            ).alias("file")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    meta = local_frame(
        spark, conflict_meta, "txn STRING, base_version BIGINT, "
        "n_conflicts BIGINT, file STRING"
    )
    conflicted = (
        counts.join(F.broadcast(meta), "file")
        .groupBy("txn", "base_version", "n_conflicts")
        .agg(
            F.array_join(F.sort_array(F.collect_list("file")), ",").alias(
                "conflicting_files"
            ),
            F.sum(F.coalesce("n_rows", F.lit(0)))
            .cast("long")
            .alias("rows_at_risk"),
        )
        .withColumn("commit_ok", F.lit(False))
        .select(
            "txn", "base_version", "n_conflicts", "conflicting_files",
            "rows_at_risk", "commit_ok",
        )
    )
    return clean.unionByName(conflicted).orderBy("txn")


def _make_jsonl_sink_source():
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class JsonlCommit(WriterCommitMessage):
        def __init__(self, path: str, tmp: str, n: int):
            self.path = path
            self.tmp = tmp
            self.n = n

    class JsonlWriter(DataSourceWriter):
        """Per-partition writer: one JSON-lines part file per task,
        committed via task→driver commit messages (the two-phase
        protocol every exactly-once sink implements).

        Attempt safety (ADVICE r6): the staging name includes the task
        ATTEMPT id, not just the partition id, so a speculative or
        retried attempt never clobbers a sibling attempt's in-progress
        file; ``commit()`` renames exactly the winning attempt's tmp to
        the final per-partition name, and ``abort()`` removes only the
        aborting attempt's own tmp."""

        def __init__(self, options):
            self.path = options.get("path")

        def write(self, iterator):
            import json as _j
            import os as _os
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId()
            attempt = ctx.taskAttemptId()
            part = _os.path.join(self.path, f"part-{pid:05d}.jsonl")
            tmp = f"{part}.attempt-{attempt}.tmp"
            n = 0
            with open(tmp, "w") as f:
                for row in iterator:
                    f.write(_j.dumps(row.asDict()) + "\n")
                    n += 1
            return JsonlCommit(part, tmp, n)

        def commit(self, messages):
            import os as _os

            for m in messages:
                _os.replace(m.tmp, m.path)

        def abort(self, messages):
            import os as _os

            for m in messages:
                if m is None:
                    continue
                try:
                    _os.remove(m.tmp)
                except FileNotFoundError:
                    pass

    class JsonlSinkSource(DataSource):
        """JSON-lines sink via the Python DataSource writer API."""

        @classmethod
        def name(cls):
            return "jsonlsink"

        def writer(self, schema, overwrite):
            return JsonlWriter(self.options)

    return JsonlSinkSource


@register(
    "sink_pyds",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders
GROUP BY o_orderpriority
""",
)
def sink_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom SINK via the Python DataSource writer API (Spark 4) — the
    write-side twin of `scan_pyds` and the extensibility door for
    destinations Spark lacks natively (feature stores, vector DBs,
    labeling queues). A pure-Python ``DataSourceWriter`` writes one
    JSON-lines part per task into a temp-then-rename two-phase commit:
    tasks stage ``.tmp`` files and return commit messages; the DRIVER's
    ``commit()`` makes them visible atomically (``abort()`` removes
    strays) — the task-commit protocol every exactly-once sink
    implements, here in ~30 lines of Python.

    Verification closes the loop through the sink: orders flow OUT
    through the custom writer, back IN via ``spark.read.json`` over
    the committed parts, and aggregate to per-priority counts and
    exact-cent sums — hash-equal to aggregating the source directly
    (the oracle), so the sink provably lost and duplicated nothing.
    At 100 TB each task streams its partition; the only driver-side
    work is the O(tasks) commit-message pass, same as any file sink.
    """
    # Register unconditionally (ADVICE r6): re-registration is
    # idempotent, whereas id(spark)-keyed memoization silently skips
    # registration when a dead session's id is reused.
    spark.dataSource.register(_make_jsonl_sink_source())
    path = os.path.join(
        _SCRATCH, "pyds_sink_" + os.path.basename(os.path.normpath(sf_dir))
    )
    os.makedirs(path, exist_ok=True)
    for old in os.listdir(path):
        os.remove(os.path.join(path, old))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    o.write.format("jsonlsink").option("path", path).mode("append").save()
    back = spark.read.json(os.path.join(path, "*.jsonl"))
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
    )



@register(
    "sink_parquet_bloom",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM({grid_sql('o_totalprice', 2)})
            AS BIGINT) AS cents
FROM orders
WHERE o_custkey % 1000 = 7
""",
)
def sink_parquet_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet BLOOM-FILTER sink — the point-lookup lever for columns
    whose values are high-NDV and unsorted (customer ids, device ids,
    content digests), where min/max row-group stats prune nothing: the
    writer embeds a split-block bloom per row group
    (``parquet.bloom.filter.enabled#col``), and a reader probing
    ``col = X`` skips every row group whose bloom says "absent" —
    paying O(bloom bytes) instead of O(row group) per miss. On a
    100-TB table of hash-distributed keys this is the difference
    between touching every row group and touching ~the one that
    matches; sorted/z-ordered layouts (`sink_sorted_clustered`,
    `zorder_layout`) solve the same problem when you control layout —
    blooms work when you don't.

    Verification closes the loop through the sink: orders flow OUT
    through the bloom-enabled writer, back IN via a predicated scan
    (bloom consulted by parquet-mr under the pushed filter), and the
    filtered aggregate must hash-equal the source-side oracle — so the
    bloom path provably drops and duplicates nothing (a bloom false
    negative, the one failure a bloom must never have, would break the
    hash).
    """
    path = os.path.join(
        _SCRATCH, "bloom_" + os.path.basename(os.path.normpath(sf_dir))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    (
        o.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_custkey", "200000")
        .parquet(path)
    )
    back = spark.read.parquet(path).filter(
        F.pmod("o_custkey", F.lit(1000)) == 7
    )
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(grid("o_totalprice", 2))
        .cast("long")
        .alias("cents"),
    )


@register(
    "scan_file_metadata",
    oracle="""
SELECT o_orderkey % 4 AS bucket,
       o_orderkey,
       CAST(ROW_NUMBER() OVER (PARTITION BY o_orderkey % 4
                               ORDER BY o_orderkey) - 1 AS BIGINT) AS row_idx
FROM orders
""",
)
def scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden ``_metadata`` file columns (`_metadata.row_index` /
    `file_path` / `file_size`) — per-row physical provenance without a
    byte of extra storage. The lineage/debug primitive at 100 TB:
    "which file and which row produced this record" powers
    incremental-reprocessing ledgers, bad-file quarantine, and
    row-level audit joins, and the column is generated at scan time so
    it costs nothing to read.

    Verification closes the loop through layout: orders flow out
    partitioned by an integer bucket with a forced in-file sort
    (repartition(bucket) → one task per bucket; sortWithinPartitions
    prefix-satisfies the writer's partition sort so row order is
    preserved verbatim), then the read-back ``row_index`` must equal
    each key's rank within its bucket — the oracle restates that rank
    relationally, so a wrong file split, a dropped sort, or a
    misnumbered row batch all break the hash.
    """
    path = os.path.join(
        _SCRATCH, "fmeta_" + os.path.basename(os.path.normpath(sf_dir))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.pmod("o_orderkey", F.lit(4)).alias("bucket")
    )
    (
        o.repartition(4, "bucket")
        .sortWithinPartitions("bucket", "o_orderkey")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.select(
        F.col("bucket").cast("long").alias("bucket"),
        "o_orderkey",
        F.col("_metadata.row_index").cast("long").alias("row_idx"),
    )


@register(
    "scan_deletion_vectors",
    oracle="""
SELECT * FROM (
  SELECT o_orderkey % 4 AS bucket,
         o_orderkey,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_orderkey % 4
                                 ORDER BY o_orderkey) - 1 AS BIGINT) AS pos
  FROM orders) z
WHERE o_orderkey % 7 <> 3
""",
)
def scan_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors — the Delta/Iceberg-v3
    mechanism that makes row-level deletes O(deleted rows) instead of
    O(table): a DELETE writes only a sidecar of (file, row-position)
    tombstones, and readers subtract them positionally at scan time;
    base files are never rewritten until compaction. At 100 TB this is
    the difference between a GDPR delete costing a full-table rewrite
    and costing a few KB of positions.

    Mechanics here: orders land as one sorted file per bucket (the
    `scan_file_metadata` layout), the DELETE materializes matching
    rows' ``_metadata.row_index`` positions into a DV parquet, and the
    merge-on-read scan is base LEFT ANTI JOIN dv ON (file-bucket, pos)
    — the DV side broadcasts (tombstones are small by design), so the
    subtraction costs zero shuffle on the base scan. The read path
    never sees the delete PREDICATE, only positions; the oracle
    restates the end state relationally, so a position drift, an
    off-by-one in row numbering, or a mis-bucketed tombstone all break
    the hash.
    """
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    base = os.path.join(_SCRATCH, "dv_base_" + sf_tag)
    dv = os.path.join(_SCRATCH, "dv_del_" + sf_tag)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.pmod("o_orderkey", F.lit(4)).alias("bucket")
    )
    (
        o.repartition(4, "bucket")
        .sortWithinPartitions("bucket", "o_orderkey")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(base)
    )

    def read_base():
        return spark.read.parquet(base).select(
            "o_orderkey",
            F.col("bucket").cast("long").alias("bucket"),
            F.col("_metadata.row_index").cast("long").alias("pos"),
        )

    # the DELETE command: predicate -> positions, written once
    (
        read_base()
        .filter(F.pmod("o_orderkey", F.lit(7)) == 3)
        .select("bucket", "pos")
        .write.mode("overwrite")
        .parquet(dv)
    )
    # the merge-on-read scan: positions only, no predicate
    tombstones = spark.read.parquet(dv)
    return (
        read_base()
        .join(F.broadcast(tombstones), ["bucket", "pos"], "left_anti")
        .select("bucket", "o_orderkey", "pos")
    )


@register(
    "txn_log_partition_evolution",
    oracle=f"""
SELECT CASE WHEN o_orderkey % 10 < 7 THEN 1 ELSE 2 END AS gen,
       o_orderkey % 4 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM({grid_sql('o_totalprice', 2)})
            AS BIGINT) AS cents
FROM orders
WHERE o_orderkey % 4 = 1
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def txn_log_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution (Iceberg-style) — the table changes its
    partitioning scheme mid-life WITHOUT rewriting history: generation
    1 landed under ``bucket2=key%2``, generation 2 under
    ``bucket4=key%4``, and one logical read spans both. The reader
    normalizes every row to the CURRENT spec — gen-2 rows take the
    bucket from the partition directory; gen-1 rows recompute it from
    data (old files cannot know the new spec). A filter on the new
    partition column therefore PRUNES directories on the gen-2 side
    and degrades to scan+filter on gen-1 — exactly Iceberg's contract,
    and exactly why compaction eventually rewrites old generations.
    At 100 TB this is what makes repartitioning a metadata operation
    instead of a table rewrite.

    Completes the table-format family: schema evolution
    (`txn_log_schema_evolution`) changes columns, this changes layout;
    both read old + new in one plan. The oracle restates the end state
    from the source table, so a dropped generation, a mis-derived
    bucket, or a broken union breaks the hash.
    """
    root = os.path.join(
        _SCRATCH, "ptev_" + os.path.basename(os.path.normpath(sf_dir))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    g1 = o.filter(F.pmod("o_orderkey", F.lit(10)) < 7).withColumn(
        "bucket2", F.pmod("o_orderkey", F.lit(2))
    )
    (
        g1.repartition(2, "bucket2")
        .write.mode("overwrite")
        .partitionBy("bucket2")
        .parquet(os.path.join(root, "gen1"))
    )
    g2 = o.filter(F.pmod("o_orderkey", F.lit(10)) >= 7).withColumn(
        "bucket4", F.pmod("o_orderkey", F.lit(4))
    )
    (
        g2.repartition(4, "bucket4")
        .write.mode("overwrite")
        .partitionBy("bucket4")
        .parquet(os.path.join(root, "gen2"))
    )
    cents = (
        grid("o_totalprice", 2).alias("cents")
    )
    # normalized logical read under the NEW spec
    r1 = (
        spark.read.parquet(os.path.join(root, "gen1"))
        .select(
            F.lit(1).cast("long").alias("gen"),
            F.pmod("o_orderkey", F.lit(4)).alias("bucket"),  # derived
            cents,
        )
    )
    r2 = (
        spark.read.parquet(os.path.join(root, "gen2"))
        .select(
            F.lit(2).cast("long").alias("gen"),
            F.col("bucket4").cast("long").alias("bucket"),  # partition col
            cents,
        )
    )
    return (
        r1.unionByName(r2)
        .filter(F.col("bucket") == 1)  # prunes gen2 dirs, filters gen1
        .groupBy("gen", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )


_txn_wap_roots: dict[str, str] = {}

#: WAP audit threshold: |row-count delta| must stay within 10%.
_WAP_MAX_DELTA_MICRO = 100_000


def _txn_wap_build(spark: SparkSession, sf_dir: str) -> str:
    """Build the write-audit-publish fixture once per (process, sf):
    version 0 ingests orders split by key parity; two branch commits
    are then STAGED (written under _log/_staged, invisible to replay):

    - ``uplift``  — rewrites the even-key file applying a +5% price
      uplift in exact cents (row count preserved  -> audits pass),
    - ``baddedup`` — a buggy dedupe rewrite of the odd-key file that
      keeps only keys with ``(key div 2) % 5 < 3`` (drops ~40% of the
      file -> the volume audit fails).

    The publish step (in the operator) renames the passing branch's
    staged file to the next committed version; failing branches stay
    quarantined in _staged. Returns the table root."""
    root = _txn_wap_roots.get(sf_dir)
    if root:
        return root
    import json

    root = os.path.join(
        _SCRATCH, "txnwap_" + os.path.basename(os.path.normpath(sf_dir))
    )
    data = os.path.join(root, "data")
    logd = os.path.join(root, "_log")
    # staged branches live OUTSIDE _log: replay must never see them
    # (and _txn_active parses every _log entry name as a version).
    staged = os.path.join(root, "_staged")
    os.makedirs(staged, exist_ok=True)
    os.makedirs(logd, exist_ok=True)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v0 = []
    for par in (0, 1):
        p = os.path.join(data, f"parity_{par}_v0")
        o.filter(F.pmod("o_orderkey", F.lit(2)) == par).write.mode(
            "overwrite"
        ).parquet(p)
        v0.append({"action": "add", "path": p})
    with open(os.path.join(logd, "00000000.json"), "w") as f:
        for a in v0:
            f.write(json.dumps(a) + "\n")
    # branch "uplift": even-key rewrite, +5% in exact cents
    up = os.path.join(data, "parity_0_uplift")
    o.filter(F.pmod("o_orderkey", F.lit(2)) == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (
            F.expr(
                f"{grid_sql('o_totalprice', 2)}"
                " * 105 div 100"
            ).cast("double")
            / F.lit(100.0)
        ).alias("o_totalprice"),
    ).write.mode("overwrite").parquet(up)
    with open(os.path.join(staged, "uplift.json"), "w") as f:
        f.write(json.dumps({"action": "remove", "path": v0[0]["path"]}) + "\n")
        f.write(json.dumps({"action": "add", "path": up}) + "\n")
    # branch "baddedup": odd-key rewrite that silently drops rows
    bad = os.path.join(data, "parity_1_baddedup")
    o.filter(
        (F.pmod("o_orderkey", F.lit(2)) == 1)
        & (F.pmod(F.expr("o_orderkey div 2"), F.lit(5)) < 3)
    ).write.mode("overwrite").parquet(bad)
    with open(os.path.join(staged, "baddedup.json"), "w") as f:
        f.write(json.dumps({"action": "remove", "path": v0[1]["path"]}) + "\n")
        f.write(json.dumps({"action": "add", "path": bad}) + "\n")
    _txn_wap_roots[sf_dir] = root
    return root


def _txn_staged_snapshot(
    spark: SparkSession, root: str, branch: str
) -> DataFrame:
    """The table as it WOULD look if `branch` were published: committed
    replay plus the branch's staged actions."""
    import json

    active = {a["path"]: a for a in _txn_active(root, 10**9)}
    with open(os.path.join(root, "_staged", f"{branch}.json")) as f:
        for line in f:
            a = json.loads(line)
            if a["action"] == "add":
                active[a["path"]] = a
            elif a["action"] == "remove":
                active.pop(a["path"], None)
    return spark.read.parquet(*sorted(active))


@register(
    "txn_log_wap_publish",
    oracle=f"""
WITH base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders
),
cand AS (
  SELECT 'baddedup' AS branch,
         CAST(SUM(CASE WHEN o_orderkey % 2 = 0
                         OR (o_orderkey // 2) % 5 < 3
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_staged
  FROM orders
  UNION ALL
  SELECT 'uplift' AS branch, CAST(COUNT(*) AS BIGINT) AS n_staged
  FROM orders
),
audit AS (
  SELECT branch, n_staged, base.n AS n_base,
         {grid_sql('abs(CAST(n_staged AS DOUBLE) / base.n - 1.0)', 6)} AS delta_micro
  FROM cand CROSS JOIN base
),
verdicts AS (
  SELECT branch, n_staged, n_base, delta_micro,
         delta_micro <= 100000 AS passed
  FROM audit
),
final AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS final_rows,
         CAST(SUM(CASE WHEN o_orderkey % 2 = 0
                  THEN {grid_sql('o_totalprice', 2)}
                       * 105 // 100
                  ELSE {grid_sql('o_totalprice', 2)}
                  END) AS BIGINT) AS final_cents
  FROM orders
)
SELECT branch, n_staged, n_base, delta_micro, passed,
       passed AS published, final_rows, final_cents
FROM verdicts CROSS JOIN final
ORDER BY branch
""",
)
def txn_log_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish — the lakehouse promotion gate: candidate
    commits are STAGED on branches (invisible to readers), a volume
    audit runs against each staged snapshot, and only passing branches
    are atomically published (staged file renamed to the next committed
    version; failing branches stay quarantined for forensics). The
    fixture stages a row-preserving price uplift (passes, publishes)
    and a buggy dedupe that drops ~40% of a file (fails, quarantined) —
    the exact incident WAP exists to catch.

    The oracle re-derives every audit measurement AND the final
    published state relationally, so the hash proves (a) the audit
    math, (b) that the failing branch's rows are absent from the
    published table, and (c) that the uplift landed in exact cents.
    100-TB posture: audits are one aggregate per staged snapshot
    (metadata-bounded replay + file-pruned scans); publish is a single
    log-file rename — O(1), the whole point of the pattern.
    """
    import json

    root = _txn_wap_build(spark, sf_dir)
    logd = os.path.join(root, "_log")
    staged_d = os.path.join(root, "_staged")
    audit_p = os.path.join(root, "_audit.json")
    if os.path.exists(audit_p):
        # audit + publish already ran in this table's lifetime: replay
        # the recorded verdicts (idempotent re-reads, the bench/sweep
        # contract — publish must not double-apply).
        with open(audit_p) as f:
            rows = [tuple(r) for r in json.load(f)]
    else:
        base_n = _txn_snapshot(spark, root, 10**9).count()
        rows = []
        for branch in sorted(os.listdir(staged_d)):
            name = branch.split(".")[0]
            n_staged = _txn_staged_snapshot(spark, root, name).count()
            delta = int(abs(n_staged / base_n - 1.0) * 1e6 + 0.5)
            rows.append(
                (name, n_staged, base_n, delta,
                 delta <= _WAP_MAX_DELTA_MICRO)
            )
        # publish every passing branch in name order (deterministic)
        committed = sorted(
            int(f.split(".")[0])
            for f in os.listdir(logd) if f.endswith(".json")
        )
        next_ver = committed[-1] + 1
        for name, _, _, _, passed in rows:
            if not passed:
                continue
            sp = os.path.join(staged_d, f"{name}.json")
            dst = os.path.join(logd, f"{next_ver:08d}.json")
            if os.path.exists(sp):
                os.rename(sp, dst)
                next_ver += 1
        with open(audit_p, "w") as f:
            json.dump(rows, f)
    fin = _txn_snapshot(spark, root, 10**9).agg(
        F.count(F.lit(1)).alias("final_rows"),
        F.sum(
            F.expr(f"{grid_sql('o_totalprice', 2)}")
        ).alias("final_cents"),
    )
    report = local_frame(
        spark, rows, "branch STRING, n_staged BIGINT, n_base BIGINT, "
        "delta_micro BIGINT, passed BOOLEAN"
    ).withColumn("published", F.col("passed"))
    return (
        report.crossJoin(F.broadcast(fin))
        .select(
            "branch", "n_staged", "n_base", "delta_micro", "passed",
            "published", "final_rows", "final_cents",
        )
        .orderBy("branch")
    )


@register(
    "sink_json_roundtrip",
    oracle=f"""
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       {dsum_sql('o_totalprice', 'total', 2)}
FROM orders
WHERE o_orderkey % 7 = 0
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink round-trip: write a filtered order slice as
    compressed JSONL partitioned by status, read it back through the
    JSON source, and aggregate — the export-to-downstream-consumer
    path (labeling services, spot-check samples, cross-org handoffs
    live on JSONL, not parquet). The oracle aggregates the ORIGINAL
    table, so the hash proves the full write -> read cycle preserved
    every row and every value through JSON's text representation —
    including exact decimal totals (prices round-trip as JSON numbers;
    the dsum lands them back on the cents grid).

    100-TB posture: the write is partitioned (one dir per status,
    parallel files within); the read-back prunes on the partition
    column. gzip per-file keeps the text format's size honest.
    """
    out = os.path.join(_SCRATCH, f"json_rt_{os.path.basename(sf_dir)}")
    src = (
        load_table(spark, sf_dir, "orders")
        .where(F.pmod("o_orderkey", F.lit(7)) == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    src.write.mode("overwrite").partitionBy("o_orderstatus").option(
        "compression", "gzip"
    ).json(out)
    back = spark.read.json(out)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("o_totalprice"), "total", 2),
        )
        .orderBy("o_orderstatus")
    )
