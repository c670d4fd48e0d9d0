"""Fixture loaders.

Single choke-point for reading the test tables so every operator gets the
same schemas — in particular the ``events`` nanosecond-timestamp conversion
happens exactly once, here (SURVEY.md §1.1).

Scale note: loaders return *unmaterialized* scans. Predicate pushdown and
column pruning happen against the parquet source (verify with
``df.explain("formatted")`` → ``PushedFilters`` / ``ReadSchema``); at 100 TB
the same code reads a partitioned table and Catalyst prunes partitions.
"""

from __future__ import annotations

import os
from typing import Callable, Iterable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from .session import ensure_confs

#: all fixture tables (TESTDATA.md + FIXTURES.md; documents/embeddings are
#: in scope even though TESTDATA.md's table list omits them).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: session → {(sf_dir, table) → lazy scan DataFrame}. A DataFrame is an
#: immutable logical plan, so reusing one across queries is safe and skips
#: the per-call footer read + analysis round-trip (~80 ms measured). The
#: outer key is a WEAK reference to the SparkSession: identity-keyed (so a
#: recycled id() can never alias a new session to a stopped session's
#: plans) but evicted when the host drops the session, so a long-lived
#: driver that cycles sessions doesn't pin every one for process life.
import weakref  # noqa: E402

_SCANS: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, normalizing engine-hostile physical types.

    ``events.ts`` is parquet TIMESTAMP(NANOS); Spark 4 reads it only as
    BIGINT ns (legacy flag, set by ensure_confs). We convert with *integer*
    division — ``ts div 1000`` — not float division: epoch-ns ≈ 1.7e18
    exceeds double's 53-bit mantissa, so ``/1000`` would round-trip through
    an imprecise double and can be off by a microsecond vs DuckDB's exact
    truncation.

    ``ensure_confs`` runs on EVERY call (cache hit or not) — the session
    contract is that each registered query re-pins the runtime confs, so
    a host that flips e.g. the session timezone between queries can't
    silently diverge from the oracles.
    """
    ensure_confs(spark)
    per_session = _SCANS.setdefault(spark, {})
    key = (sf_dir, name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    per_session[key] = df
    return df


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], ddl: str
) -> DataFrame:
    """A small table of driver-side ``rows`` (tuples in ``ddl`` column
    order; may be empty), typed by the DDL schema ``ddl``.

    The rows go to the JVM as one Arrow table and plan as a Catalyst
    ``LocalRelation`` (``LocalTableScan``). ``spark.createDataFrame(list,
    …)`` would instead ship them through ``sc.parallelize``: a ``Scan
    ExistingRDD`` over a PythonRDD that runs ``defaultParallelism``
    Python tasks on every execution, even for 3 rows, from a
    ``pyspark.daemon`` pool of its own (its env differs from the UDF
    pool's). Each such task costs ~0.2 s of worker CPU: collecting
    ``stream_rate_limit``'s 3-row result at local[4] ran 4 Python tasks,
    0.84 CPU-s and 334 ms as a list frame, against no task and 8 ms
    here. Schema, nullability and values equal the list form's
    (``tests/test_local_frame.py``).
    """
    # imported on use: Python workers import this module to unpickle
    # UDFs, and a plain Python UDF's worker needs no Arrow.
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = _parse_datatype_string(ddl)
    schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(cols, schema)],
        schema=schema,
    )
    return spark.createDataFrame(table, struct)


#: session → {key → eagerly-checkpointed DataFrame}; weakly keyed like
#: ``_SCANS``.
_CHECKPOINTS: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def session_checkpoint(
    spark: SparkSession, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """The session's shared materialized artifact ``key``: ``build()``
    eagerly ``localCheckpoint``-ed on first use, the same frame after.

    For inputs several registry keys start from (the co-purchase edge
    table, the minhash band index): without it each key re-pays the
    build. At 100 TB this is the table such a workload persists once.
    Cache hits skip ``load_table``, so the runtime confs are re-applied
    here — every registered query leaves the session configured.
    """
    ensure_confs(spark)
    per_session = _CHECKPOINTS.setdefault(spark, {})
    df = per_session.get(key)
    if df is None:
        df = per_session[key] = build().localCheckpoint(eager=True)
    return df


def fan_out(df: DataFrame, *cols: "str | Column") -> DataFrame:
    """Spread an under-split scan across the session's cores (guide §2.5).

    The local fixtures are single-row-group parquet files, so a scan is
    ONE input split and everything narrow below it (digest projections,
    explodes, Python batches, map-side partial aggregates) serializes
    into a single task; a repartition fixes that. But an UNCONDITIONAL
    ``repartition(defaultParallelism)`` is scale-unsafe (ADVICE r12):
    ``repartition(N)`` always shuffles every row it sees, and on a
    pre-split 100-TB scan (~10^5 input tasks) it would both add a
    full-data exchange and CAP the stage at N partitions — spill and
    lost parallelism, the opposite of its purpose. So fire only in the
    regime the fan-out was measured in: when the input arrives with
    fewer partitions than the session has cores.

    ``cols`` (names or expressions) keeps a keyed fan-out keyed (a hash
    exchange a downstream window/groupBy on the same key can reuse); no
    cols → round-robin.
    The partition probe plans the subtree once (`.rdd` is lazy — no job
    runs); at these call sites the input is a scan + narrow projection,
    so the probe costs milliseconds of planning, not data.
    """
    try:
        spark = df.sparkSession
        target = int(spark.sparkContext.defaultParallelism)
        n = df.rdd.getNumPartitions()
    except Exception:  # Connect-style session: no sparkContext / .rdd
        return df
    if n >= target:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table (lazy scans; nothing is materialized)."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for the ``spark.sql`` door."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
