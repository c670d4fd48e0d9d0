"""SparkSession factory + session-conf enforcement.

Two jobs:

1. ``get_spark()`` — build a local session with the engine's config block
   (used by tests and bench.py).
2. ``ensure_confs(spark)`` — apply the *runtime-settable* subset of that
   config to an externally-created session (the driver builds its own
   SparkSession; every registered query routes through this so oracle
   agreement does not depend on who built the session).

Config rationale (SURVEY.md §4):
- ``spark.sql.shuffle.partitions`` sized to the core count: at local[32]
  a 200-partition shuffle is pure scheduling overhead; on a 1000-executor
  cluster this would be raised (or left to AQE coalescing).
- AQE on + coalescePartitions: runtime re-planning (skew-join splitting,
  partition coalescing, broadcast conversion) is the scale story.
- session timezone pinned UTC: fixture timestamps are naive; DuckDB (the
  correctness oracle) treats them as wall-clock — both engines must agree.
- ``spark.sql.legacy.parquet.nanosAsLong``: events.parquet stores
  TIMESTAMP(NANOS) which Spark 4 refuses to read natively
  (PARQUET_TYPE_ILLEGAL). With the flag, ts arrives as BIGINT nanoseconds
  and catalog.load_table converts to a proper timestamp column.
- Arrow enabled: collect()/toPandas, pandas or Arrow input to
  createDataFrame, and all pandas_udf boundaries move columnar batches
  instead of pickled rows. A Python *list* handed to createDataFrame
  does not: it goes through ``sc.parallelize`` and runs Python tasks on
  every execution. Build driver-side rows with ``catalog.local_frame``,
  which sends them as one Arrow table (a Catalyst ``LocalRelation``).
- ``spark.sql.codegen.cache.maxEntries`` = ``CODEGEN_CACHE_ENTRIES``:
  Spark keeps each Janino-compiled class in a cache of 100 entries by
  default, and one pass of the ten headline keys plus the HLL sketch
  needs about 150 distinct classes, so the cache evicted in a cycle and
  every warm pass compiled 85–134 classes again (0–10 at 2048; median
  CPU per pass 8.1 → 6.7 s at sf0.02, local[4]). One sweep of all 67
  bench.py keys compiles about 1,210 distinct classes (sf0.01), so 2048
  holds it: a second sweep compiles 56 again, against 1,445 at 100.
  The JVM keeps ~25 MB more in use after the headline passes, ~75 MB
  after a sweep of every bench.py key. The conf is static (read once, when the JVM builds its codegen cache), so it
  is set in ``get_spark``'s builder and not in ``_RUNTIME_CONFS``:
  ``ensure_confs`` cannot set it at runtime, and a session the driver
  builds itself keeps Spark's 100. Plans and results do not depend on
  it; it only decides whether the same generated source is compiled
  again.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: generated classes Spark keeps compiled (``spark.sql.codegen.cache.
#: maxEntries``, static; see "Config rationale" above).
CODEGEN_CACHE_ENTRIES = 2048

#: confs that are runtime-settable on any session (all SQL confs).
_RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Naive parquet timestamps (timestamp[us] with no tz — the regenerated
    # events fixture) must read as TIMESTAMP_LTZ under the pinned UTC
    # session tz, not TIMESTAMP_NTZ: NTZ breaks unix_micros/epoch
    # arithmetic everywhere, and LTZ@UTC is exactly how DuckDB (the
    # oracle) evaluates epoch_us on the same naive values.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # r12 introduced two SMJ→SHJ levers; r13 keeps only the AQE one
    # (ADVICE r12): the static preferSortMergeJoin=false flip decides
    # from the planner's size ESTIMATES (often wrong after UDF/explode
    # stages) and a mis-sized build side OOMs with no fallback, while
    # the AQE conversion below uses MEASURED post-shuffle sizes, so at
    # 100 TB an oversized build side simply stays sort-merge. Paired
    # A/B on the join-heavy bench keys read the static flip as noise
    # locally (see OPTIMIZATION_r13.md), so the safer posture costs
    # nothing. Threshold env-overridable for cluster tuning.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": os.environ.get(
        "SPARK_GRAFT_SHJ_THRESHOLD", "128m"
    ),
    # "auto" resolves in ensure_confs (tests override this entry with a
    # literal count — keep the key present).
    "spark.sql.shuffle.partitions": "auto",
}


def _shuffle_partitions(spark: SparkSession) -> str:
    """Scale-adaptive shuffle-partition count (guide §2.2): default to
    the session's actual core count instead of a constant tuned for one
    machine shape — the driver re-runs the bench at lower core counts,
    and a hard-coded 32 there is pure scheduling overhead. On a real
    cluster set ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` (or rely on AQE
    coalescing from a high initial value) so partitions land in the
    100 MB–1 GB band.
    """
    env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if env:
        return env
    try:
        return str(max(int(spark.sparkContext.defaultParallelism), 1))
    except Exception:  # Connect-style sessions: no sparkContext
        return "32"


def ensure_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an existing session.

    Idempotent and cheap; called at the top of every registered query so
    the driver's own SparkSession behaves like ours.
    """
    confs = dict(_RUNTIME_CONFS)
    if confs.get("spark.sql.shuffle.partitions") == "auto":
        confs["spark.sql.shuffle.partitions"] = _shuffle_partitions(spark)
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # a conf may be marked static on some builds; never fail a query
            # over configuration sugar.
            pass
    return spark


def get_spark(app_name: str = "analyse-the-sky-spark") -> SparkSession:
    """Build (or fetch) the engine's local session.

    Core count comes from ``$SPARK_GRAFT_CPUS`` (driver contract), default
    ``local[*]``. On a real cluster, only ``master`` and the partition
    sizing change — the API surface is identical.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.shuffle.partitions", "32" if cpus == "*" else cpus)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in _RUNTIME_CONFS.items():
        if v == "auto":  # resolved per-session in ensure_confs
            continue
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return ensure_confs(spark)
