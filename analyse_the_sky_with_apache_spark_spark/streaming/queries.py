"""Structured Streaming operators (SURVEY.md §2.9).

Each query runs a REAL streaming execution (file source → stateful
operators → memory sink, trigger availableNow) and returns the final
result table; batch SQL over the same events is the oracle where the
semantics are batch-expressible — since round 7 that includes every
append-mode key via the watermark-horizon rule (emitted set == batch
rollup restricted to finalized windows); only foreachBatch's
side-effect ids stay rows-only, plus dedicated pytest assertions
(tests/test_streaming.py).

Scale notes: windowed/session aggregation state is partitioned by
(group key) — high-cardinality keys (user_id) shard state across
executors; watermarks bound state size; complete mode below is a test
convenience (memory sink), production sinks run append/update with
watermarks.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import local_frame
from ..functions.exact import dsum, dsum_sql, grid, grid_sql, md5_int, md5_int_sql
from ..operators.windows import session_starts_sql
from ..registry import register
from .replay import checkpoint_dir, run_stream, stage_events


@register(
    "stream_tumbling",
    oracle=f"""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       event_type,
       COUNT(*) AS n,
       {dsum_sql('value', 'sum_value', 6)}
FROM events
GROUP BY 1, 2
""",
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-day tumbling windows by event type, executed as a genuine
    streaming aggregation; the batch twin is agg_tumbling_batch."""
    src = stage_events(spark, sf_dir)
    agg = src.groupBy(F.window("ts", "1 day").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value", "sum_value", 6)
    )
    res = run_stream(spark, agg, mode="complete", name="tumbling")
    return res.select(
        F.col("w.start").cast("date").alias("day"), "event_type", "n", "sum_value"
    )


@register(
    "stream_sliding",
    oracle=f"""
WITH bounds AS (
  SELECT date_trunc('hour', MIN(ts)) - INTERVAL 5 HOUR AS lo,
         date_trunc('hour', MAX(ts)) AS hi
  FROM events
),
starts AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ws FROM bounds
)
SELECT ws AS window_start, COUNT(*) AS n,
       {dsum_sql('e.value', 'sum_value', 6)}
FROM starts JOIN events e
  ON e.ts >= ws AND e.ts < ws + INTERVAL 6 HOUR
GROUP BY ws
""",
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-hour windows sliding every hour. The oracle regenerates Spark's
    epoch-aligned window-start grid with generate_series + a range join —
    an inner join, so only non-empty windows appear, exactly like the
    streaming output. The grid bounds derive from the DATA (hour-truncated
    min ts minus the window overhang, through max ts): whole-hour slides
    align to hour boundaries, which align to the epoch grid Spark uses, so
    no fixture time-span is baked in."""
    src = stage_events(spark, sf_dir)
    agg = src.groupBy(F.window("ts", "6 hours", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).alias("n"), dsum("value", "sum_value", 6)
    )
    res = run_stream(spark, agg, mode="complete", name="sliding")
    return res.select(F.col("w.start").alias("window_start"), "n", "sum_value")


@register(
    "stream_session",
    oracle=f"""
WITH {session_starts_sql("value, event_id")},
y AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM x
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
       {dsum_sql('value', 'sum_value', 6)}
FROM y
GROUP BY user_id, sid
""",
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user as a streaming
    aggregation. The oracle is the classic batch sessionization rewrite
    (lag → gap ≥ 30 min → running session id) — two independent
    implementations of the same semantics checking each other.

    Gap-boundary rule encoded in the oracle: Spark session windows end at
    last_ts + gap *exclusive*, so an event exactly gap after its
    predecessor starts a NEW session (hence ``>=``).
    """
    src = stage_events(spark, sf_dir)
    agg = src.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value", 6))
    res = run_stream(spark, agg, mode="complete", name="session")
    return res.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        "n_events",
        "sum_value",
    )


@register(
    "stream_watermark_late",
    oracle="""
WITH hourly AS MATERIALIZED (
  SELECT date_trunc('hour', ts) AS window_start,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1),
cut AS MATERIALIZED (
  SELECT MAX(ts) - INTERVAL 1 HOUR AS wm FROM events)
SELECT window_start, n
FROM hourly, cut
WHERE window_start + INTERVAL 1 HOUR <= cut.wm
ORDER BY window_start
""",
)  # promoted r7: append emission == batch hourly counts restricted to
# watermark-finalized windows (the stream_join_then_agg horizon rule)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour counts under a 1-hour watermark, replayed as 4
    time-ordered micro-batches (append mode).

    Finalized windows are emitted as the watermark passes them; windows
    still open when the stream ends stay unflushed — so the output has
    FEWER rows than the batch equivalent. Promoted rows-only →
    oracle-checked (r7): on the in-order replay the emitted set is
    exactly the batch hourly rollup restricted to windows whose end ≤
    the final watermark (max event ts − 1 h), so the hash certifies
    the counts AND the finalization boundary. tests/test_streaming.py
    keeps the inequality pin and the crafted too-late-row drop — the
    semantics the oracle can't state.
    """
    src = stage_events(spark, sf_dir, n_files=4)
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    res = run_stream(spark, agg, mode="append", name="late")
    return res.select(F.col("w.start").alias("window_start"), "n")


@register(
    "stream_dedup",
    oracle="SELECT event_id, user_id, event_type FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup within a watermark over a source with every event
    duplicated (events ∪ events). Single-file staging → one micro-batch →
    both copies fall inside the watermark and exact dedup is guaranteed,
    so the batch oracle is simply the distinct events."""
    src = stage_events(spark, sf_dir, duplicate=True)
    deduped = (
        src.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return run_stream(spark, deduped, mode="append", name="dedup")


_STATE_OUT_SCHEMA = (
    "user_id BIGINT, n_events BIGINT, max_value DOUBLE, last_ts TIMESTAMP"
)
_STATE_SCHEMA = "n BIGINT, mx DOUBLE, last BIGINT"


def _user_stats_fn(key, pdf_iter, state):
    """Arbitrary stateful per-user accumulator (count / max / latest ts).

    All reducers are order-independent (count, max), so the result is
    deterministic regardless of batch order. Timestamps round-trip
    through integer microseconds — GroupState holds a BIGINT.
    """
    n, mx, last = state.get if state.exists else (0, float("-inf"), 0)
    for pdf in pdf_iter:
        n += len(pdf)
        mx = max(mx, float(pdf["value"].max()))
        last = max(last, int(pdf["ts"].astype("int64").max() // 1000))
    state.update((n, mx, last))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "max_value": [mx],
            "last_ts": [pd.Timestamp(last, unit="us")],
        }
    )


@register(
    "stream_stateful",
    oracle="""
SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value,
       MAX(ts) AS last_ts
FROM events
GROUP BY user_id
""",
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState — the
    arbitrary-state escape hatch (running per-user machine). Single-batch
    replay → the final update per key equals the batch aggregate, which
    serves as the oracle."""
    src = stage_events(spark, sf_dir)
    out = src.groupBy("user_id").applyInPandasWithState(
        _user_stats_fn,
        outputStructType=_STATE_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    return run_stream(spark, out, mode="update", name="stateful")


@register("stream_foreach_batch")  # rows-only: batch ids aren't SQL-visible
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batch fan-out via foreachBatch — the production sink shape
    for multi-destination writes (here: per-batch row counts collected
    driver-side, 4 deterministic time-ordered batches)."""
    src = stage_events(spark, sf_dir, n_files=4)
    acc: list[tuple[int, int]] = []

    def sink(df: DataFrame, batch_id: int) -> None:
        acc.append((int(batch_id), df.count()))

    q = (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir("fb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return local_frame(spark, sorted(acc), "batch_id BIGINT, n_rows BIGINT")


@register(
    "stream_static_join",
    oracle="""
SELECT e.event_id, e.user_id, c.c_mktsegment, e.event_type
FROM events e JOIN customer c ON e.user_id % 100 = c.c_custkey
""",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ static dimension — the enrichment join every event
    pipeline runs. The static side is a plain batch DataFrame; Spark
    re-plans it per micro-batch (picking up dim updates) and broadcasts
    it, so the stream side never shuffles. Stateless → no watermark
    needed."""
    from ..catalog import load_table

    src = stage_events(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = (
        src.withColumn("join_key", F.col("user_id") % 100)
        .join(F.broadcast(dim), F.col("join_key") == F.col("c_custkey"))
        .select("event_id", "user_id", "c_mktsegment", "event_type")
    )
    return run_stream(spark, joined, mode="append", name="static_join")


#: The view and purchase sides of the 30-minute interval join (DuckDB),
#: and its join condition.
_VIEW_BUY_SQL = """v AS MATERIALIZED (
  SELECT event_id AS view_id, user_id, ts AS v_ts
  FROM events WHERE event_type = 'view'),
b AS MATERIALIZED (
  SELECT event_id AS purchase_id, user_id AS b_user, ts AS b_ts
  FROM events WHERE event_type = 'purchase')"""
_VIEW_BUY_ON = """v.user_id = b.b_user
              AND b.b_ts > v.v_ts
              AND b.b_ts <= v.v_ts + INTERVAL 30 MINUTE"""


def _view_purchase_join(src: DataFrame, how: str) -> DataFrame:
    """Each view joined to its user's purchases within the next 30
    minutes: the funnel/attribution interval join.

    Both sides carry a 1-hour watermark and the condition bounds the
    event-time distance, so Spark sizes the join state: each side
    buffers only rows within watermark + interval. Columns: view_id,
    v_user, v_ts, purchase_id, b_user, b_ts.
    """
    views = (
        src.filter(F.col("event_type") == "view")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
    )
    buys = (
        src.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("b_user"),
            F.col("ts").alias("b_ts"),
        )
    )
    return views.join(
        buys,
        (F.col("v_user") == F.col("b_user"))
        & (F.col("b_ts") > F.col("v_ts"))
        & (F.col("b_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        how,
    )


@register(
    "stream_stream_join",
    oracle=f"""
WITH {_VIEW_BUY_SQL}
SELECT v.view_id, b.purchase_id, v.user_id,
       epoch_us(b.b_ts) - epoch_us(v.v_ts) AS lag_us
FROM v JOIN b ON {_VIEW_BUY_ON}
""",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: view → purchase within 30 min per
    user (the funnel/attribution shape, :func:`_view_purchase_join`).

    Join state is bounded by arrival rate × horizon, not stream length.
    Single-batch replay makes the full result available, and the batch
    self-join is the oracle.
    """
    src = stage_events(spark, sf_dir)
    joined = _view_purchase_join(src, "inner").select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        (F.unix_micros("b_ts") - F.unix_micros("v_ts")).alias("lag_us"),
    )
    return run_stream(spark, joined, mode="append", name="ss_join")


@register(
    "stream_chained_agg",
    oracle="""
WITH hourly AS MATERIALIZED (
  SELECT date_trunc('hour', ts) AS h, event_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
daily AS MATERIALIZED (
  SELECT event_type, CAST(date_trunc('day', h) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM(n) AS BIGINT) AS n_events
  FROM hourly GROUP BY 1, 2),
cut AS MATERIALIZED (
  SELECT MAX(ts) - INTERVAL 1 HOUR AS wm FROM events)
SELECT event_type, day, n_hours, n_events
FROM daily, cut
WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY <= cut.wm
ORDER BY event_type, day
""",
)  # promoted r7: append emission == batch double-agg restricted to
# watermark-finalized days (same horizon rule as stream_join_then_agg)
def stream_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming aggregations in one query (Spark 3.4+
    multiple-stateful-operator support): an hourly tumbling count rolls
    up into a daily aggregate — two windowed aggregations, two state
    stores, one streaming plan (the pre-3.4 workaround was two queries
    glued by a sink). The second aggregation passes the FIRST window
    STRUCT to ``window()`` (the SPARK-40925 form), which is what
    carries the event-time watermark through; chained stateful ops
    require APPEND output (complete mode trips Spark's global-watermark
    correctness check by design), so the query replays 4 time-ordered
    micro-batches and emits each day as the watermark finalizes it —
    the still-open tail day is withheld. Promoted rows-only →
    oracle-checked (r7): on the in-order replay the emitted set is
    EXACTLY the batch hourly→daily double-aggregation restricted to
    days whose window end ≤ the final watermark (max event ts − 1 h) —
    the `stream_join_then_agg` horizon rule, so the hash certifies the
    chained-state values AND the append finalization boundary;
    tests/test_streaming.py keeps the independent batch-differential
    and withholding pins.
    """
    src = stage_events(spark, sf_dir, n_files=4)
    hourly = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    daily = (
        hourly.groupBy(
            F.window(F.col("w"), "1 day").alias("d"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum("n_events").alias("n_events"),
        )
    )
    res = run_stream(spark, daily, mode="append", name="chained")
    return res.select(
        "event_type",
        F.col("d.start").cast("date").alias("day"),
        "n_hours",
        F.col("n_events").cast("long").alias("n_events"),
    )


@register(
    "stream_topk_windowed",
    oracle="""
WITH counts AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT day, event_type, n,
         ROW_NUMBER() OVER (PARTITION BY day
                            ORDER BY n DESC, event_type) AS rk
  FROM counts
)
SELECT day, event_type, n, rk FROM ranked WHERE rk <= 3
""",
)
def stream_topk_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending items: top-3 event types per 1-day tumbling window,
    computed over a REAL streaming execution. The streaming stage
    maintains only the per-(window, type) counts — cheap keyed state,
    watermark-boundable; the rank is applied to the emitted result
    table, which is the production pattern too (Structured Streaming
    does not support ranking windows inside the stream; you rank in
    the sink or a follow-up batch over the emitted micro-batch —
    ~|windows|×|types| rows, trivially small regardless of input
    scale).

    Determinism: counts are exact integers and the rank is fully
    tie-broken (n DESC, event_type), so top-3 membership is stable.
    """
    from pyspark.sql import Window

    src = stage_events(spark, sf_dir)
    agg = src.groupBy(
        F.window("ts", "1 day").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    res = run_stream(spark, agg, mode="complete", name="topk")
    wr = Window.partitionBy("day").orderBy(F.col("n").desc(), "event_type")
    return (
        res.select(
            F.col("w.start").cast("date").alias("day"), "event_type", "n"
        )
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 3)
    )


@register(
    "stream_stream_left_join",
    oracle=f"""
WITH {_VIEW_BUY_SQL},
cut AS MATERIALIZED (
  SELECT MAX(ts) - INTERVAL 1 HOUR AS wm FROM events),
matched AS MATERIALIZED (
  SELECT v.view_id, b.purchase_id, v.user_id, v.v_ts
  FROM v JOIN b ON {_VIEW_BUY_ON}),
nulls AS MATERIALIZED (
  SELECT v.view_id, CAST(NULL AS BIGINT) AS purchase_id,
         v.user_id, v.v_ts
  FROM v, cut
  WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.view_id = v.view_id)
    AND v.v_ts + INTERVAL 90 MINUTE < cut.wm)
SELECT view_id, purchase_id, user_id, v_ts AS view_ts FROM matched
UNION ALL
SELECT view_id, purchase_id, user_id, v_ts FROM nulls
ORDER BY view_id, purchase_id
""",
)  # promoted r7: matched rows == batch inner join; NULL rows == the
# no-match views whose 30-min join window the final watermark closed
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join: every view, with its purchase
    within 30 minutes when one exists, NULL otherwise — the
    "unconverted impressions" stream.

    Outer results can only be EMITTED once the watermark proves no
    matching purchase can still arrive, so views near the end of a
    finite replay are withheld. Promoted rows-only → oracle-checked
    (r7): the emitted set is exactly the batch inner join PLUS the
    no-match views with ``v_ts + 90 min < final watermark`` — the
    empirically pinned eviction horizon (the left state watermark
    subtracts BOTH the 30-min join interval and the input's own 1-h
    delay; verified by row-diff at sf0.001 and sf0.01, where the
    boundary row lands inside the 30-min-only rule but outside this
    one). tests/test_streaming.py keeps the independent invariant
    pins (matched pairs == batch inner join; withheld ⊆ tail). State stays bounded exactly as in
    ``stream_stream_join``: each side buffers watermark + interval.
    """
    src = stage_events(spark, sf_dir, n_files=3)
    joined = _view_purchase_join(src, "left_outer").select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        F.col("v_ts").alias("view_ts"),
    )
    return run_stream(spark, joined, mode="append", name="ssleft")


@register(
    "stream_checkpoint_resume",
    oracle="""
SELECT event_id, user_id, event_type, value
FROM events WHERE event_type <> 'error'
""",
)
def stream_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once recovery: a streaming query is run over HALF the
    input, terminated, the rest of the input arrives, and the query is
    RESTARTED from its checkpoint into the same file sink. The returned
    table is the sink's final contents — the oracle is a plain batch
    SELECT, so the driver's row-count + value-hash check IS the
    exactly-once proof: a lost offset shows up as missing rows, a
    replayed offset as duplicates, and either breaks the hash.

    What the checkpoint holds: the offset log (which source files each
    micro-batch consumed) and the sink's transaction log (which batch
    ids committed) — on restart Spark replays only uncommitted batches
    over only unconsumed files. This is the recovery contract a 100-TB
    deployment leans on across executor loss, job restarts and code
    redeploys; nothing here is test-only except the file placement.
    """
    import shutil

    from pyspark.sql import Window

    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") != "error"
    )
    # under the process checkpoint root → removed by replay's atexit hook
    root = checkpoint_dir("resume")
    src = os.path.join(root, "src")
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src)

    ranked = ev.withColumn(
        "__chunk", F.ntile(4).over(Window.orderBy("ts", "event_id"))
    )
    staged = []
    for i in range(4):
        tmp = os.path.join(root, f"build{i}")
        ranked.filter(F.col("__chunk") == i + 1).drop("__chunk").coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        staged.append((os.path.join(tmp, part), f"{i:04d}.parquet"))

    def run_pass() -> None:
        stream = (
            spark.readStream.schema(ev.drop("__chunk").schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("event_id", "user_id", "event_type", "value")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # phase 1: first half arrives, stream runs to completion, "crashes"
    for path, name in staged[:2]:
        shutil.copyfile(path, os.path.join(src, name))
    run_pass()
    # phase 2: rest arrives; SAME checkpoint + sink → resume, not replay
    for path, name in staged[2:]:
        shutil.copyfile(path, os.path.join(src, name))
    run_pass()
    return spark.read.parquet(sink)


def _make_tickgen_source():
    """Factory for the deterministic streaming Python DataSource."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class TickReader(SimpleDataSourceStreamReader):
        """Emits ticks [v, v+chunk) per read; offset = next tick."""

        _CHUNK = 1000
        _TOTAL = 1000

        def initialOffset(self):
            return {"v": 0}

        def read(self, start):
            lo = start["v"]
            hi = min(lo + self._CHUNK, self._TOTAL)
            rows = [(i, (i * 37) % 101) for i in range(lo, hi)]
            return iter(rows), {"v": hi}

        def readBetweenOffsets(self, start, end):
            return iter(
                [(i, (i * 37) % 101) for i in range(start["v"], end["v"])]
            )

    class TickSource(DataSource):
        """Deterministic synthetic tick stream (tick, v)."""

        @classmethod
        def name(cls):
            return "tickgen"

        def schema(self):
            return "tick BIGINT, v BIGINT"

        def simpleStreamReader(self, schema):
            return TickReader()

    return TickSource


_TICKGEN_REGISTERED: set[int] = set()


@register(
    "stream_pyds_source",
    oracle="""
SELECT i // 100 AS bucket, COUNT(*) AS n,
       CAST(SUM((i * 37) % 101) AS BIGINT) AS sum_v
FROM range(0, 1000) t(i)
GROUP BY 1
""",
)
def stream_pyds_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A STREAMING source written in pure Python (Spark 4
    ``SimpleDataSourceStreamReader``) feeding a streaming aggregation —
    the extensibility door for streams Spark lacks natively (instrument
    feeds, poll-based APIs, survey alert brokers), mirroring what
    ``scan_pyds`` proves for batch sources.

    The reader owns the OFFSET CONTRACT: ``initialOffset`` → ``read``
    returns (rows, next offset) per micro-batch, and
    ``readBetweenOffsets`` makes any committed range re-readable for
    recovery — the same replayability Kafka offsets give; the engine
    checkpoints these offsets exactly as in `stream_checkpoint_resume`.
    The demo stream is integer-deterministic, so the per-bucket
    streaming aggregation is hash-verified against DuckDB ``range()``
    — registration, offset bookkeeping, the Python worker row path and
    the stateful agg all sit inside the driver's own gate.
    """
    if id(spark) not in _TICKGEN_REGISTERED:
        spark.dataSource.register(_make_tickgen_source())
        _TICKGEN_REGISTERED.add(id(spark))
    stream = spark.readStream.format("tickgen").load()
    agg = stream.groupBy(
        F.expr("tick div 100").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v"))
    return run_stream(spark, agg, mode="complete", name="pyds_stream")


@register(
    "stream_upsert_sink",
    oracle="""
SELECT user_id, event_id AS last_event_id, value AS last_value
FROM (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE (upsert) sink via ``foreachBatch`` — the
    warehouse-maintenance shape `merge_upsert` runs CONTINUOUSLY: each
    micro-batch collapses to latest-per-key and merges latest-wins into
    a persistent key-value table, so the table always holds every
    user's most recent event. 4 time-ordered replay batches; the final
    table must equal the batch latest-per-key query regardless of how
    the stream was chunked (the associativity that makes latest-wins
    merge safe to run incrementally).

    Each merge generation writes to a FRESH directory and the pointer
    swaps after the write — the read-modify-write never overwrites the
    data it is reading (the poor man's snapshot isolation a real table
    format provides natively; at 100 TB this is a MERGE INTO against
    Delta/Iceberg with the same per-batch latest-per-key collapse, and
    the target stays |keys|-sized, not |events|-sized).
    """
    import shutil
    import tempfile

    from pyspark.sql import Window as W

    src = stage_events(spark, sf_dir, n_files=4)
    root = tempfile.mkdtemp(prefix="upsert_")
    state: dict[str, str] = {}

    def latest_per_key(df: DataFrame) -> DataFrame:
        w = W.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            df.select("user_id", "event_id", "value", "ts")
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )

    def sink(df: DataFrame, batch_id: int) -> None:
        merged = latest_per_key(df)
        cur = state.get("path")
        if cur is not None:
            target = spark.read.parquet(cur)
            merged = latest_per_key(target.unionByName(merged))
        nxt = os.path.join(root, f"gen_{batch_id}")
        merged.write.mode("overwrite").parquet(nxt)
        state["path"] = nxt

    q = (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir("upsert"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = spark.read.parquet(state["path"]).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )
    out = final.localCheckpoint(eager=True)  # outlive the tempdir
    shutil.rmtree(root, ignore_errors=True)
    return out


# NOTE — transformWithStateInPandas (Spark 4's StatefulProcessor API, the
# successor to applyInPandasWithState above): implemented and validated
# against this harness, but its state-server client requires
# google.protobuf, which this sandbox does not ship (the driver-side
# pre-init worker crashes with ImportError before `init` runs; verified
# with a minimal ValueState processor + RocksDB provider). The arbitrary-
# state semantics this engine needs are covered by `stream_stateful`
# (applyInPandasWithState) and `stream_upsert_sink` (foreachBatch MERGE);
# in a protobuf-equipped deployment the StatefulProcessor port is
# mechanical: ValueState("agg") + MapState("types") replacing the single
# state tuple, same single-batch-replay oracle.
# The gap is now an EXECUTABLE probe (tests/test_tws_probe.py): it pins
# the ImportError today and runs a real ValueState counter end-to-end
# the moment the environment gains google.protobuf.


@register(
    "stream_join_then_agg",
    oracle=f"""
WITH {_VIEW_BUY_SQL},
conv AS MATERIALIZED (
  SELECT b.b_ts FROM v JOIN b ON {_VIEW_BUY_ON}),
cut AS MATERIALIZED (
  SELECT MAX(ts) - INTERVAL 1 HOUR AS wm FROM events)
SELECT date_trunc('hour', b_ts) AS hour_start,
       CAST(COUNT(*) AS BIGINT) AS n_conversions
FROM conv, cut
GROUP BY 1, cut.wm
HAVING date_trunc('hour', b_ts) + INTERVAL 1 HOUR <= cut.wm
ORDER BY 1
""",
)  # promoted r7: append emission IS the batch rollup restricted to
# watermark-dependent (finalized windows only) — pinned by pytest
def stream_join_then_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream JOIN feeding a windowed AGGREGATION in one
    streaming plan — the second multiple-stateful-operator shape
    (Spark 3.4+) next to `stream_chained_agg`'s agg→agg: conversions
    (view→purchase within 30 min per user) joined in state, then
    rolled into hourly conversion counts in a SECOND state store, one
    query end-to-end (the pre-3.4 workaround was a sink between the
    join and the agg, paying a full persistence round-trip).

    The join's event-time watermark propagates through to the window
    aggregate, so both stores stay bounded: the join buffers watermark
    + interval per side, the agg holds only unfinalized hour windows.
    Append mode emits a window once the watermark passes its end —
    the still-open tail hours are withheld. Promoted rows-only →
    oracle-checked (VERDICT r6 task 2): on an in-order replay the
    emitted set is EXACTLY the batch join+rollup restricted to hours
    whose window end ≤ the final watermark (global max event ts − the
    1 h delay) — the oracle states that horizon rule in SQL, so the
    hash now certifies both the join+agg values AND the append-mode
    finalization boundary. tests/test_streaming.py keeps the
    independent batch-differential and withholding pins.
    """
    src = stage_events(spark, sf_dir, n_files=3)
    conversions = _view_purchase_join(src, "inner")
    hourly = conversions.groupBy(
        F.window("b_ts", "1 hour").alias("w")
    ).agg(F.count(F.lit(1)).alias("n_conversions"))
    res = run_stream(spark, hourly, mode="append", name="join_agg")
    return res.select(
        F.col("w.start").alias("hour_start"),
        F.col("n_conversions").cast("long").alias("n_conversions"),
    )


#: stream_stateful_timeout geometry: session gap and watermark delay
#: (minutes). Emission horizon for a user's LAST session is
#: gap + delay behind the stream's max event time.
_SESS_GAP_MIN, _SESS_WM_MIN = 15, 5
_SESS_OUT_SCHEMA = (
    "user_id BIGINT, session_start TIMESTAMP, session_end TIMESTAMP, "
    "n_events BIGINT"
)
_SESS_STATE_SCHEMA = "start BIGINT, last BIGINT, n BIGINT"


def _session_timeout_fn(key, pdf_iter, state):
    """Event-time sessionizer with EventTimeTimeout: a session closes
    either when a same-user event arrives more than the gap later
    (emitted inline) or when the watermark passes last_event + gap
    (emitted by the timeout callback). Timestamps round-trip through
    integer microseconds; the per-batch rows sort by (ts, event_id) so
    multi-session batches split deterministically."""
    gap_us = _SESS_GAP_MIN * 60 * 1_000_000

    def emit(start, last, n):
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "session_start": [pd.Timestamp(start, unit="us")],
                "session_end": [pd.Timestamp(last, unit="us")],
                "n_events": [n],
            }
        )

    if state.hasTimedOut:
        start, last, n = state.get
        state.remove()
        yield emit(start, last, n)
        return
    closed = []
    cur = state.get if state.exists else None
    for pdf in pdf_iter:
        pdf = pdf.sort_values(["ts", "event_id"])
        for ts_us in pdf["ts"].astype("int64") // 1000:
            ts_us = int(ts_us)
            if cur is None:
                cur = (ts_us, ts_us, 1)
            elif ts_us - cur[1] > gap_us:
                closed.append(cur)
                cur = (ts_us, ts_us, 1)
            else:
                cur = (cur[0], max(cur[1], ts_us), cur[2] + 1)
    state.update(cur)
    # fire when the watermark passes session end + gap (ms API)
    state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)
    for s in closed:
        yield emit(*s)


@register(
    "stream_stateful_timeout",
    oracle=f"""
WITH lagd AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   IS NULL
               OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL {_SESS_GAP_MIN} MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
),
sess AS (
  SELECT user_id, ts,
         CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM lagd
),
g AS (
  SELECT user_id, sid, MIN(ts) AS session_start, MAX(ts) AS session_end,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM sess GROUP BY user_id, sid
),
mx AS (SELECT MAX(ts) AS m FROM events),
r AS (
  SELECT g.user_id, g.session_start, g.session_end, g.n_events,
         ROW_NUMBER() OVER (PARTITION BY g.user_id
                            ORDER BY g.sid DESC) AS rn,
         mx.m
  FROM g CROSS JOIN mx
)
SELECT user_id, session_start, session_end, n_events
FROM r
WHERE rn > 1
   OR session_end + INTERVAL {_SESS_GAP_MIN} MINUTE
        < m - INTERVAL {_SESS_WM_MIN} MINUTE
""",
)  # emission contract pinned empirically at two SFs before the oracle
# was written: non-final sessions always emit; final sessions emit iff
# end + gap < max_ts - delay (the watermark horizon)
def stream_stateful_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows via applyInPandasWithState with
    EVENT-TIME TIMEOUTS — the arbitrary-state capability
    `stream_stateful` (NoTimeout) doesn't exercise and the one real
    sessionization engines are built on: state must expire by
    watermark, not by traffic. Replayed as 4 time-ordered micro-batches
    so timeouts genuinely fire BETWEEN batches; the trailing no-data
    batch fires the final eligible timeouts at wm = max_ts - delay.

    Emission contract (the oracle states it relationally): every
    non-final session of a user emits (closed inline by its successor
    event or by timeout), and the user's FINAL session emits iff
    last_event + gap < max_ts - delay. Sessions still open inside that
    horizon stay in state when availableNow terminates — fewer rows
    than batch sessionization, exactly like stream_watermark_late.
    """
    src = stage_events(spark, sf_dir, n_files=4)
    out = (
        src.withWatermark("ts", f"{_SESS_WM_MIN} minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_timeout_fn,
            outputStructType=_SESS_OUT_SCHEMA,
            stateStructType=_SESS_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )
    return run_stream(spark, out, mode="append", name="sess_timeout")


#: stream_rate_limit: staged file count and the per-trigger file cap —
#: availableNow must process ceil(6/2) = 3 rate-limited micro-batches.
_RL_FILES, _RL_CAP = 6, 2


@register(
    "stream_rate_limit",
    oracle=f"""
WITH t AS (
  SELECT NTILE({_RL_FILES}) OVER (ORDER BY ts, event_id) AS tile
  FROM events
)
SELECT CAST((tile - 1) // {_RL_CAP} AS BIGINT) AS batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM t GROUP BY 1 ORDER BY 1
""",
)
def stream_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source rate limiting / backpressure accounting —
    ``maxFilesPerTrigger`` caps how much of the backlog each
    micro-batch admits, the knob that keeps a recovering stream from
    swallowing its entire backlog in one giant batch (state blow-up,
    watermark jump, OOM). Six time-ordered staged files under a
    2-file cap must yield exactly ceil(6/2) = 3 batches, admitted in
    modification-time order; ``trigger(availableNow=True)`` honors
    source rate limits (unlike the legacy ``once`` trigger) so the
    accounting is observable in a bounded run.

    The oracle reproduces each batch's row count RELATIONALLY: the
    stager splits events into 6 files by NTILE over (ts, event_id),
    so batch b = tiles 2b+1..2b+2 — if the source admitted files out
    of order, coalesced batches, or dropped rows, the per-batch
    counts hash-mismatch. foreachBatch records (batch_id, count)
    driver-side (bounded: 3 scalars, the stream_foreach_batch
    pattern).

    100-TB posture: the file listing distributes; the cap bounds
    per-batch input regardless of backlog depth — the same contract
    Kafka's maxOffsetsPerTrigger gives; state stays
    watermark-bounded because event time advances file by file.
    """
    src = stage_events(
        spark, sf_dir, n_files=_RL_FILES, max_files_per_trigger=_RL_CAP
    )
    acc: list[tuple[int, int]] = []

    def sink(df: DataFrame, batch_id: int) -> None:
        acc.append((int(batch_id), df.count()))

    q = (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir("rate_limit"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return local_frame(spark, sorted(acc), "batch_id BIGINT, n_rows BIGINT")


def _make_jsonl_stream_sink_source():
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        WriterCommitMessage,
    )

    class BatchPartCommit(WriterCommitMessage):
        def __init__(self, path: str, tmp: str, n: int):
            self.path = path
            self.tmp = tmp
            self.n = n

    class JsonlStreamWriter(DataSourceStreamWriter):
        """Per-microbatch, per-partition JSON-lines writer with the
        two-phase task-commit protocol: tasks stage
        ``batch-{id}-part-{pid}.attempt-{aid}.tmp`` and return commit
        messages; the driver's ``commit(messages, batchId)`` renames
        the winning attempts into place, ``abort`` removes strays —
        so a microbatch is visible all-or-nothing, the exactly-once
        contract a streaming sink owes the checkpoint."""

        def __init__(self, options):
            self.path = options.get("path")

        def write(self, iterator):
            import json as _j
            import os as _os
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId()
            attempt = ctx.taskAttemptId()
            tmp = _os.path.join(
                self.path, f"part-{pid:05d}.attempt-{attempt}.tmp"
            )
            n = 0
            with open(tmp, "w") as f:
                for row in iterator:
                    f.write(_j.dumps(row.asDict()) + "\n")
                    n += 1
            return BatchPartCommit(f"part-{pid:05d}", tmp, n)

        def commit(self, messages, batchId):
            import os as _os

            for m in messages:
                final = _os.path.join(
                    self.path, f"batch-{batchId:05d}-{m.path}.jsonl"
                )
                _os.replace(m.tmp, final)

        def abort(self, messages, batchId):
            import os as _os

            for m in messages:
                if m is not None and _os.path.exists(m.tmp):
                    _os.remove(m.tmp)

    class JsonlStreamSink(DataSource):
        @classmethod
        def name(cls):
            return "jsonlstreamsink"

        def streamWriter(self, schema, overwrite):
            return JsonlStreamWriter(self.options)

    return JsonlStreamSink


@register(
    "stream_pyds_sink",
    oracle=f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       {dsum_sql('value', 'sum_value', 6)}
FROM events GROUP BY event_type
""",
)
def stream_pyds_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING sink via the Python DataSource stream-writer
    API (Spark 4) — the streaming twin of `sink_pyds` and the door to
    destinations Structured Streaming lacks natively (vector DBs,
    feature stores, webhook fan-outs): a pure-Python
    ``DataSourceStreamWriter`` receives each microbatch's partitions,
    stages one JSON-lines part per task, and the driver commits them
    atomically per batch id — the exactly-once protocol that lets a
    restart replay an uncommitted batch without duplicates.

    Verification closes the loop THROUGH the sink: 4 time-ordered
    staged files replay as 4 microbatches out through the custom
    writer, the committed parts read back with a declared schema, and
    the per-type counts and exact-decimal value sums must hash-equal
    aggregating the source directly — the sink provably lost and
    duplicated nothing across batch boundaries.
    """
    import shutil

    spark.dataSource.register(_make_jsonl_stream_sink_source())
    out = os.path.join(
        checkpoint_dir("pyds_sink_out"), "data"
    )
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    src = stage_events(spark, sf_dir, n_files=4).select(
        "event_id", "event_type", "value"
    )
    q = (
        src.writeStream.format("jsonlstreamsink")
        .option("path", out)
        .option("checkpointLocation", checkpoint_dir("pyds_sink_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.schema(
        "event_id BIGINT, event_type STRING, value DOUBLE"
    ).json(os.path.join(out, "*.jsonl"))
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("value", "sum_value", 6),
    )


#: stream_update_mode: staged file count (= micro-batch count).
_UPD_FILES = 4


@register(
    "stream_update_mode_emissions",
    oracle=f"""
WITH t AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         {grid_sql('value', 6)} AS v_micro,
         NTILE({_UPD_FILES}) OVER (ORDER BY ts, event_id) AS f
  FROM events
),
batches AS (
  SELECT CAST(u AS BIGINT) AS b
  FROM (SELECT unnest(generate_series(1, {_UPD_FILES})) AS u)
)
SELECT b - 1 AS batch_id, cur.day, cur.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cur.v_micro) AS DOUBLE) / 1000000.0 AS sum_value
FROM batches
JOIN t cur ON cur.f <= b
WHERE EXISTS (
  SELECT 1 FROM t ch
  WHERE ch.f = b AND ch.day = cur.day AND ch.event_type = cur.event_type
)
GROUP BY b, cur.day, cur.event_type
ORDER BY batch_id, day, event_type
""",
)
def stream_update_mode_emissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode's emission SEQUENCE — the third output
    semantics after complete (`stream_tumbling`) and append
    (`stream_watermark_late`), and the one upsert sinks consume: each
    micro-batch emits ONLY the (day, type) groups whose aggregate
    changed in that batch, carrying the new running value. The whole
    batch-by-batch emission log is verified RELATIONALLY: with 4
    time-ordered staged files as batches, batch b must emit exactly
    the groups having a row in file b, valued over files <= b — a
    group emitted without new data, a missed update, or a stale
    running value all hash-mismatch.

    foreachBatch collects each batch's emission rows (bounded by the
    |days| x |types| group domain, not by event count — the collapsed-
    domain collect discipline).

    100-TB posture: update mode shuffles one changed-group row per
    batch to the sink instead of the full state (complete) — the
    emission volume IS the churn, which is why upsert sinks pair with
    it; state is the same windowed-agg store as stream_tumbling.
    """
    src = stage_events(spark, sf_dir, n_files=_UPD_FILES)
    agg = src.groupBy(
        F.window("ts", "1 day").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"), dsum("value", "sum_value", 6)
    )
    acc: list[tuple] = []

    def sink(df: DataFrame, batch_id: int) -> None:
        for r in df.collect():
            acc.append(
                (
                    int(batch_id),
                    r["w"]["start"].date(),
                    r["event_type"],
                    int(r["n"]),
                    float(r["sum_value"]),
                )
            )

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir("upd_mode"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return local_frame(
        spark,
        sorted(acc),
        "batch_id BIGINT, day DATE, event_type STRING, n BIGINT, "
        "sum_value DOUBLE",
    ).orderBy("batch_id", "day", "event_type")


#: stream_cms_sink_merge: probe stride over user ids.
_SCMS_PROBE_MOD = 50


@register(
    "stream_cms_sink_merge",
    oracle=f"""
WITH matrix AS (
  SELECT j,
         {md5_int_sql("CAST(user_id AS VARCHAR) || '-' || CAST(j AS VARCHAR)",
                      1, 6)} % 256 AS cell,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events, LATERAL unnest(generate_series(0, 3)) t(j)
  GROUP BY 1, 2
),
probes AS (
  SELECT DISTINCT user_id AS k FROM events
  WHERE user_id % {_SCMS_PROBE_MOD} = 1
),
probe_cells AS (
  SELECT k, j,
         {md5_int_sql("CAST(k AS VARCHAR) || '-' || CAST(j AS VARCHAR)",
                      1, 6)} % 256 AS cell
  FROM probes, LATERAL unnest(generate_series(0, 3)) t(j)
),
est AS (
  SELECT pc.k, CAST(MIN(m.cnt) AS BIGINT) AS cms_estimate
  FROM probe_cells pc JOIN matrix m USING (j, cell)
  GROUP BY pc.k
),
ex AS (
  SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS exact_cnt
  FROM events WHERE user_id % {_SCMS_PROBE_MOD} = 1
  GROUP BY user_id
)
SELECT ex.k AS probe_key, ex.exact_cnt, est.cms_estimate,
       est.cms_estimate - ex.exact_cnt AS overcount
FROM ex JOIN est ON ex.k = est.k
ORDER BY probe_key
""",
)
def stream_cms_sink_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sketch sink-merge — the per-batch variant of the
    persisted-sketch trilogy (`agg_countmin_merge` wrote one partial
    per PARTITION; this writes one per MICRO-BATCH via foreachBatch,
    the nightly-streaming-job shape): events replay as 4 time-ordered
    micro-batches, each batch reduces to its own d x w count-min
    partial matrix inside the foreachBatch sink and APPENDS it to a
    parquet sink tagged with the batch id; after the stream drains, a
    separate reader merges all partials by cell-wise addition and
    point-estimates every ~2%-stride user's event count off the merged
    matrix.

    Because micro-batches partition the event stream exactly and the
    salted-md5 cell hash (the `agg_countmin` one) is engine-
    reproducible, the merged matrix must equal DuckDB's single-pass
    rebuild over the whole table — the verification is EXACT per probe
    key (estimate, exact count and overcount all hash-checked). A lost
    batch, a double-fired sink, or a wrong merge changes some cell and
    fails the gate; tests additionally pin that >= 2 distinct batch
    partials landed in the sink.

    100-TB posture: each micro-batch ships only its <= d*w counter
    rows to the sink (sketch-sized, not data-sized); merge cost is
    independent of stream length; any reader rolls up any batch range
    (backfill, day, epoch) without replaying events — the reason CMS
    is the streaming-frequency workhorse.
    """
    import uuid as _uuid

    from ..catalog import load_table
    from ..operators.warehouse import _CM_D, _CM_W
    from ..sources.scans import _SCRATCH

    src = stage_events(spark, sf_dir, n_files=4)
    path = os.path.join(_SCRATCH, f"stream_cms_sink_{_uuid.uuid4().hex[:8]}")

    def sink(df: DataFrame, batch_id: int) -> None:
        partial = (
            df.select(
                F.posexplode(
                    F.array(*[
                        md5_int(
                            F.concat(F.col("user_id").cast("string"), F.lit(f"-{j}")),
                            1, 6,
                        ) % _CM_W
                        for j in range(_CM_D)
                    ])
                ).alias("j", "cell")
            )
            .groupBy(F.col("j").cast("long").alias("j"), "cell")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        )
        partial.write.mode("append").parquet(path)

    q = (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir("cms_sink"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    merged = (
        spark.read.parquet(path)
        .groupBy("j", "cell")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    ev = load_table(spark, sf_dir, "events")
    probes = (
        ev.where(F.col("user_id") % _SCMS_PROBE_MOD == 1)
        .select(F.col("user_id").alias("k"))
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
        ev.where(F.col("user_id") % _SCMS_PROBE_MOD == 1)
        .groupBy(F.col("user_id").alias("k"))
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
    "stream_dedup_index_merge",
    oracle="""
WITH ranked AS (
  SELECT user_id, event_type,
         NTILE(4) OVER (ORDER BY ts, event_id) AS b
  FROM events
),
firstb AS (
  SELECT user_id, event_type, MIN(b) AS fb
  FROM ranked GROUP BY user_id, event_type
)
SELECT CAST(r.b - 1 AS BIGINT) AS batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT CASE WHEN f.fb = r.b THEN
              CAST(r.user_id AS VARCHAR) || '|' || r.event_type
            END) AS BIGINT) AS n_new_keys,
       CAST(SUM(CASE WHEN f.fb < r.b THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_rows
FROM ranked r
JOIN firstb f
  ON f.user_id = r.user_id AND f.event_type = r.event_type
GROUP BY r.b ORDER BY batch_id
""",
)
def stream_dedup_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup against a PERSISTED first-seen index — the
    production incremental-dedup shape (`dedup_incremental_minhash`'s
    batch kernel moved into foreachBatch): each micro-batch anti-joins
    its keys against the parquet index built by ALL PRIOR batches,
    counts rows whose key is already indexed, appends only the
    genuinely new keys, and logs per-batch accounting to a stats sink.
    The index granularity is the batch (the foreachBatch transactional
    unit): a key's entire first batch counts as new, every later
    appearance as duplicate.

    Exactly verifiable because the replay harness splits events by
    ``NTILE(4) OVER (ORDER BY ts, event_id)`` — a rule the DuckDB
    oracle reproduces verbatim, so each batch's row count, new-key
    count and duplicate-row count are hash-checked end to end through
    the real streaming machinery (a double-fired sink, a lost index
    append, or out-of-order file replay all break some batch's row).

    100-TB posture: the index carries one row per DISTINCT key (the
    dedup state, not the stream); each batch's work is two
    hash-joins against it co-partitioned on the key, and appends are
    key-delta-sized — the same pattern at cloud scale swaps parquet
    for an indexed table format, nothing else moves.
    """
    import uuid as _uuid

    from ..catalog import load_table
    from ..sources.scans import _SCRATCH

    src = stage_events(spark, sf_dir, n_files=4)
    run_id = _uuid.uuid4().hex[:8]
    index_path = os.path.join(_SCRATCH, f"dedup_index_{run_id}")
    stats_path = os.path.join(_SCRATCH, f"dedup_index_stats_{run_id}")

    def sink(df: DataFrame, batch_id: int) -> None:
        ss = df.sparkSession
        try:
            idx = ss.read.parquet(index_path)
        except Exception:  # noqa: BLE001 — first batch: no index yet
            idx = None
        n_rows = df.count()
        if idx is not None:
            n_dup = df.join(
                idx, ["user_id", "event_type"], "left_semi"
            ).count()
            new_keys = (
                df.select("user_id", "event_type").distinct()
                .join(idx, ["user_id", "event_type"], "left_anti")
            )
        else:
            n_dup = 0
            new_keys = df.select("user_id", "event_type").distinct()
        n_new = new_keys.count()
        new_keys.write.mode("append").parquet(index_path)
        local_frame(
            ss,
            [(int(batch_id), n_rows, n_new, n_dup)],
            "batch_id LONG, n_rows LONG, n_new_keys LONG, n_dup_rows LONG",
        ).write.mode("append").parquet(stats_path)

    q = (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir("dedup_idx"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(stats_path).orderBy("batch_id")


@register(
    "stream_window_distinct",
    oracle="""
WITH daily AS MATERIALIZED (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM events GROUP BY 1, 2),
cut AS MATERIALIZED (
  SELECT MAX(ts) - INTERVAL 1 HOUR AS wm FROM events)
SELECT day, event_type, n_users
FROM daily, cut
WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY <= cut.wm
ORDER BY day, event_type
""",
)
def stream_window_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT windowed COUNT(DISTINCT) as a streaming query — the
    daily-active-users panel every product team runs, and an operator
    Structured Streaming forbids directly (distinct aggregates are
    unsupported in streaming plans): the standard rewrite chains TWO
    stateful operators — watermarked dropDuplicates on (window, type,
    user) collapses each user's repeats, then a windowed count over
    the survivors — legal since Spark 3.4's multiple-stateful-operator
    support (the `stream_chained_agg` machinery with dedup as stage 1).
    Chained state requires APPEND output, so each day emits exactly
    once as the watermark finalizes it and the open tail day is
    withheld; on the in-order 4-file replay the emitted set is the
    batch COUNT(DISTINCT) restricted to days whose end <= the final
    watermark (max ts - 1 h) — the `stream_join_then_agg` horizon
    rule, so the hash certifies dedup state, count state AND the
    finalization boundary.

    100-TB posture: dedup state is one row per DISTINCT (day, type,
    user) and ages out with the watermark; the count state is
    |days|x|types|; both operators co-partition on the grouping key.
    The exact-rung ceiling (state = distinct keys) is the documented
    trade against `agg_approx_distinct`'s HLL sketch rung.
    """
    src = stage_events(spark, sf_dir, n_files=4)
    dd = (
        src.withWatermark("ts", "1 hour")
        .select(
            F.window("ts", "1 day").alias("w"), "event_type", "user_id"
        )
        .dropDuplicates(["w", "event_type", "user_id"])
    )
    daily = dd.groupBy("w", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    res = run_stream(spark, daily, mode="append", name="win_distinct")
    return res.select(
        F.col("w.start").cast("date").alias("day"),
        "event_type",
        "n_users",
    ).orderBy("day", "event_type")


@register(
    "stream_cdc_apply",
    oracle=f"""
WITH ranked AS (
  SELECT user_id, event_type, value, ts, event_id,
         NTILE(4) OVER (ORDER BY ts, event_id) AS b
  FROM events
),
ops AS (
  SELECT user_id AS k, b, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 'U' ELSE 'D' END AS op,
         {grid_sql('value', 2)} AS cents
  FROM ranked WHERE event_type IN ('purchase', 'error')
),
comp AS (
  SELECT k, b, op, cents FROM (
    SELECT k, b, op, cents,
           ROW_NUMBER() OVER (PARTITION BY k, b
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM ops) z
  WHERE rn = 1
),
hist AS (
  SELECT k, b, op, cents,
         COALESCE(LAG(op) OVER (PARTITION BY k ORDER BY b) = 'U', FALSE)
           AS present_before
  FROM comp
),
per_batch AS (
  SELECT h.b,
         CAST(SUM(CASE WHEN op = 'U' AND NOT present_before
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_inserts,
         CAST(SUM(CASE WHEN op = 'U' AND present_before
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_updates,
         CAST(SUM(CASE WHEN op = 'D' AND present_before
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
         CAST(SUM(CASE WHEN op = 'D' AND NOT present_before
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_noops
  FROM hist h GROUP BY h.b
),
raw AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS n_ops FROM ops GROUP BY b
)
SELECT CAST(p.b - 1 AS BIGINT) AS batch_id, r.n_ops,
       p.n_inserts, p.n_updates, p.n_deletes, p.n_noops,
       CAST(SUM(p.n_inserts - p.n_deletes) OVER (ORDER BY p.b)
            AS BIGINT) AS state_rows
FROM per_batch p JOIN raw r ON r.b = p.b
ORDER BY batch_id
""",
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC APPLY against a persisted state table — the
    `cdc_apply_compact` batch kernel moved into foreachBatch (the
    `stream_dedup_index_merge` machinery, but with UPDATES AND DELETES
    mutating state, not just first-seen appends): each micro-batch
    reads the event stream as a change feed (purchase = upsert of the
    user's balance, error = delete of the user's row), compacts to
    last-writer-wins per key WITHIN the batch (ts, event_id order),
    classifies every op against the state built by all prior batches
    (insert / update / delete / noop — phantom deletes again pinned),
    and writes the post-batch state as a NEW snapshot version (the
    table-format pattern: state_v{batch}; readers never see a torn
    write). The per-batch audit row carries the op counts AND the
    actually-counted post-batch state size — so the oracle's
    arithmetic (state = cumulative inserts − deletes) is checked
    against rows physically present in the snapshot.

    Exactly verifiable through real streaming machinery because the
    replay splits events by NTILE(4) OVER (ts, event_id) — reproduced
    verbatim by the DuckDB oracle (the stream_dedup_index_merge
    discipline): a lost snapshot, a double-applied batch, or
    out-of-order replay breaks some batch's hash.

    100-TB posture: state is one row per LIVE key; each batch does two
    key-joins against it (classify + merge) co-partitioned on the key,
    and snapshot versioning is exactly what Delta/Iceberg give for
    free — swap the parquet path for a MERGE INTO, nothing else moves.
    Batch compaction shuffles only the batch.
    """
    import uuid as _uuid

    from ..sources.scans import _SCRATCH

    src = stage_events(spark, sf_dir, n_files=4)
    run_id = _uuid.uuid4().hex[:8]
    root = os.path.join(_SCRATCH, f"cdc_state_{run_id}")
    stats_path = os.path.join(_SCRATCH, f"cdc_stats_{run_id}")
    cur = {"path": None}

    def sink(df: DataFrame, batch_id: int) -> None:
        ss = df.sparkSession
        ops = df.filter(
            F.col("event_type").isin("purchase", "error")
        ).select(
            F.col("user_id").alias("k"),
            F.when(F.col("event_type") == "purchase", "U")
            .otherwise("D").alias("op"),
            grid("value", 2).alias("cents"),
            "ts", "event_id",
        )
        n_ops = ops.count()
        comp = (
            ops.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("k").orderBy(
                        F.col("ts").desc(), F.col("event_id").desc()
                    )
                ),
            )
            .filter(F.col("rn") == 1)
            .select("k", "op", "cents")
        )
        if cur["path"] is None:
            state = local_frame(ss, [], "k LONG, balance_cents LONG")
        else:
            state = ss.read.parquet(cur["path"])
        merged = state.join(comp, "k", "full_outer").select(
            "k",
            F.when(F.col("op").isNull(), F.lit("keep"))
            .when(
                (F.col("op") == "D") & F.col("balance_cents").isNotNull(),
                "delete",
            )
            .when(F.col("op") == "D", "noop")
            .when(F.col("balance_cents").isNull(), "insert")
            .otherwise("update")
            .alias("action"),
            F.coalesce("cents", "balance_cents").alias("new_cents"),
        ).localCheckpoint(eager=True)
        acts = {
            r["action"]: r["n"]
            for r in merged.groupBy("action")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        new_state = merged.filter(
            ~F.col("action").isin("delete", "noop")
        ).select("k", F.col("new_cents").alias("balance_cents"))
        new_path = os.path.join(root, f"state_v{int(batch_id)}")
        new_state.write.mode("overwrite").parquet(new_path)
        cur["path"] = new_path
        state_rows = ss.read.parquet(new_path).count()
        local_frame(
            ss,
            [
                (
                    int(batch_id), n_ops,
                    acts.get("insert", 0), acts.get("update", 0),
                    acts.get("delete", 0), acts.get("noop", 0),
                    state_rows,
                )
            ],
            "batch_id LONG, n_ops LONG, n_inserts LONG, n_updates LONG,"
            " n_deletes LONG, n_noops LONG, state_rows LONG",
        ).write.mode("append").parquet(stats_path)

    q = (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir("cdc_apply"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(stats_path).orderBy("batch_id")
