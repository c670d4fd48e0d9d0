"""Streaming-semantics assertions without a SQL oracle (SURVEY.md §5.2).

The oracle-checkable streaming queries (tumbling/sliding/session/dedup/
stateful) are verified in test_oracle_differential. These tests pin the
behaviors SQL can't express: watermark finalization emitting fewer rows
than batch, and a crafted too-late row being dropped from its window.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from analyse_the_sky_with_apache_spark_spark.catalog import load_table
from analyse_the_sky_with_apache_spark_spark.registry import queries
from analyse_the_sky_with_apache_spark_spark.streaming.replay import (
    checkpoint_dir,
)
from tests.conftest import SF_DIR

_LATE_STAGE = "/tmp/analyse_the_sky_stream_stage/late_row_test"


def test_watermark_emits_fewer_windows_than_batch(spark):
    """Append-mode output under a watermark contains only FINALIZED
    windows; windows still open when the stream ends never flush, so the
    streaming result is a strict subset of the batch per-hour counts."""
    stream_rows = queries()["stream_watermark_late"](spark, SF_DIR).collect()
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
        .collect()
    )
    assert 0 < len(stream_rows) < len(batch)
    # every emitted (window, count) is exactly the batch value — emission
    # timing changes, finalized contents don't.
    batch_map = {r["window_start"]: r["n"] for r in batch}
    for r in stream_rows:
        assert batch_map[r["window_start"]] == r["n"]


def test_run_stream_drops_its_sink_view(spark):
    """run_stream leaves no memory-sink temporary view behind, and the
    frame it returns still collects, also through a further orderBy."""

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_views()
    df = queries()["stream_session"](spark, SF_DIR)
    assert temp_views() == before
    rows = df.collect()
    assert rows
    assert len(df.orderBy(*df.columns).collect()) == len(rows)


def test_crafted_late_row_is_dropped(spark):
    """Three micro-batches: batch 0 advances the max event time, batch 1
    lets the watermark (published one batch behind) finalize and emit the
    10:00 window, batch 2 replays an event from that window — by then the
    state is evicted and the late row must be dropped, not re-opened.

    (Within the SAME batch as finalization a late row still merges —
    eviction runs at batch end; that's why the drop needs a prior-batch
    finalization. Verified empirically on Spark 4.1.)"""
    if os.path.isdir(_LATE_STAGE):
        shutil.rmtree(_LATE_STAGE)
    os.makedirs(_LATE_STAGE)

    def mk(rows):
        return spark.createDataFrame(
            rows, "event_id BIGINT, ts_s STRING"
        ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"))

    chunks = [
        mk([(1, "2024-01-01 10:05:00"), (2, "2024-01-01 13:55:00")]),
        mk([(4, "2024-01-01 14:00:00")]),  # publishes wm=12:55, evicts 10:00
        mk([(3, "2024-01-01 10:30:00")]),  # late: window already finalized
    ]

    for i, chunk in enumerate(chunks):
        tmp = os.path.join(_LATE_STAGE, "build")
        chunk.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(_LATE_STAGE, f"{i:04d}.parquet")
        shutil.copyfile(os.path.join(tmp, part), dst)
        os.utime(dst, (1_700_000_000 + i * 10,) * 2)
    shutil.rmtree(os.path.join(_LATE_STAGE, "build"))

    src = (
        spark.readStream.schema("event_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(_LATE_STAGE)
    )
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )

    # foreachBatch sink so each emission carries its micro-batch id —
    # the memory sink would collapse the timeline and hide WHEN the
    # 10:00 window finalized.
    emissions: list[tuple[int, str, int]] = []

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            emissions.append((batch_id, r["w"]["start"].isoformat(), r["n"]))

    q = (
        agg.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir("late_row_fb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    ten = [(b, n) for b, s, n in emissions if s == "2024-01-01T10:00:00"]
    # (1) the 10:00 window finalized exactly once, with only the on-time
    # row — the late arrival (event 3) was dropped, never merged or
    # re-emitted as a correction;
    assert ten == [(ten[0][0], 1)]
    # (2) finalization ORDER: the window flushed in a batch strictly
    # before the late row's batch (files replay 1:1 as batches 0..2 in
    # mtime order under availableNow + maxFilesPerTrigger=1) — the drop
    # is only legitimate because state was already evicted by the time
    # the late batch arrived.
    assert ten[0][0] < len(chunks) - 1


def test_foreach_batch_sees_time_ordered_batches(spark):
    """The replay harness feeds micro-batches in event-time order — the
    foundation every multi-batch streaming test stands on."""
    df = queries()["stream_foreach_batch"](spark, SF_DIR)
    rows = df.collect()
    assert [r["batch_id"] for r in rows] == sorted(r["batch_id"] for r in rows)
    total = sum(r["n_rows"] for r in rows)
    assert total == load_table(spark, SF_DIR, "events").count()


def test_chained_agg_matches_batch_on_finalized_days(spark):
    """The chained (hourly → daily) stateful aggregation must agree with
    the batch double-aggregation on every day it EMITS, and must
    withhold the still-open tail day (append-mode finalization) — the
    two halves of the multiple-stateful-operator contract."""
    got = {
        (r["event_type"], r["day"]): (r["n_hours"], r["n_events"])
        for r in queries()["stream_chained_agg"](spark, SF_DIR).collect()
    }
    assert got, "chained agg emitted nothing"

    ev = load_table(spark, SF_DIR, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    batch = {
        (r["event_type"], r["day"]): (r["n_hours"], r["n_events"])
        for r in hourly.groupBy(
            F.to_date(F.date_trunc("day", "h")).alias("day"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum("n_events").alias("n_events"),
        )
        .collect()
    }
    for key, vals in got.items():
        assert batch[key] == vals, f"mismatch at {key}"
    # finalization: the overall latest day is still open → withheld
    max_batch_day = max(d for _, d in batch)
    assert all(d < max_batch_day for _, d in got), (
        "tail day leaked before its watermark finalized"
    )


def test_stream_left_join_withholds_only_tail(spark):
    """LEFT OUTER stream-stream join semantics: matched pairs equal the
    batch inner join EXACTLY; unmatched views are a subset of the batch
    left join's, and every withheld view sits inside the final
    watermark+interval horizon (90 min) where the stream cannot yet
    prove no match will arrive."""
    from pyspark.sql import functions as F

    from analyse_the_sky_with_apache_spark_spark.catalog import load_table
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    res = queries()["stream_stream_left_join"](spark, SF_DIR)
    stream_matched = {
        (r["view_id"], r["purchase_id"])
        for r in res.filter(F.col("purchase_id").isNotNull()).collect()
    }
    stream_nulls = {
        r["view_id"]
        for r in res.filter(F.col("purchase_id").isNull()).collect()
    }

    ev = load_table(spark, SF_DIR, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("b_ts"),
    )
    cond = (
        (F.col("v_user") == F.col("b_user"))
        & (F.col("b_ts") > F.col("v_ts"))
        & (F.col("b_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    batch = v.join(b, cond, "left_outer")
    batch_matched = {
        (r["view_id"], r["purchase_id"])
        for r in batch.filter(F.col("purchase_id").isNotNull()).collect()
    }
    batch_null_rows = batch.filter(F.col("purchase_id").isNull()).collect()
    batch_nulls = {r["view_id"] for r in batch_null_rows}

    assert stream_matched == batch_matched
    assert stream_nulls <= batch_nulls

    hi = ev.agg(F.max("ts")).collect()[0][0]
    null_ts = {r["view_id"]: r["v_ts"] for r in batch_null_rows}
    withheld = batch_nulls - stream_nulls
    for vid in withheld:
        assert (hi - null_ts[vid]).total_seconds() <= 90 * 60, (
            f"view {vid} withheld but outside the 90-min tail horizon"
        )


def test_join_then_agg_matches_batch_on_finalized_hours(spark):
    """join→agg multiple-stateful chain: every emitted hour must equal
    the batch join+rollup, and the stream must withhold the tail hours
    the watermark has not finalized."""
    from pyspark.sql import functions as F

    from analyse_the_sky_with_apache_spark_spark.catalog import load_table
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    got = {
        r["hour_start"]: r["n_conversions"]
        for r in queries()["stream_join_then_agg"](spark, SF_DIR).collect()
    }
    assert got, "join→agg chain emitted nothing"

    ev = load_table(spark, SF_DIR, "events")
    a = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("u"), F.col("ts").alias("v_ts")
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("bu"), F.col("ts").alias("b_ts")
    )
    conv = a.join(
        b,
        (F.col("u") == F.col("bu"))
        & (F.col("b_ts") > F.col("v_ts"))
        & (F.col("b_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    batch = {
        r["h"]: r["n"]
        for r in conv.groupBy(F.date_trunc("hour", "b_ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for h, n in got.items():
        assert batch[h] == n, f"mismatch at {h}: stream {n} vs batch {batch[h]}"
    # withholding: any batch hour the stream did NOT emit must still be
    # inside the final watermark horizon (global max ts − 1 h delay),
    # where the stream cannot yet prove the window is complete. With
    # sparse conversions every window may finalize — then got == batch.
    import datetime

    horizon = ev.agg(F.max("ts")).collect()[0][0] - datetime.timedelta(hours=1)
    for h in batch:
        if h not in got:
            assert h + datetime.timedelta(hours=1) > horizon, (
                f"finalized hour {h} missing from the stream output"
            )
