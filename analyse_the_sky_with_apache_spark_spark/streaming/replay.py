"""Streaming replay harness.

No fixture is a live stream, so streaming queries run over ``events``
replayed through a real Structured Streaming file source:

    stage_events()  — materialize events (optionally split into N
                      time-ordered files) under /tmp and return a
                      ``readStream`` DataFrame over that directory;
    run_stream()    — execute a streaming transformation to a memory sink
                      with trigger(availableNow=True) and return the final
                      result table as a batch DataFrame.

File count controls micro-batch structure: 1 file → 1 batch (exact
results even in update mode); N files + maxFilesPerTrigger=1 → N batches
in event-time order (watermarks advance between batches, which is what
the late-data and multi-batch tests need).

This harness is test scaffolding — the 100-TB deployment points the same
streaming queries at a Kafka/file-stream source; only ``stage_events``
is replaced.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table

_STAGE_ROOT = "/tmp/analyse_the_sky_stream_stage"

#: one checkpoint root per process, removed at exit — per-query mkdtemp
#: with no cleanup leaks dozens of sky_ckpt_* dirs per check/bench run.
_CKPT_ROOT = tempfile.mkdtemp(prefix="sky_ckpt_root_")


def checkpoint_dir(name: str) -> str:
    """A fresh checkpoint location under the process's cleaned-up root."""
    return tempfile.mkdtemp(prefix=f"{name}_", dir=_CKPT_ROOT)


def _cleanup_ckpt() -> None:
    shutil.rmtree(_CKPT_ROOT, ignore_errors=True)


import atexit  # noqa: E402

atexit.register(_cleanup_ckpt)


def stage_events(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 1,
    duplicate: bool = False,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Write events to a staging dir as ``n_files`` time-ordered parquet
    files (ascending mtimes → the file source replays them in event-time
    order), then open a streaming reader over it."""
    # cache key includes the source file's mtime so regenerated fixtures
    # invalidate stale staged copies instead of silently replaying them;
    # superseded mtimes for the same prefix are pruned below so the stage
    # root doesn't accumulate one copy per regeneration.
    src_mtime = int(os.path.getmtime(f"{sf_dir}/events.parquet"))
    prefix = f"{sf_dir.strip('/').replace('/', '_')}_{n_files}_{int(duplicate)}"
    key = f"{prefix}_{src_mtime}"
    if os.path.isdir(_STAGE_ROOT):
        for d in os.listdir(_STAGE_ROOT):
            if d.startswith(f"{prefix}_") and d != key:
                shutil.rmtree(os.path.join(_STAGE_ROOT, d), ignore_errors=True)
    stage_dir = os.path.join(_STAGE_ROOT, key)
    final_dir = os.path.join(stage_dir, "data")

    ev = load_table(spark, sf_dir, "events")
    if duplicate:
        ev = ev.unionByName(ev)

    if not os.path.isdir(final_dir):  # deterministic content → cacheable
        os.makedirs(stage_dir, exist_ok=True)
        # per-process build paths + atomic rename: concurrent stagers
        # each build privately; the first rename wins, losers discard.
        tmp = os.path.join(stage_dir, f"build-{os.getpid()}")
        pending = f"{final_dir}.tmp-{os.getpid()}"
        if n_files == 1:
            chunks = [ev]
        else:
            ranked = ev.withColumn(
                "__chunk",
                F.ntile(n_files).over(Window.orderBy("ts", "event_id")),
            )
            chunks = [
                ranked.filter(F.col("__chunk") == i + 1).drop("__chunk")
                for i in range(n_files)
            ]
        os.makedirs(pending, exist_ok=True)
        for i, chunk in enumerate(chunks):
            chunk.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(
                f for f in os.listdir(tmp) if f.endswith(".parquet")
            )
            dst = os.path.join(pending, f"{i:04d}.parquet")
            shutil.copyfile(os.path.join(tmp, part), dst)
            os.utime(dst, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
        shutil.rmtree(tmp)
        try:
            os.rename(pending, final_dir)
        except OSError:
            if os.path.isdir(final_dir):  # another process staged it first
                shutil.rmtree(pending, ignore_errors=True)
            else:
                raise

    reader = spark.readStream.schema(ev.schema)
    if n_files > 1:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(final_dir)


def run_stream(
    spark: SparkSession,
    transformed: DataFrame,
    mode: str = "complete",
    name: str = "stream_q",
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink and
    return the sink table (a batch DataFrame of the final result). The
    sink's temporary view is dropped once resolved; the returned frame
    keeps the sink's rows."""
    qname = f"{name}_{uuid.uuid4().hex[:8]}"
    q = (
        transformed.writeStream.format("memory")
        .queryName(qname)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint_dir(qname))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    res = spark.table(qname)
    spark.catalog.dropTempView(qname)
    return res
