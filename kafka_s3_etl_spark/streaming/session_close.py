"""Timeout-driven sessionization demo (drives stateful.gap_sessions).

Why a live two-delivery harness: the LAST session of every user can
only flush when the event-time watermark passes its close-gap — and a
watermark only moves when newer data arrives. Mirroring
streaming/outer_join.py, delivery 1 is the real events and delivery 2
a single sentinel row 3 hours past max(ts), which advances the
watermark beyond every open session's timeout; the engine then fires
all timeouts in the following (no-data) micro-batch and the emitted
session set equals the batch sessionizer exactly.

The sentinel's own state never times out (its timeout sits past the
final watermark) and its user_id is negative, so it is filtered from
the returned result.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_s3_etl_spark.sources.tables import load_table
from kafka_s3_etl_spark.streaming.runner import (
    _pinned_stream_partitions,
    scratch_dir,
)
from kafka_s3_etl_spark.streaming.stateful import gap_sessions

_PART_CACHE: dict[str, tuple[str, str]] = {}

# Last stream's final progress dict (None until a demo ran) — lets
# tests assert on engine internals (e.g. that the RocksDB state-store
# provider actually loaded: its customMetrics keys are rocksdb*-
# prefixed) without threading the StreamingQuery handle through the
# DataFrame-returning query contract.
LAST_PROGRESS: dict | None = None


# Wall-clock budget for the timeout batch to land in the sink.
EVICTION_WAIT_S = 60.0


def _sink_rows(spark: SparkSession, name: str) -> int:
    return spark.table(name).count()


def _copy_part(src_dir: str, dest: str, mtime: float) -> None:
    part = glob.glob(os.path.join(src_dir, "part-*.parquet"))[0]
    shutil.copy(part, dest)
    os.utime(dest, (mtime, mtime))


def session_timeout_demo(
    spark: SparkSession,
    sf_dir: str,
    sessionizer=gap_sessions,
    conf_ctx=None,
) -> DataFrame:
    """Two-delivery close-out harness around a gap sessionizer.

    ``sessionizer`` is any (stream_df) -> stream_df gap sessionizer with
    gap_sessions' output schema (the transformWithStateInPandas variant
    plugs in here); ``conf_ctx`` optionally wraps the query start in an
    extra conf-pinning context (e.g. tws.pinned_rocksdb_state_store).
    """
    ev = load_table(spark, sf_dir, "events")
    if sf_dir not in _PART_CACHE:
        data_dir, sent_dir = scratch_dir("sess_data"), scratch_dir("sess_sent")
        ev.coalesce(1).write.mode("overwrite").parquet(data_dir)
        sentinel = ev.agg(
            F.lit(-1).cast("bigint").alias("event_id"),
            (F.max("ts") + F.expr("INTERVAL 3 HOURS")).alias("ts"),
            F.lit(-1).cast("bigint").alias("user_id"),
            F.lit("view").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        ).select(*ev.columns)
        sentinel.coalesce(1).write.mode("overwrite").parquet(sent_dir)
        _PART_CACHE[sf_dir] = (data_dir, sent_dir)
    data_dir, sent_dir = _PART_CACHE[sf_dir]

    src_dir = scratch_dir("sess_src")
    now = os.path.getmtime(src_dir)
    _copy_part(data_dir, os.path.join(src_dir, "data.parquet"), now - 100)

    stream = spark.readStream.schema(ev.schema).parquet(src_dir)
    sessions = sessionizer(stream)
    name = f"sess_{uuid.uuid4().hex[:10]}"
    import contextlib

    extra = conf_ctx(sessions) if conf_ctx is not None else contextlib.nullcontext()
    with _pinned_stream_partitions(sessions), extra:
        q = (
            sessions.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", scratch_dir("ckpt"))
            .start()
        )
    try:
        q.processAllAvailable()  # real data; mid-stream sessions emit
        n_before = _sink_rows(spark, name)
        _copy_part(sent_dir, os.path.join(src_dir, "sentinel.parquet"), now)
        q.processAllAvailable()  # watermark jumps past every open gap
        # Timeouts fire in the no-data batch AFTER the watermark
        # advances; every user still holds >= 1 open session, so the
        # count strictly grows once that batch commits. A monotonic
        # deadline bounds the wait, and running out of it raises rather
        # than returning a table that may lack the final sessions.
        deadline = time.monotonic() + EVICTION_WAIT_S
        while _sink_rows(spark, name) <= n_before:
            if time.monotonic() >= deadline:
                raise RuntimeError(
                    "session_timeout_demo: the timeout batch never "
                    f"committed within {EVICTION_WAIT_S:g} s; the result "
                    "would lack every user's final session"
                )
            time.sleep(0.05)
    finally:
        global LAST_PROGRESS
        LAST_PROGRESS = q.lastProgress
        q.stop()
    return spark.table(name).filter(F.col("user_id") >= 0)
