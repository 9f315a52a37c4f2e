"""Structured Streaming operators (greenfield vs the reference, which
lists streaming ingest as unrealized future work — README.rst:493-494;
SURVEY.md §2.10).

Batch/stream unification: each builder takes ANY DataFrame — the same
plan runs over `spark.read.parquet(...)` (batch, used by the oracle
gate) and `spark.readStream` (incremental). Watermarks bound state so
a window aggregation over an unbounded 100 TB/day stream holds steady
memory: state for windows older than the watermark is dropped.
"""
from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory of parquet event files.

    The streaming file source requires an explicit schema; rather than
    hardcoding one (which silently breaks when the runtime changes how
    it surfaces parquet TIMESTAMP(NANOS) — Spark ≥4.1 reads it natively
    as timestamp_ntz, older runtimes need nanosAsLong and surface a
    long), probe the path once with the BATCH reader (a footer read,
    no data scan) and stream with the observed schema. The ts column is
    then canonicalized to TimestampNTZType exactly like the batch path
    (session.normalize_event_ts), so stream ≡ batch by construction.
    """
    from ..session import allow_parquet_nanos, normalize_event_ts

    allow_parquet_nanos(spark)
    observed = spark.read.parquet(path).schema
    reader = spark.readStream.schema(observed)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # The streaming file source monitors a DIRECTORY; accept a single
    # file path by watching its parent with a glob filter.
    if path.endswith(".parquet") and os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    df = reader.parquet(path)
    if "ts" in df.columns:
        df = normalize_event_ts(df)
    return df


def _tz_is_utc(tz: str | None) -> bool:
    """True iff the session timezone renders at UTC year-round.

    Checks the actual OFFSET instead of string-matching a handful of
    spellings — 'Etc/GMT', 'GMT0', 'Universal', 'UTC+00:00' are all
    semantically UTC and were previously rejected. Fixed-offset forms
    are parsed directly; named zones resolve via zoneinfo and must
    have zero offset in BOTH January and July (ruling out DST)."""
    if not tz:
        return False
    if tz in ("UTC", "GMT", "Z", "UT", "Zulu", "Universal", "Greenwich",
              "UCT", "GMT0"):
        return True
    m = re.fullmatch(
        r"(?:UTC|GMT|UT)?\s*([+-])(\d{1,2})(?::?(\d{2}))?(?::?(\d{2}))?", tz
    )
    if m:
        return (
            int(m.group(2)) == 0
            and int(m.group(3) or 0) == 0
            and int(m.group(4) or 0) == 0
        )
    try:
        from datetime import datetime, timedelta
        from zoneinfo import ZoneInfo

        z = ZoneInfo(tz)
        zero = timedelta(0)
        return (
            datetime(2024, 1, 15, tzinfo=z).utcoffset() == zero
            and datetime(2024, 7, 15, tzinfo=z).utcoffset() == zero
        )
    except Exception:
        return False


def _watermark_ntz(
    events: DataFrame, event_col: str, watermark: str
) -> tuple[DataFrame, bool]:
    """Apply a watermark to an event-time column that may be the
    engine-canonical TIMESTAMP_NTZ. Spark's EventTimeWatermark only
    accepts TIMESTAMP (ltz), so NTZ event time is cast in; under the
    engine's fixed-UTC sessions (session.get_spark) the ntz↔ltz cast
    is a wall-time identity, and callers cast time outputs back to ntz
    so stream ≡ batch in both schema and values. Returns (watermarked
    frame, was_ntz) — when was_ntz, the caller must restore ntz on its
    output time columns via _restore_ntz."""
    was_ntz = isinstance(events.schema[event_col].dataType, T.TimestampNTZType)
    if was_ntz:
        # The ntz->ltz->ntz round trip is only a wall-time identity when
        # the session renders in UTC; a non-UTC session would shift both
        # window boundaries and the watermark cutoff. Fail loudly instead
        # of silently drifting (get_spark pins UTC; external sessions may
        # not).
        tz = events.sparkSession.conf.get("spark.sql.session.timeZone")
        if not _tz_is_utc(tz):
            raise ValueError(
                "streaming windows over TIMESTAMP_NTZ event time require "
                f"spark.sql.session.timeZone=UTC (got {tz!r}); build the "
                "session with qcache_spark.session.get_spark or set the conf"
            )
        events = events.withColumn(event_col, F.col(event_col).cast("timestamp"))
    return events.withWatermark(event_col, watermark), was_ntz


def _restore_ntz(df: DataFrame, was_ntz: bool, *cols: str) -> DataFrame:
    if not was_ntz:
        return df
    return df.withColumns(
        {c: F.col(c).cast("timestamp_ntz") for c in cols if c in df.columns}
    )


def tumbling_counts(
    events: DataFrame,
    window_size: str = "1 hour",
    watermark: str = "2 hours",
    streaming: bool = True,
) -> DataFrame:
    """Per-(window, event_type) counts and sums. With the watermark,
    state is bounded to ~(watermark / window_size) open windows per
    key — late events beyond it are dropped, on a cluster this is the
    knob that keeps an unbounded stream's state finite."""
    if streaming:
        src, was_ntz = _watermark_ntz(events, "ts", watermark)
    else:
        src, was_ntz = events, False
    out = src.groupBy(
        F.window("ts", window_size).start.alias("window_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
    )
    return _restore_ntz(out, was_ntz, "window_start")


def sliding_rates(
    events: DataFrame,
    window_size: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
    streaming: bool = True,
) -> DataFrame:
    """Sliding-window event rates (each event lands in
    window_size/slide windows)."""
    if streaming:
        src, was_ntz = _watermark_ntz(events, "ts", watermark)
    else:
        src, was_ntz = events, False
    out = src.groupBy(
        F.window("ts", window_size, slide).start.alias("window_start"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return _restore_ntz(out, was_ntz, "window_start")


def ohlc_bars(
    events: DataFrame,
    window_size: str = "1 hour",
    watermark: str = "2 hours",
    streaming: bool = True,
) -> DataFrame:
    """Per-(window, event_type) OHLC bars — the streaming form of
    operators/timeseries.ohlc (same semantics: open/close by the
    composite (ts, event_id) key, deterministic under timestamp
    collisions; micro-unit sums). min_by/max_by are ordinary
    declarative aggregates, so the incremental state per open window
    is ONE (key, value) pair per extreme — constant per window, and
    the watermark closes windows, so an unbounded stream holds
    ~(watermark / window_size) open bars per event type."""
    if streaming:
        src, was_ntz = _watermark_ntz(events, "ts", watermark)
    else:
        src, was_ntz = events, False
    key = F.struct(F.col("ts").alias("t"), F.col("event_id").alias("i"))
    out = src.groupBy(
        F.window("ts", window_size).start.alias("bucket_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min_by(F.col("value"), key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by(F.col("value"), key).alias("close"),
        F.sum(F.round(F.col("value") * 10000).cast("long")).alias("sum_value_e4"),
    )
    return _restore_ntz(out, was_ntz, "bucket_start")


def sessionize(
    events: DataFrame,
    gap: str = "10 minutes",
    watermark: str = "2 hours",
    streaming: bool = True,
) -> DataFrame:
    """Per-user sessions: events closer than `gap` merge into one
    session (Spark session_window — state closes once the watermark
    passes the gap, so sessions finalize incrementally)."""
    if streaming:
        src, was_ntz = _watermark_ntz(events, "ts", watermark)
    else:
        src, was_ntz = events, False
    sw = F.session_window("ts", gap)
    out = src.groupBy(sw, "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    ).select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        "n_events",
        "first_ts",
        "last_ts",
    )
    return _restore_ntz(out, was_ntz, "session_start", "first_ts", "last_ts")


def run_to_memory_sink(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
) -> None:
    """Drain an availableNow stream into an in-memory table (test &
    backfill path: processes everything currently in the source then
    stops — the batch-parity mode of a streaming job)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_to_parquet_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    available_now: bool = True,
) -> None:
    """Drain a stream into parquet files — the PRODUCTION sink (the
    memory sink above is a test/driver device; pipeline output lands
    in the lake). Exactly-once via the checkpoint + file-sink commit
    log: a restarted query resumes from the checkpoint and never
    double-writes a batch, which is the property that makes a
    100 TB/day ingest restartable. Parquet sinks are append-only;
    aggregations must be watermarked so closed windows finalize."""
    writer = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    q.awaitTermination()
