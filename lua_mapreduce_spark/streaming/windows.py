"""Structured Streaming variants of the event-time operators.

The reference only gestures at streaming ("could be data from the disk or
streaming", example/word-count-taskfile.lua:81 — never implemented). Here
the batch operators in operators/events.py get true streaming twins:
`readStream` file source → windowed agg with watermark → sink. The batch
versions are the oracle (same F.window/F.session_window logic, so results
agree by construction once the stream drains with availableNow).

Scale notes: watermarks bound state (late rows beyond the watermark drop);
session-window state is per-key like applyInPandasWithState; file-source
`maxFilesPerTrigger` paces backfill. On a cluster the same code points at
Kafka by swapping the reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import normalize_events_ts, parquet_schema
from lua_mapreduce_spark.functions.exact import dec
from lua_mapreduce_spark.session import configure_runtime

def read_events_stream(
    spark: SparkSession,
    events_dir: str,
    glob: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory of events parquet files.

    The stream schema is taken from the parquet footers (one cheap batch
    footer read) rather than hard-coded, because the physical ts type has
    varied across testdata generations — TIMESTAMP(NANOS) read as int64
    under nanosAsLong vs TIMESTAMP(MICROS) read as timestamp_ntz — and a
    stale hard-coded schema silently mis-scales every event time. Without a
    glob that read is catalog.parquet_schema's, once per session and
    directory version. The ts
    normalization is the shared catalog.normalize_events_ts helper — the
    batch reader calls the same function, so streaming and batch twins agree
    by construction. ``glob`` narrows the directory to matching files (the file
    source requires a directory basePath, so single-file streams use a glob
    filter). ``max_files_per_trigger`` paces the drain into one micro-batch
    per file (the source processes files oldest-mtime first), exercising
    real cross-batch state transitions even under trigger=availableNow."""
    configure_runtime(spark)
    # The schema-discovery batch read applies the same glob as the stream so
    # footers of non-matching files in a mixed-schema directory can't skew
    # inference; an empty/no-match directory fails here with a clear message
    # instead of an opaque AnalysisException at stream start.
    try:
        if glob is None:
            schema = parquet_schema(spark, events_dir)
        else:
            schema = spark.read.option("pathGlobFilter", glob).parquet(events_dir).schema
    except Exception as exc:
        raise FileNotFoundError(
            f"no parquet files matching glob={glob!r} under {events_dir!r} "
            "to infer the stream schema from"
        ) from exc
    reader = spark.readStream.schema(schema)
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_events_ts(reader.parquet(events_dir))


def stream_tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of operators.events.events_tumbling_hourly."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(f"CAST(SUM({dec('value')}) AS DOUBLE)").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("ws_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Streaming twin of operators.events.events_session_windows."""
    return (
        events.filter(F.col("user_id") < 100)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(f"CAST(SUM({dec('value')}) AS DOUBLE)").alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def stream_hourly_value_partials(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Hourly continuous-aggregate PARTIALS, streaming: count + decimal
    value sum per hour (no event_type split). The decimal column stays in
    the exact domain so a downstream daily rollup can combine partials
    without float drift — the streaming half of
    operators.analytics.agg_hypertable_rollup."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"SUM({dec('value')})").alias("sv"),
        )
        .select(F.col("w.start").alias("hour"), "n", "sv")
    )
