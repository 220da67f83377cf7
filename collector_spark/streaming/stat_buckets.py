"""Streaming 1-minute stat buckets (ST10 tumbling windows + ST1 watermark,
A12's streaming form).

Reference: the high-frequency pipeline accumulates per-minute diffed stats
under (collected_at, interval) time keys (input/full_1min.go:39-62,
state/postgres_statement.go:51-54) and flushes them with the 10-minute full
snapshot. The Spark-native form is a watermarked tumbling-window streaming
aggregation: readStream -> withWatermark -> groupBy(window(ts, '1 minute'),
key) -> sums, run to completion through the streaming harness
(streaming/replay.py ``run_to_completion``) for verification and with
trigger(processingTime='1 minute') in production.

Scale: windowed streaming aggregation is map-side-combinable per
micro-batch; state is (window, key)-granular and expires automatically once
the watermark passes window end + delay — bounded by key cardinality x
active windows, exactly the reference's bucket-map footprint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from collector_spark.streaming.replay import run_to_completion

WATERMARK = "3 seconds"


def windowed_counts(events: DataFrame) -> DataFrame:
    """The streaming aggregation: 1-min tumbling buckets per key."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(
            F.window("ts", "1 minute").alias("w"),
            (F.col("event_id") % 50).alias("key"),
        )
        .agg(
            F.count("*").cast("long").alias("calls"),
            F.sum(F.col("event_id") % 7).cast("long").alias("rows"),
        )
    )


def events_stream(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """The events table as a file stream of (event_id, ts)."""
    from collector_spark import tables

    # the driver's parquet stores TIMESTAMP(NANOS); stream it with the raw
    # (nanos-as-long) schema, then convert exactly like tables.load does
    sf = sf_dir or tables.LAST_SF_DIR
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf}/events.parquet").schema
    # the dataset is one file per table; the file source needs a directory,
    # so point it at the dir and glob-filter to the events file
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    if raw_schema["ts"].dataType.simpleString() == "bigint":
        ts = F.timestamp_micros(F.expr("ts DIV 1000"))
    else:
        # Watermarks require TIMESTAMP (with tz); the session tz is pinned
        # UTC, so casting a TIMESTAMP_NTZ parquet column is value-preserving.
        ts = F.col("ts").cast("timestamp")
    return raw.select("event_id", ts.alias("ts"))


def stream_stat_buckets(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Run the windowed aggregation over the events table to completion and
    return (window_start, key, calls, rows).

    Verification runs in ``complete`` output mode so the final (still-open)
    window is included and the result equals the batch oracle exactly;
    production would run ``append`` + processingTime trigger, where the
    watermark finalizes windows and evicts their state (ST9).
    """
    buckets = windowed_counts(events_stream(spark, sf_dir)).select(
        F.col("w.start").alias("window_start"), "key", "calls", "rows"
    )
    return run_to_completion(buckets, "complete").orderBy("window_start", "key")
