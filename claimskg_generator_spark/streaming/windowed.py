"""Watermarked tumbling-window aggregation over an event stream — the
late-data-correct streaming rollup (Structured Streaming's canonical
watermark + windowed-agg shape, which none of the stateful dedup twins
needed because they key on content, not time).

Semantics under append mode:

* events aggregate into ``window``-sized tumbling windows per event_type;
* the watermark trails the max observed event time by ``delay``; a window
  is EMITTED (immutably, exactly once) when the watermark passes its end;
* rows older than the watermark are DROPPED before aggregation — the
  bounded-state guarantee that makes this runnable forever at 100 TB/day
  (without it, every window ever seen stays in the state store).

The watermark is persisted in the checkpoint commit log, so repeated
``availableNow`` drains (the incremental catch-up mode used across this
package) carry late-data semantics across runs: a row arriving in run N
older than run N-1's watermark is dropped, exactly as it would be in a
continuously running query.
"""

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from claimskg_generator_spark.streaming.drain import drain, source

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def windowed_event_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    delay: str = "5 minutes",
):
    """Drain the input directory (availableNow) into per-window,
    per-event-type counts/sums, appending finalized windows to parquet.
    Returns the StreamingQuery (caller awaits termination)."""
    stream = source(spark, input_dir, EVENT_SCHEMA)
    agg = (
        stream.withWatermark("ts", delay)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return drain(agg, output_dir, checkpoint_dir)


def sessionized_event_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    delay: str = "5 minutes",
):
    """Streaming sessionization: per-user session windows (sessions close
    after ``gap`` of inactivity), the streaming twin of the batch q13
    sessionize query.  Uses Spark's native session_window with a
    watermark: a session is emitted (append mode, exactly once) when the
    watermark passes its end, i.e. once no in-order event can extend it;
    rows older than the watermark are dropped.  State holds only open
    sessions — bounded by active users, not stream length."""
    stream = source(spark, input_dir, EVENT_SCHEMA)
    agg = (
        stream.withWatermark("ts", delay)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("session_window.start").alias("sess_start"),
            F.col("session_window.end").alias("sess_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )
    return drain(agg, output_dir, checkpoint_dir)
