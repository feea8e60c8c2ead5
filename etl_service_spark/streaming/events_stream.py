"""Structured Streaming over the events table (SURVEY §7.3.6).

The reference's only temporal machinery is a 10-second scheduler poll
(Processor.cs:24,1138-1152). Its honest Spark modernization is a
micro-batch stream: ``readStream`` over the landing directory →
watermarked windowed aggregation → sink. New event files appearing in
the directory are exactly the reference's "poll for new work" loop,
minus the hand-rolled timer.

At scale: the file source tracks processed files in the checkpoint;
watermark bounds state so the agg store stays O(windows in flight),
not O(history). ``Trigger.AvailableNow`` drains the backlog in tests;
production would use ``processingTime='10 seconds'`` — the reference's
own tick.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from ..sources.footer import footer_schema

# Declared schema of an empty landing directory: the CURRENT testdata
# encoding — ts as parquet TIMESTAMP(MICROS), surfaced as timestamp_ntz.
EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _landing_schema(spark: SparkSession, landing_dir: str) -> StructType:
    """The stream's declared schema: the footer schema of the landing
    directory's first parquet file in path order, converted by Spark's
    own reader (``footer.footer_schema``), so a legacy TIMESTAMP(NANOS)
    ``ts`` surfaces as LONG under the session's nanosAsLong flag and
    TIMESTAMP(MICROS) as timestamp_ntz. A stream needs ONE declared
    schema up front; mixing encodings in one landing directory is not
    supported. Empty directory → :data:`EVENT_SCHEMA`."""
    import glob
    import os

    files = sorted(glob.glob(os.path.join(landing_dir, "**", "*.parquet"), recursive=True))
    return footer_schema(spark, files[0]) if files else EVENT_SCHEMA


def with_event_time(events: DataFrame) -> DataFrame:
    """Normalize the raw ``ts`` to a proper event-time column.

    Handles both landing encodings: epoch-nanos int64 (integer DIV, not
    `/`: epoch-nanos ~1.7e18 exceeds double's 2^53, so float division is
    off by whole microseconds) and parquet TIMESTAMP(MICROS), which only
    needs a cast to the session-zoned timestamp for watermarking."""
    if dict(events.dtypes).get("ts") == "bigint":
        return events.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return events.withColumn("ts", F.col("ts").cast("timestamp"))


def read_event_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File-source stream of raw event parquet drops (events-table
    layout). The declared schema adapts to the landing encoding (see
    :func:`_landing_schema`); either way the stream surface after
    :func:`with_event_time` is a session-zoned ``ts``."""
    schema = _landing_schema(spark, landing_dir)
    return with_event_time(spark.readStream.schema(schema).parquet(landing_dir))


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked windowed aggregation per event type — tumbling by
    default, HOPPING when ``slide`` is given (each event then lands in
    window/slide overlapping windows; the batch twin is the
    events_hopping_window registry query).

    The watermark bounds state: late events beyond 2h are dropped, so
    the state store holds only open windows — the property that keeps
    this runnable forever on an unbounded stream. A slide multiplies
    in-flight windows by window/slide, not by event volume: state is
    still O(open windows × event types).
    """
    w = F.window("ts", window) if slide is None else F.window("ts", window, slide)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("event_type"),
            F.col("n_events"),
            F.col("total_value"),
        )
    )


def drain(writer: DataStreamWriter, checkpoint_dir: str) -> None:
    """The poll tick every stream sink here runs: start ``writer``
    (its sink and output mode set by the caller) on ``checkpoint_dir``
    with ``Trigger.AvailableNow`` and block until the backlog is
    drained. Re-invoking with the same checkpoint processes only what
    arrived since the last drain — the reference's 10-second poll
    (Processor.cs:1138-1152) as one restart-safe call."""
    writer.option("checkpointLocation", checkpoint_dir).trigger(
        availableNow=True
    ).start().awaitTermination()


def run_available_now(result: DataFrame, checkpoint_dir: str, table_name: str) -> None:
    """Drain the current backlog into an in-memory sink.

    Demo/assertion path only: the memory sink cannot recover a
    checkpoint, so each call needs a fresh ``checkpoint_dir``. For the
    restartable poll loop use :func:`run_available_now_to_parquet`.
    """
    drain(
        result.writeStream.outputMode("append").format("memory").queryName(table_name),
        checkpoint_dir,
    )


def run_available_now_to_parquet(result: DataFrame, checkpoint_dir: str, out_dir: str) -> None:
    """Drain the backlog into a parquet sink — the durable production
    path. Re-invoking with the same checkpoint processes only files that
    arrived since the last drain: this IS the reference's 10-second poll
    tick (Processor.cs:1138-1152), restart-safe and exactly-once."""
    drain(
        result.writeStream.outputMode("append").format("parquet").option("path", out_dir),
        checkpoint_dir,
    )


def windowed_ohlc(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of the events_ohlc_windows registry query:
    open/high/low/close per tumbling event-time window, with open and
    close picked by min_by/max_by over the same zero-padded
    (epoch-micros, event_id) packed key as the batch form — a total
    order even under equal timestamps, and (crucially for streaming)
    a MERGEABLE aggregate: min_by/max_by partials combine across
    micro-batches, so the result is arrival-order-independent. The
    watermark bounds state to open windows, same as
    windowed_event_counts. NULL ts/event_id/value rows are filtered
    as in the batch form (concat would NULL the key).
    """
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        events.filter(
            F.col("ts").isNotNull()
            & F.col("event_id").isNotNull()
            & F.col("value").isNotNull()
        )
        .withColumn("_ord", F.concat(
            F.lpad(F.unix_micros(F.col("ts").cast("timestamp")).cast("string"), 20, "0"),
            F.lpad(F.col("event_id").cast("string"), 12, "0"),
        ))
        .withColumn("_cents", cents)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.min_by("_cents", "_ord").alias("open_cents"),
            F.max("_cents").alias("high_cents"),
            F.min("_cents").alias("low_cents"),
            F.max_by("_cents", "_ord").alias("close_cents"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "n_events",
            "open_cents",
            "high_cents",
            "low_cents",
            "close_cents",
        )
    )


def dedup_event_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Streaming exact dedup: emit each event_id once, with state
    bounded by the watermark.

    ``dropDuplicatesWithinWatermark`` keeps a key in the state store
    only until the watermark passes it — the property that lets an
    unbounded stream dedup forever in O(keys within watermark) memory
    instead of O(all history). Re-delivered files (at-least-once
    upstream) and duplicate rows inside the watermark are suppressed;
    an exact replay arriving later than the watermark is dropped as
    late data rather than re-emitted."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def enrich_stream_static(events: DataFrame, dim: DataFrame, key: str = "user_id") -> DataFrame:
    """Stream-static equi-join: each micro-batch joins against the
    static dimension; Spark plans the static side as a broadcast, so
    the stream never shuffles. This is the streaming form of the
    reference's per-step lookup of config/connection metadata — the
    dimension is re-read per batch, so an updated dim parquet is picked
    up without restarting the query."""
    return events.join(F.broadcast(dim), key, "left")


def attribute_conversions(
    events: DataFrame,
    impression_type: str = "click",
    conversion_type: str = "purchase",
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: attribute each conversion to the
    impressions from the same user in the preceding ``max_delay`` (the
    ad-attribution shape).

    Both sides carry a watermark and the join condition bounds the
    event-time distance, which is exactly what lets Spark garbage-
    collect join state: an impression older than watermark+max_delay
    can never match a future conversion, so the state store stays
    O(events within the horizon) on an unbounded stream. Without the
    time bound the state would grow forever — the condition is a
    correctness requirement, not an optimization.

    Works unchanged on batch relations (``withWatermark`` is a no-op
    there), which is what the batch-parity test exercises."""
    imp = (
        events.filter(F.col("event_type") == impression_type)
        .select(
            F.col("user_id").alias("i_user"),
            F.col("event_id").alias("impression_id"),
            F.col("ts").alias("impression_ts"),
        )
        .withWatermark("impression_ts", watermark)
    )
    conv = (
        events.filter(F.col("event_type") == conversion_type)
        .select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("conversion_id"),
            F.col("ts").alias("conversion_ts"),
        )
        .withWatermark("conversion_ts", watermark)
    )
    return imp.join(
        conv,
        F.expr(
            "i_user = user_id"
            " AND conversion_ts >= impression_ts"
            f" AND conversion_ts <= impression_ts + INTERVAL {max_delay}"
        ),
        "inner",
    ).select(
        "user_id", "impression_id", "impression_ts", "conversion_id", "conversion_ts"
    )


def run_upsert_aggregate(
    events: DataFrame, checkpoint_dir: str, out_dir: str, window: str = "1 hour"
) -> None:
    """Maintain a windowed aggregate TABLE from the stream: each
    micro-batch recomputes the (complete-mode) per-window counts and
    lands them via dynamic partition overwrite keyed on the window
    start — the foreachBatch "upsert into plain parquet" pattern.

    Late/updated windows replace exactly their own partition; untouched
    windows stay put, and a replayed batch converges to the same state
    (same idempotence contract as operators/copy.write_copy_idempotent,
    which is the batch half of this). This is how a stream keeps a
    queryable aggregate table fresh WITHOUT a transactional table
    format; the partition (one window) is both the update unit and the
    recovery unit. Complete output mode keeps every window in state —
    bounded here by the windowed-aggregation watermark at production
    retention, or by compacting old windows out of the stream."""
    agg = (
        events.groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", "yyyyMMddHH").alias("win_part"),
            F.col("event_type"),
            F.col("n_events"),
        )
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        # per-write option, not the session conf: a concurrent step's
        # static overwrite on the shared session must stay static
        batch_df.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("win_part").parquet(out_dir)

    drain(agg.writeStream.outputMode("complete").foreachBatch(upsert), checkpoint_dir)
