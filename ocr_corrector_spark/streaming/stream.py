"""Structured Streaming variant of the correction pipeline.

The reference is batch-only (SURVEY.md §2g), but a transcripts table at
10^12-turn scale is fed continuously; the batch plan runs unchanged over
a ``readStream`` source (the single Arrow UDF over ``(text, probs,
tool)``: detection, extraction and correction).  Every stage is stateless/narrow, so the stream
needs no state store; ``order_output`` stays off, because a global sort
is undefined on an unbounded stream (sinks cluster by (conv_id,
turn_idx) per micro-batch instead).  The optional windowed metrics
stream uses a watermark for late turns.

Typical wiring::

    src = spark.readStream.schema(schema).parquet(in_dir)
    q = correct_pipeline(src, spark, order_output=False).writeStream \
        .format("parquet").option("path", out_dir) \
        .option("checkpointLocation", ckpt).trigger(availableNow=True).start()

The page-side transforms are the batch functions too: operators/sqlops'
``links_from_pages``, ``canonicalize_urls`` and ``anchor_rows`` are
row-local, so they apply to a stream as they stand; their rollups
(``url_canonicalize_rollup``, ``anchor_stats_rollup``) run inside
foreachBatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_dedup(
    stream_df: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exactly-once turns from an at-least-once feed: drop replayed rows
    by key within the event-time watermark
    (``dropDuplicatesWithinWatermark`` — state for a key is held only
    until the watermark passes it, so state size is bounded by the
    watermark window's key cardinality, never by stream history; plain
    streaming dropDuplicates would keep every key forever)."""
    return stream_df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def streaming_metrics(
    corrected: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Windowed correction metrics with late-data handling: per event-time
    window and biz, rows seen / rows corrected."""
    return (
        corrected.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("tool"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.col("text") != F.col("text_corrected")).cast("long")).alias(
                "n_corrected"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "tool",
            "n_rows",
            "n_corrected",
        )
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    window_hours: int = 24,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join — the streaming analog of
    operators/sqlops.q_range_join: every left event (e.g. a purchase)
    paired with the same user's right events (e.g. views) from the
    preceding ``window_hours``.  Both sides carry event-time watermarks
    and the join condition bounds right's event time to a window BEHIND
    left's, which is exactly what Spark needs to expire join state: a
    right row is held only until the watermark passes ``ts +
    window_hours``, so state is bounded by rate x window, never by
    stream history.  Emits the matched pairs in append mode (counting
    per left event is a downstream aggregation; with watermarks Spark
    chains the two stateful operators)."""
    # watermarks require TIMESTAMP (tz-aware) event time; parquet feeds
    # carry TIMESTAMP_NTZ — cast both sides identically, so the interval
    # comparison below stays internally consistent
    l = (
        left.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .alias("l")
    )
    r = (
        right.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("value").alias("r_value"),
        )
        .alias("r")
    )
    cond = (
        (F.col("l.user_id") == F.col("r.r_user"))
        & (F.col("r.r_ts") < F.col("l.ts"))
        & (
            F.col("r.r_ts")
            >= F.col("l.ts") - F.expr(f"INTERVAL {window_hours} HOURS")
        )
    )
    return l.join(r, cond, "inner").select(
        F.col("l.event_id").alias("event_id"),
        F.col("l.user_id").alias("user_id"),
        F.col("l.ts").alias("ts"),
        F.col("r.r_ts").alias("view_ts"),
        F.col("r.r_value").alias("view_value"),
    )
