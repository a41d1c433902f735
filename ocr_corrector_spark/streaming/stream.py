"""Structured Streaming variant of the correction pipeline.

The reference is batch-only (SURVEY.md §2g), but a transcripts table at
10^12-turn scale is fed continuously; the batch plan runs unchanged over
a ``readStream`` source (the single Arrow UDF over ``(text, probs,
tool)``: detection, extraction and correction).  Every stage is stateless/narrow, so the stream
needs no state store; ``order_output`` stays off, because a global sort
is undefined on an unbounded stream (sinks cluster by (conv_id,
turn_idx) per micro-batch instead).  Two stream operators sit beside
it: replay dedup (``streaming_dedup``) in front and windowed metrics
(``streaming_metrics``) behind, both watermarked for late turns.
Near-dup detection and interval joins are batch queries only.

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

