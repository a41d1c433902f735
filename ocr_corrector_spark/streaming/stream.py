"""Structured Streaming variant of the correction pipeline.

The reference is batch-only (SURVEY.md §2g), but a transcripts table at
10^12-turn scale is fed continuously; this module runs the SAME operator
graph (native err_prob_key → the single extraction + correction Arrow
UDF) over a ``readStream`` source.  Every stage is stateless/narrow, so
the stream needs no state store; the optional windowed metrics stream
uses a watermark for late turns.

Typical wiring::

    src = spark.readStream.schema(schema).parquet(in_dir)
    q = streaming_correct(src, spark).writeStream \
        .format("parquet").option("path", out_dir) \
        .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import correct_pipeline


def streaming_correct(stream_df: DataFrame, spark: SparkSession, **pipeline_kwargs) -> DataFrame:
    """The batch plan applied to a streaming DataFrame.  ``order_output``
    is off (global sort is undefined on an unbounded stream — downstream
    sinks cluster by (conv_id, turn_idx) per micro-batch instead).
    ``pipeline_kwargs`` pass through to correct_pipeline — a
    ``cfg=correction_config(scorer_backend=...)`` works on streams exactly
    as in batch (the correction stage is stateless)."""
    return correct_pipeline(
        stream_df, spark, order_output=False, **pipeline_kwargs
    )


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


def streaming_link_extract(stream_df: DataFrame) -> DataFrame:
    """Link inventory over a STREAM of pages — the crawler-feed shape:
    each micro-batch of (doc_id, html) rows yields its (doc_id, link_pos,
    href, anchor) anchors via the same row-local regexp pass as the batch
    q_link_extract, so the transform is stateless (no watermark, no state
    store) and parity with batch is exact per page."""
    from ..operators.sqlops import links_from_pages

    return links_from_pages(stream_df)


def streaming_url_canonicalize(noisy_links: DataFrame) -> DataFrame:
    """Canonical URL mapping over a STREAM of extracted (doc_id, url)
    links: the same fixed regexp_replace chain as the batch
    q_url_canonicalize's mapping stage — row-local, stateless, exact
    per-link parity.  The frontier-dedup rollup (count + two
    countDistincts) is not a supported streaming state shape; run
    operators.sqlops.url_canonicalize_rollup inside foreachBatch (with an
    availableNow trigger the single batch equals the batch query
    bit-for-bit)."""
    from ..operators.sqlops import canonicalize_urls

    return canonicalize_urls(noisy_links)


def streaming_anchor_rows(stream_df: DataFrame) -> DataFrame:
    """Anchor-text rows (doc_id, href, anchor) over a STREAM of pages —
    the stateless in-stream stage of the anchor-stats table: the same
    row-local extraction as batch, filtered to absolute targets.  The
    per-target rollup with the modal anchor (chained aggs + rank window)
    belongs in foreachBatch via operators.sqlops.anchor_stats_rollup."""
    from pyspark.sql import functions as F

    from ..operators.sqlops import links_from_pages

    return links_from_pages(stream_df).filter(
        F.col("href").startswith("https://")
    ).select("doc_id", "href", "anchor")
