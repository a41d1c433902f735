"""Structured Streaming variant: same correction semantics as batch over a
file stream with availableNow trigger; windowed metrics with watermark."""

import pytest
from pyspark.sql import functions as F

from ocr_corrector_spark.operators.correct import correction_config
from ocr_corrector_spark.plans.pipeline import correct_pipeline
from ocr_corrector_spark.sources.transcripts import gen_transcripts
from ocr_corrector_spark.streaming import streaming_metrics


@pytest.fixture(scope="module")
def stream_input(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream_in"))
    df = gen_transcripts(spark, n_convs=30)
    df.write.mode("overwrite").parquet(path)
    return path, df.schema


def test_streaming_matches_batch(spark, stream_input, tmp_path):
    in_dir, schema = stream_input
    src = spark.readStream.schema(schema).parquet(in_dir)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        correct_pipeline(src, spark, order_output=False)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    streamed = sorted(
        spark.read.parquet(out_dir)
        .select("conv_id", "turn_idx", "text_corrected")
        .collect()
    )
    batch = sorted(
        correct_pipeline(spark.read.parquet(in_dir), spark, order_output=False)
        .select("conv_id", "turn_idx", "text_corrected")
        .collect()
    )
    assert streamed == batch
    assert len(streamed) > 0


def test_streaming_windowed_metrics(spark, stream_input, tmp_path):
    in_dir, schema = stream_input
    src = spark.readStream.schema(schema).parquet(in_dir)
    corrected = correct_pipeline(src, spark, order_output=False)
    metrics = streaming_metrics(corrected, window="10 minutes", watermark="5 minutes")
    q = (
        metrics.writeStream.format("memory")
        .queryName("m")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("SELECT * FROM m").collect()
    # append mode only emits windows the watermark has closed; with
    # availableNow over a finite input the final windows may be withheld —
    # the schema contract is what we assert here, plus non-crash.
    for r in rows:
        assert r.n_rows >= r.n_corrected >= 0


def test_streaming_lm_backend_matches_batch_lm(spark, stream_input, tmp_path):
    """The numpy masked-LM backend on a stream: the config works on a
    stream as in batch, the per-worker checkpoint singleton loads inside
    streaming tasks, and output equals the batch lm run row-for-row."""
    in_dir, schema = stream_input
    src = spark.readStream.schema(schema).parquet(in_dir)
    out_dir = str(tmp_path / "out_lm")
    q = (
        correct_pipeline(
            src, spark, correction_config(scorer_backend="lm"), order_output=False
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt_lm"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    streamed = sorted(
        spark.read.parquet(out_dir)
        .select("conv_id", "turn_idx", "text_corrected")
        .collect()
    )
    batch = sorted(
        correct_pipeline(
            spark.read.parquet(in_dir), spark,
            correction_config(scorer_backend="lm"), order_output=False,
        )
        .select("conv_id", "turn_idx", "text_corrected")
        .collect()
    )
    assert streamed == batch and len(streamed) > 0


def test_streaming_dedup_drops_replays(spark, stream_input, tmp_path):
    """At-least-once feed: replayed (conv_id, turn_idx) rows within the
    watermark are dropped — output equals the batch distinct-by-key."""
    from ocr_corrector_spark.streaming import streaming_dedup

    in_dir, schema = stream_input
    base = spark.read.parquet(in_dir)
    dup_dir = str(tmp_path / "dup_in")
    # every row written twice (a replayed micro-batch)
    base.unionByName(base).write.mode("overwrite").parquet(dup_dir)

    src = spark.readStream.schema(schema).parquet(dup_dir)
    out_dir = str(tmp_path / "out_dd")
    q = (
        streaming_dedup(src)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out_dir)
    assert got.count() == base.count()
    assert got.select("conv_id", "turn_idx").distinct().count() == base.count()


def test_stream_links_match_batch(spark, tmp_path):
    from ocr_corrector_spark.operators.sqlops import _pages_df, links_from_pages

    sf_dir = "/root/testdata/sf0.001"
    pages = _pages_df(spark, sf_dir)
    in_dir = str(tmp_path / "pages")
    pages.write.mode("overwrite").parquet(in_dir)

    src = spark.readStream.schema(pages.schema).parquet(in_dir)
    q = (
        links_from_pages(src)
        .writeStream.format("memory")
        .queryName("links_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    streamed = sorted(map(tuple, spark.sql("SELECT * FROM links_stream").collect()))
    batch = sorted(map(tuple, links_from_pages(spark.read.parquet(in_dir)).collect()))
    assert streamed == batch
    assert len(streamed) > 0


def test_stream_links_replayed_late_feed_match_batch(spark, tmp_path):
    """Exact link-layer parity under at-least-once delivery: a feed where
    pages are REPLAYED (duplicate doc_id) and arrive LATE (event time
    behind rows already seen) still yields exactly the batch link
    inventory of the distinct pages — watermarked dedup in front of the
    stateless extraction absorbs both."""
    from datetime import timedelta

    from ocr_corrector_spark.operators.sqlops import (
        _page_html,
        links_from_pages,
    )
    from ocr_corrector_spark.sources.tables import load_table
    from ocr_corrector_spark.streaming import streaming_dedup

    sf_dir = "/root/testdata/sf0.001"
    docs = load_table(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        _page_html(F.col("doc_id"), F.col("text")).alias("html"),
        # deterministic event time derived from doc_id
        F.expr("timestamp '2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0, doc_id)")
        .alias("ts"),
    )
    # replay: every third page delivered again with an OLDER event time
    # (a late row from a retried upstream batch), inside the watermark
    replays = pages.filter(F.col("doc_id") % 3 == 0).withColumn(
        "ts", F.col("ts") - F.expr("INTERVAL 30 SECONDS")
    )
    in_dir = str(tmp_path / "pages_replayed")
    pages.unionByName(replays).write.mode("overwrite").parquet(in_dir)

    src = spark.readStream.schema(pages.schema).parquet(in_dir)
    deduped = streaming_dedup(src, keys=("doc_id",), watermark="10 minutes")
    q = (
        links_from_pages(deduped.select("doc_id", "html"))
        .writeStream.format("memory")
        .queryName("links_replayed")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_lr"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    streamed = sorted(
        map(tuple, spark.sql("SELECT * FROM links_replayed").collect())
    )
    batch = sorted(
        map(tuple, links_from_pages(pages.select("doc_id", "html")).collect())
    )
    assert streamed == batch
    assert len(streamed) > 0


def test_stream_url_canonicalize_matches_batch(spark, tmp_path):
    """Streaming canonical mapping is stateless and exactly the batch
    mapping per link; the foreachBatch-style rollup over the streamed rows
    reproduces q_url_canonicalize bit-for-bit."""
    from ocr_corrector_spark.operators.sqlops import (
        _links_df,
        _noisy_url,
        canonicalize_urls,
        q_url_canonicalize,
        url_canonicalize_rollup,
    )

    sf_dir = "/root/testdata/sf0.001"
    noisy = _noisy_url(
        _links_df(spark, sf_dir).filter(F.col("href").startswith("https://"))
    )
    in_dir = str(tmp_path / "noisy_links")
    noisy.write.mode("overwrite").parquet(in_dir)

    src = spark.readStream.schema(noisy.schema).parquet(in_dir)
    q = (
        canonicalize_urls(src)
        .writeStream.format("memory")
        .queryName("canon_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_canon"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    streamed = spark.sql("SELECT * FROM canon_stream")
    rolled = sorted(
        map(tuple, url_canonicalize_rollup(streamed).collect())
    )
    batch = sorted(map(tuple, q_url_canonicalize(spark, sf_dir).collect()))
    assert rolled == batch
    assert len(rolled) > 0
    # mapping rows themselves are exact per link
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, canonicalize_urls(spark.read.parquet(in_dir)).collect())
    )


def test_stream_anchor_rows_match_batch(spark, tmp_path):
    """Streaming anchor extraction is stateless; the foreachBatch-style
    rollup over the streamed rows reproduces q_anchor_stats exactly."""
    from ocr_corrector_spark.operators.sqlops import (
        _pages_df,
        anchor_rows,
        anchor_stats_rollup,
        q_anchor_stats,
    )

    sf_dir = "/root/testdata/sf0.001"
    pages = _pages_df(spark, sf_dir)
    in_dir = str(tmp_path / "pages_anchor")
    pages.write.mode("overwrite").parquet(in_dir)

    src = spark.readStream.schema(pages.schema).parquet(in_dir)
    q = (
        anchor_rows(src)
        .writeStream.format("memory")
        .queryName("anchor_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_anchor"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    streamed = spark.sql("SELECT * FROM anchor_stream")
    rolled = sorted(map(tuple, anchor_stats_rollup(streamed).collect()))
    batch = sorted(map(tuple, q_anchor_stats(spark, sf_dir).collect()))
    assert rolled == batch
    assert len(rolled) > 0
