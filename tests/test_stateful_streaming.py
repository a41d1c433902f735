"""Custom stateful streaming operator: session-gap conversation assembly
(streaming/stateful.py, applyInPandasWithState + event-time timeout)."""

from __future__ import annotations

import datetime as dt

from ocr_corrector_spark.streaming.stateful import assemble_conversations

T0 = dt.datetime(2026, 1, 1, 12, 0, 0)


def _write_batch(spark, path, rows):
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, text_corrected string"
    ).coalesce(1).write.mode("append").parquet(path)


def test_conversation_assembled_after_session_gap(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    # batch 1: conv A, turns arrive OUT of order + a duplicate redelivery
    _write_batch(
        spark,
        in_dir,
        [
            ("A", 2, T0 + dt.timedelta(seconds=2), "丙"),
            ("A", 0, T0, "甲"),
            ("A", 1, T0 + dt.timedelta(seconds=1), "乙-stale"),
            ("A", 1, T0 + dt.timedelta(seconds=1), "乙"),
        ],
    )
    # batch 2 advances event time far past A's gap; batch 3 advances the
    # watermark so A's timeout actually fires during its processing
    _write_batch(spark, in_dir, [("B", 0, T0 + dt.timedelta(minutes=30), "x")])
    _write_batch(spark, in_dir, [("C", 0, T0 + dt.timedelta(minutes=60), "y")])

    src = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, ts timestamp, text_corrected string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = assemble_conversations(src, gap="5 minutes", watermark_delay="1 minute")
    q = (
        out.writeStream.format("memory")
        .queryName("assembled")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    rows = {r.conv_id: r for r in spark.sql("select * from assembled").collect()}
    assert "A" in rows, f"conv A not emitted; got {rows}"
    a = rows["A"]
    assert a.n_turns == 3
    # stable turn order + latest-wins duplicate handling
    assert a.conversation == "甲\n乙\n丙"
    # B and C are still within their gap at end-of-stream: state retained,
    # nothing emitted for them in append mode
    assert "C" not in rows


def test_neardup_ttl_parsing():
    import pytest

    from ocr_corrector_spark.streaming.stateful import _parse_ttl_ms

    assert _parse_ttl_ms("1 hour") == 3_600_000
    assert _parse_ttl_ms("90 sec") == 90_000
    assert _parse_ttl_ms("1 day") == 86_400_000
    assert _parse_ttl_ms("250 ms") == 250
    with pytest.raises(ValueError, match="unsupported TTL interval"):
        _parse_ttl_ms("fortnight")
    with pytest.raises(ValueError, match="expected '<count> <unit>'"):
        _parse_ttl_ms("1.5 hours")

