"""``fused_correct`` (the single-crossing operator on an unordered frame)
must equal ``correct_pipeline`` per turn (operators/fused.py vs
plans/pipeline.py)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from ocr_corrector_spark.operators.correct import correction_config
from ocr_corrector_spark.operators.fused import fused_correct
from ocr_corrector_spark.plans.pipeline import correct_pipeline
from ocr_corrector_spark.sources.transcripts import gen_transcripts


def _edge_rows(spark):
    schema = (
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, probs array<double>"
    )
    t = dt.datetime(2026, 1, 1)
    return spark.createDataFrame(
        [
            # NULL probs → non-prob path marks every position
            ("edge", 0, "user", "宋还本全", "report", t, None),
            # empty probs + empty text
            ("edge", 1, "user", "", "report", t, []),
            # NULL text
            ("edge", 2, "user", None, "doc", t, None),
            # PDF stub passthrough
            ("edge", 3, "user", "%PDF-1.4 junk", "doc", t, [0.5]),
            # malformed layout passthrough
            ("edge", 4, "user", "%LAYOUT v1\nP0 bad", "report", t, [0.5]),
            # far-future ts (past the pandas ns ceiling): ts never crosses
            # into Python, so it cannot overflow there
            ("edge", 5, "user", "宋还本全", "report", dt.datetime(2600, 1, 1), None),
        ],
        schema,
    )


def test_fused_equals_staged(spark):
    df = gen_transcripts(spark, n_convs=150).unionByName(_edge_rows(spark))
    staged = (
        correct_pipeline(df, spark, order_output=False)
        .select("conv_id", "turn_idx", "text", "text_corrected")
        .collect()
    )
    fused = (
        fused_correct(df, spark)
        .select("conv_id", "turn_idx", "text", "text_corrected")
        .collect()
    )
    key = lambda r: (r.conv_id, r.turn_idx)
    assert sorted(staged, key=key) == sorted(fused, key=key)
    assert len(staged) > 800


def test_fused_corrects_and_extracts(spark):
    df = gen_transcripts(spark, n_convs=60, keep_oracle_cols=True)
    out = fused_correct(df, spark)
    # extraction applied: no markup survives in text
    assert out.filter(F.col("text").rlike("^%LAYOUT|<html")).count() == 0
    # per-turn equality vs the generator's clean text on corrected rows
    wrong = out.filter(
        (F.col("tool") == "report") & (F.col("text_corrected") != F.col("text_clean"))
    )
    # keyword-path rows whose designed correction applies must reach clean
    designed = wrong.filter(F.col("text_noisy").isin("宋还本全", "数期大", "术还本金"))
    assert designed.count() == 0


def test_fused_framed_equals_staged_framed(spark):
    """fused_correct with the framed backend (VERDICT r02 #3) runs the
    same single-crossing UDF as the pipeline, so per-turn output must be
    identical — including rows where the context bigram re-ranks
    candidates away from the char-keyed table result (大阳 → 太阳 via the
    (太, 阳) bigram)."""
    import datetime as dt

    schema = (
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, probs array<double>"
    )
    t = dt.datetime(2026, 1, 1)
    ctx_rows = spark.createDataFrame(
        [
            # context-bigram row: framed corrects 大→太 (太阳), table picks 天
            ("ctx", 0, "user", "大阳高照呀", "doc", t, [0.5, 1.0, 1.0, 1.0, 1.0]),
            # no-context row: framed == table (大安门 → 天安门)
            ("ctx", 1, "user", "大安门广场", "doc", t, [0.5, 1.0, 1.0, 1.0, 1.0]),
        ],
        schema,
    )
    df = gen_transcripts(spark, n_convs=120).unionByName(ctx_rows)
    cfg = correction_config(scorer_backend="framed")
    staged = (
        correct_pipeline(df, spark, cfg, order_output=False)
        .select("conv_id", "turn_idx", "text", "text_corrected")
        .collect()
    )
    fused = (
        fused_correct(df, spark, cfg)
        .select("conv_id", "turn_idx", "text", "text_corrected")
        .collect()
    )
    key = lambda r: (r.conv_id, r.turn_idx)
    assert sorted(staged, key=key) == sorted(fused, key=key)
    by_key = {key(r): r.text_corrected for r in fused}
    # the framed path's context evidence actually fired in the fused plan
    assert by_key[("ctx", 0)] == "太阳高照呀"
    assert by_key[("ctx", 1)] == "天安门广场"
