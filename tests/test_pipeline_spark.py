"""Spark pipeline correctness: per-turn text equality vs the pure-Python
oracle (the BASELINE.json contract), order/partitioning invariance, and
the designed correction outcomes."""

import pytest
from pyspark.sql import functions as F

from ocr_corrector_spark.oracle import BertOracle, KeywordOracle
from ocr_corrector_spark.operators.extract import extract_main_content
from ocr_corrector_spark.plans.pipeline import changed_rows, correct_pipeline
from ocr_corrector_spark.sources.transcripts import gen_transcripts


@pytest.fixture(scope="module")
def corrected(spark):
    df = gen_transcripts(spark, n_convs=150, keep_oracle_cols=True)
    out = correct_pipeline(df, spark)
    rows = out.select(
        "conv_id",
        "turn_idx",
        "tool",
        "text",
        "text_corrected",
        "text_clean",
        "text_noisy",
        "probs",
        "is_html",
    ).collect()
    assert len(rows) > 500
    return rows


def test_per_turn_equality_vs_oracle(corrected):
    """Every turn must equal the reference-semantics oracle run row-by-row."""
    kw = KeywordOracle(similarity_threshold=0.55)
    bert = BertOracle()
    mismatches = []
    for r in corrected:
        text = extract_main_content(r.text) if r.is_html else r.text
        oracle = kw if r.tool == "report" else bert
        expected = oracle.correct_row(text, list(r.probs) if r.probs is not None else None)
        if expected != r.text_corrected:
            mismatches.append((r.conv_id, r.turn_idx, text, r.text_corrected, expected))
    assert not mismatches, f"{len(mismatches)} mismatches, first: {mismatches[:3]}"


def test_designed_corrections_reach_clean_text(corrected):
    """Rows built from golden pairs whose correction is designed to succeed
    must equal the clean text (FIXTURES.md §5-6)."""
    correctable = {
        "我爱北京大安门",
        "本着平等、白愿、诚信、互利的原则，一致同意本合同内容，并共同遵守。",
        "无效、重大暇疵或不符合乙方其他规定的债权资产，乙方有权拒绝，不子初始登",
        "宋还本全",
        "数期大",
        "术还本金",
    }
    seen = set()
    for r in corrected:
        if r.text_noisy in correctable:
            assert r.text_corrected == r.text_clean, (
                r.text_noisy,
                r.text_corrected,
                r.text_clean,
            )
            seen.add(r.text_noisy)
    assert seen == correctable  # datagen covered every golden


def test_guarded_rows_unchanged(corrected):
    """Digit-guard / traditional-guard / filter pass-through rows stay put."""
    for r in corrected:
        if r.text_noisy in ("逾期3天要还", "一万个文本", "settlement ok", "账户状态"):
            inner = extract_main_content(r.text) if r.is_html else r.text
            assert r.text_corrected == inner


def test_extraction_recovers_inner_text(corrected):
    for r in corrected:
        if r.is_html:
            assert extract_main_content(r.text) == r.text  # pipeline already extracted
            assert "<html>" not in r.text


def test_output_is_turn_ordered(corrected):
    """Stable (conv_id, turn_idx) ordering within the collected output —
    order_turns' range partitioning yields globally sorted partitions."""
    keys = [(r.conv_id, r.turn_idx) for r in corrected]
    assert keys == sorted(keys)


def test_partitioning_invariance(spark):
    """Repartitioning the input never changes the corrected multiset
    (base_corrector.py:88-94 order-identity analog at scale)."""
    df = gen_transcripts(spark, n_convs=40)
    out1 = correct_pipeline(df, spark, order_output=False)
    out2 = correct_pipeline(df.repartition(17), spark, order_output=False)
    a = sorted(
        out1.select("conv_id", "turn_idx", "text_corrected").collect()
    )
    b = sorted(
        out2.select("conv_id", "turn_idx", "text_corrected").collect()
    )
    assert a == b


def test_changed_rows_only_contains_real_changes(spark):
    df = gen_transcripts(spark, n_convs=40)
    out = changed_rows(correct_pipeline(df, spark, order_output=False))
    bad = out.filter(F.col("text") == F.col("text_corrected")).count()
    assert bad == 0
    assert out.count() > 0


def test_no_rows_lost(spark):
    df = gen_transcripts(spark, n_convs=40)
    n_in = df.count()
    out = correct_pipeline(df, spark, order_output=False)
    assert out.count() == n_in
    assert out.filter(F.col("text_corrected").isNull()).count() == 0


def test_staged_pandas_udfs_equal_the_single_crossing(spark):
    """Extraction and correction as separate pandas UDFs over native
    detection columns agree per turn with the default plan's one crossing
    (their modules import pandas only where these UDFs are built)."""
    from ocr_corrector_spark.operators.correct import with_dispatched_correction
    from ocr_corrector_spark.operators.detect import (
        eligible_bert,
        eligible_keyword,
        err_positions,
    )
    from ocr_corrector_spark.operators.extract import with_extraction

    df = gen_transcripts(spark, n_convs=30)
    text, is_report = F.col("text"), F.col("tool") == F.lit("report")
    eligible = F.when(is_report, eligible_keyword(text)).otherwise(eligible_bert(text))
    detected = with_extraction(df).withColumn("err_pos", err_positions(text, F.col("probs")))
    detected = detected.withColumn(
        "corr_mode",
        F.when(~eligible | (F.size("err_pos") == 0), F.lit(0))
        .when(is_report, F.lit(1))
        .otherwise(F.lit(2)),
    )
    cols = ("conv_id", "turn_idx", "text_corrected")
    staged = with_dispatched_correction(detected, spark=spark).select(*cols).collect()
    single = correct_pipeline(df, spark, order_output=False).select(*cols).collect()
    assert len(staged) > 100
    assert sorted(staged) == sorted(single)
