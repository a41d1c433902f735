"""Scorer backends at the pipeline level: the framed (T11/T12-wired)
backend, and the offline-trained scorer table (the run_job --scorer-table
path: scorer_table_from_stats parquet → scorer_table_from_df dict →
broadcast into the correction UDF)."""

import datetime

import pytest

from ocr_corrector_spark.assets.scorer_table import (
    SCORER_TABLE,
    scorer_table_from_df,
)
from ocr_corrector_spark.operators.correct import correction_config
from ocr_corrector_spark.plans.pipeline import correct_pipeline
from ocr_corrector_spark.sources.transcripts import gen_transcripts

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "probs array<double>, ts timestamp"
)


@pytest.fixture(scope="module")
def small(spark):
    df = gen_transcripts(spark, n_convs=40).cache()
    df.count()
    return df


def _collect(df):
    return sorted(df.select("conv_id", "turn_idx", "text_corrected").collect())


def test_framed_backend_equals_table_backend(spark, small):
    """With an empty context-bigram table the framed backend must produce
    per-turn identical output to the char-keyed scorer over the full
    synthetic table (VERDICT r01 item 3's equality contract)."""
    base = _collect(correct_pipeline(small, spark, order_output=False))
    framed = _collect(
        correct_pipeline(
            small,
            spark,
            correction_config(scorer_backend="framed", context_bigrams={}),
            order_output=False,
        )
    )
    assert framed == base


def test_framed_backend_context_bigram_end_to_end(spark):
    """The (太, 阳) context bigram flips 大→太 only when 阳 follows — visible
    at the DataFrame level through the framed backend, impossible for the
    char-keyed one."""
    rows = [
        ("c1", 0, "user", "我爱大阳升起", "doc",
         [0.99, 0.99, 0.55, 0.99, 0.99, 0.99],
         datetime.datetime(2026, 1, 1, 12, 0, 0)),
        ("c1", 1, "user", "我爱北京大安门", "doc",
         [0.99, 0.99, 0.99, 0.99, 0.55, 0.99, 0.99],
         datetime.datetime(2026, 1, 1, 12, 0, 1)),
    ]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    out = {
        r.turn_idx: r.text_corrected
        for r in correct_pipeline(
            df, spark, correction_config(scorer_backend="framed"), order_output=False
        ).collect()
    }
    assert out[0] == "我爱太阳升起"
    assert out[1] == "我爱北京天安门"
    # the char-keyed backend cannot see the context: both become 天
    base = {
        r.turn_idx: r.text_corrected
        for r in correct_pipeline(df, spark, order_output=False).collect()
    }
    assert base[0] == "我爱天阳升起"
    assert base[1] == "我爱北京天安门"


def test_trained_scorer_table_round_trip_and_equality(spark, small, tmp_path):
    """Dict-driven == parquet-table-driven (the --scorer-table CLI path):
    encode the built-in table in scorer_table_from_stats' schema, round-trip
    through parquet, and assert identical pipeline output."""
    rows = [
        (w, c, float(p), i + 1)
        for w, cands in SCORER_TABLE.items()
        for i, (c, p) in enumerate(cands)
    ]
    stats = spark.createDataFrame(
        rows, "wrong_char string, correct_char string, prob double, rk int"
    )
    path = str(tmp_path / "scorer_table")
    stats.write.mode("overwrite").parquet(path)
    table = scorer_table_from_df(spark.read.parquet(path))
    assert table == {k: list(v) for k, v in SCORER_TABLE.items()}

    base = _collect(correct_pipeline(small, spark, order_output=False))
    dict_run = _collect(
        correct_pipeline(
            small,
            spark,
            correction_config(scorer_table=dict(SCORER_TABLE)),
            order_output=False,
        )
    )
    table_run = _collect(
        correct_pipeline(
            small, spark, correction_config(scorer_table=table), order_output=False
        )
    )
    assert table_run == dict_run == base


def test_custom_scorer_table_fully_replaces_builtin(spark):
    """A custom table must not leak built-in candidates for chars it does
    not cover: 白 absent from the custom table → identity default → no
    correction (vs built-in 白→自)."""
    rows = [
        ("c1", 0, "user", "本着平等、白愿、诚信、互利的原则", "doc",
         [0.99] * 5 + [0.55] + [0.99] * 10,
         datetime.datetime(2026, 1, 1, 12, 0, 0)),
    ]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    out = correct_pipeline(
        df, spark, correction_config(scorer_table={"大": [("天", 0.7)]}),
        order_output=False,
    ).collect()[0]
    assert out.text_corrected == out.text  # 白 not corrected



@pytest.mark.parametrize("backend", ["bert", "Framed", ""])
def test_unknown_scorer_backend_is_rejected(backend):
    """An unknown backend name must fail at config time, not silently run
    the table backend."""
    with pytest.raises(ValueError, match="scorer_backend"):
        correction_config(scorer_backend=backend)
