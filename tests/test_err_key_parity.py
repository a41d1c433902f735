"""The correction UDF's error key, read from ``probs`` in the worker, equals
the native ``operators/detect.err_prob_key`` row by row, and every plan
built on either key corrects each turn alike.

The frame's ``probs`` hold the values where a float comparison can go
wrong: a null array, an empty one, null elements, NaN, ±inf, −0.0,
exactly the threshold and the double just below it, and arrays longer
than the text; each test also runs on an ``array<float>`` copy, which
Spark widens to double before it compares."""

from __future__ import annotations

import datetime as dt
import math

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType

from ocr_corrector_spark.functions.rules import PROB_THRESHOLD
from ocr_corrector_spark.operators.correct import _err_keys
from ocr_corrector_spark.operators.detect import err_prob_key
from ocr_corrector_spark.operators.extract import extract_any
from ocr_corrector_spark.operators.fused import fused_correct
from ocr_corrector_spark.oracle import BertOracle, KeywordOracle
from ocr_corrector_spark.plans.pipeline import correct_pipeline

N_CONVS = 3
JUST_BELOW = math.nextafter(PROB_THRESHOLD, 0.0)
SENT = "我爱北京大安门"  # bert route: 大 → 天 at position 4
KW = "宋还本全"  # keyword route: → 未还本金 at positions 0 and 3


def _at(n: int, values: dict, fill: float = 0.99) -> list:
    return [values.get(i, fill) for i in range(n)]


# (text, tool, probs)
ROWS = [
    (SENT, "doc", None),
    (SENT, "doc", []),
    (SENT, "doc", _at(7, {4: None})),
    (SENT, "doc", _at(7, {2: None, 4: 0.56})),
    (SENT, "doc", _at(7, {4: math.nan})),
    (SENT, "doc", _at(7, {4: -math.inf})),
    (SENT, "doc", _at(7, {4: math.inf})),
    (SENT, "doc", _at(7, {4: -0.0})),
    (SENT, "doc", _at(7, {4: PROB_THRESHOLD})),
    (SENT, "doc", _at(7, {4: JUST_BELOW})),
    (SENT, "doc", _at(10, {4: 0.56, 9: 0.56})),  # longer than the text
    (SENT, "doc", _at(9, {4: 0.56})),  # longer, confident past the end
    (KW, "report", None),
    (KW, "report", [None, None]),
    (KW, "report", _at(4, {0: -0.0, 3: JUST_BELOW})),
    (KW, "report", _at(4, {0: PROB_THRESHOLD, 3: 0.56})),
    (KW, "report", _at(4, {0: -math.inf, 1: math.nan, 3: 0.0})),
    (KW, "report", _at(6, {0: 0.56, 3: 0.56, 5: 0.56})),
    (None, "doc", [0.5]),
    ("", "report", []),
]


def _frame(spark, element: str):
    t = dt.datetime(2026, 1, 1)
    rows = [
        (f"key-{c}", i, "user", text, tool, t, probs)
        for c in range(N_CONVS)
        for i, (text, tool, probs) in enumerate(ROWS)
    ]
    schema = (
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, probs array<double>"
    )
    df = spark.createDataFrame(rows, schema)
    return df.withColumn("probs", F.col("probs").cast(f"array<{element}>"))


@F.arrow_udf(ArrayType(IntegerType()))
def _worker_key(probs: pa.Array) -> pa.Array:
    keys = _err_keys(probs)
    return pa.array([None if k is None else list(k) for k in keys], pa.list_(pa.int32()))


@pytest.mark.parametrize("element", ["double", "float"])
def test_worker_key_equals_err_prob_key(spark, element):
    got = (
        _frame(spark, element)
        .select(
            "conv_id",
            "turn_idx",
            _worker_key("probs").alias("worker"),
            err_prob_key(F.col("probs")).alias("native"),
        )
        .collect()
    )
    assert len(got) == N_CONVS * len(ROWS)
    for r in got:
        assert r.worker == r.native, (ROWS[r.turn_idx], r.worker, r.native)
    keys = {r.turn_idx: r.native for r in got}
    assert keys[0] is None and keys[1] == [] and keys[9] == [4] and keys[10] == [4, 9]
    # 0.9 is not below itself in double; as a float it is 0.89999998
    assert keys[8] == ([] if element == "double" else [4])


def _per_turn(df, cols) -> dict:
    return {(r.conv_id, r.turn_idx): tuple(r[c] for c in cols) for r in df.collect()}


@pytest.mark.parametrize("element", ["double", "float"])
def test_plans_agree_on_every_key(spark, element):
    df = _frame(spark, element).persist()
    try:
        cols = ("text", "corr_mode", "text_corrected")
        default = _per_turn(correct_pipeline(df, spark, keep_mode_col=True), cols)
        dedup = _per_turn(
            correct_pipeline(df, spark, keep_mode_col=True, dedup_correction=True), cols
        )
        fused = _per_turn(fused_correct(df, spark), ("text", "text_corrected"))
    finally:
        df.unpersist()
    assert len(default) == N_CONVS * len(ROWS)
    assert default == dedup
    assert fused == {k: (v[0], v[2]) for k, v in default.items()}
    if element == "double":
        _assert_equals_the_oracle(default)


def _assert_equals_the_oracle(got: dict) -> None:
    """The oracle's detection compares ``None < 0.9`` and raises, so rows
    with null elements are left out."""
    kw, bert = KeywordOracle(similarity_threshold=0.55), BertOracle()
    checked = set()
    for i, (raw, tool, probs) in enumerate(ROWS):
        if probs is not None and None in probs:
            continue
        text = extract_any(raw)
        oracle = kw if tool == "report" else bert
        expected = None if text is None else oracle.correct_row(text, probs)
        for c in range(N_CONVS):
            _, _, corrected = got[(f"key-{c}", i)]
            assert corrected == expected, (ROWS[i], corrected, expected)
        if expected != text:
            checked.add(tool)
    assert checked == {"report", "doc"}
