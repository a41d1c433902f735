"""dedup_correction=True must be bit-identical to the default path.

The dedup plan (distinct (text, err_prob_key, biz) → the correction UDF
once → null-safe hash join back → order at the end) is a pure execution-strategy change:
every output row, value, and — with order_output=True — the output order
must equal the default per-row path exactly, including null texts,
pass-through (mode 0) rows, and duplicated texts spanning conversations.
"""

import pytest
from pyspark.sql import functions as F

from ocr_corrector_spark.plans.pipeline import correct_pipeline
from ocr_corrector_spark.sources.transcripts import gen_transcripts


OUT_COLS = ["conv_id", "turn_idx", "role", "tool", "text", "text_corrected"]


def _run(spark, df, **kw):
    out = correct_pipeline(df, spark, **kw).select(*OUT_COLS)
    return [tuple(r) for r in out.collect()]


@pytest.fixture(scope="module")
def frame(spark):
    # synthetic transcripts are duplicate-heavy by construction (boilerplate
    # turns); persist so both plans read identical input
    df = gen_transcripts(spark, n_convs=120, seed=11).persist()
    df.count()
    yield df
    df.unpersist()


def test_rows_identical_unordered(spark, frame):
    base = _run(spark, frame, order_output=False)
    dedup = _run(spark, frame, order_output=False, dedup_correction=True)
    assert sorted(base) == sorted(dedup)


def test_order_identical(spark, frame):
    base = _run(spark, frame, order_output=True)
    dedup = _run(spark, frame, order_output=True, dedup_correction=True)
    assert base == dedup


def test_null_and_passthrough_rows(spark):
    # craft rows the join's null-safe keys must handle: null text, empty
    # text, and a mode-0 pass-through duplicate
    rows = [
        ("c1", 0, "user", "report", None, [0.99]),
        ("c1", 1, "user", "report", "", [0.99]),
        ("c1", 2, "user", "doc", "plain ok turn", [0.99, 0.99, 0.99]),
        ("c2", 0, "user", "doc", "plain ok turn", [0.99, 0.99, 0.99]),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, tool string, "
        "text string, probs array<double>"
    )
    base = _run(spark, df, order_output=True)
    dedup = _run(spark, df, order_output=True, dedup_correction=True)
    assert base == dedup
    # null text passes through as null; duplicates correct identically
    by_key = {(r[0], r[1]): r[5] for r in dedup}
    assert by_key[("c1", 0)] is None
    assert by_key[("c1", 2)] == by_key[("c2", 0)]


@pytest.mark.parametrize("width", [2, 16], ids=["w2", "w16"])
def test_udf_runs_once_per_distinct_triple(spark, frame, width):
    """Python work is exact and width-invariant: at 2 and at 16 partitions
    the dedup plan sends each distinct (text, err_prob_key, tool) triple
    into the correction UDF exactly once, and the default plan each row
    exactly once.  The counter adds the Arrow rows entering the UDF, not
    kernel evaluations: the per-worker memo outlives a job in a reused
    worker, so kernel counts would depend on test order."""
    from ocr_corrector_spark.operators.detect import err_prob_key

    n_rows = frame.count()
    n_uniq = (
        frame.select("text", err_prob_key(F.col("probs")), "tool").distinct().count()
    )
    assert n_uniq < n_rows  # the fixture is duplicate-heavy, else no test
    df = frame.repartition(width)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        seen = {}
        for dedup in (True, False):
            counter = spark.sparkContext.accumulator(0)
            # aggregate the UDF's output: a bare count() prunes the UDF
            correct_pipeline(
                df, spark, dedup_correction=dedup, row_counter=counter
            ).agg(F.sum(F.length("text_corrected"))).collect()
            seen[dedup] = counter.value
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert seen == {True: n_uniq, False: n_rows}


def test_err_prob_key_identity(spark):
    # err_positions(text, probs) == err_from_key(text, err_prob_key(probs))
    # across the edge cases the dedup join key must encode exactly
    from ocr_corrector_spark.operators.detect import (
        err_from_key,
        err_positions,
        err_prob_key,
    )

    rows = [
        ("abc", [0.99, 0.5, 0.99]),
        ("abc", None),               # null probs -> every position
        ("", None),                  # null probs, empty text -> empty
        ("abc", []),                 # empty probs -> empty
        ("abcd", [0.1, 0.1]),        # probs shorter than text
        ("ab", [0.95, 0.91, 0.2]),   # probs longer than text
    ]
    df = spark.createDataFrame(rows, "text string, probs array<double>")
    got = df.select(
        err_positions(F.col("text"), F.col("probs")).alias("direct"),
        err_from_key(
            F.col("text"), err_prob_key(F.col("probs"))
        ).alias("via_key"),
    ).collect()
    for r in got:
        assert r["direct"] == r["via_key"], (r["direct"], r["via_key"])


@pytest.mark.parametrize(
    "backend",
    [
        {},
        {"scorer_backend": "framed"},
        {"scorer_backend": "framed", "context_bigrams": {}},
        {"scorer_backend": "lm"},
        {"scorer_table": {"大": [("太", 0.7)]}},
    ],
    ids=["table", "framed", "framed-no-bigrams", "lm", "custom-table"],
)
def test_plans_agree_for_every_backend(spark, backend):
    """default == dedup == fused_correct per turn, for each scorer backend,
    including null text with low probs and a context-bigram row."""
    import datetime as dt

    from ocr_corrector_spark.operators.correct import correction_config
    from ocr_corrector_spark.operators.fused import fused_correct

    t = dt.datetime(2026, 1, 1)
    extra = spark.createDataFrame(
        [
            ("x", 0, "user", None, "doc", t, [0.5, 0.5, 0.5]),
            ("x", 1, "user", "大阳高照呀", "doc", t, [0.5, 1.0, 1.0, 1.0, 1.0]),
            ("x", 2, "user", "大安门广场", "doc", t, None),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, probs array<double>",
    )
    df = gen_transcripts(spark, n_convs=40, seed=5).unionByName(extra)

    def rows(out):
        return sorted(
            tuple(r) for r in out.select("conv_id", "turn_idx", "text", "text_corrected").collect()
        )

    cfg = correction_config(**backend)
    default = rows(correct_pipeline(df, spark, cfg, order_output=False))
    dedup = rows(correct_pipeline(df, spark, cfg, order_output=False, dedup_correction=True))
    fused = rows(fused_correct(df, spark, cfg))
    assert default == dedup == fused
    assert any(r[2] != r[3] for r in default)  # some row was corrected
