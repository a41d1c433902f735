"""End-to-end correction plan (SURVEY.md §3 EP2, Spark shape).

Physical stage order (chosen from .explain — see BENCH/PLANS.md):

  scan → repartitionByRange([bucket,] conv_id, turn_idx) + sortWithinPartitions
       → ONE scalar Arrow UDF (text, probs, biz)
         → struct<text, corr_mode, text_corrected>
         (the probs-threshold key → extraction → eligibility →
         dispatched correction)
       → native unpack of the struct

Ordering runs FIRST, on the cheap scan: a range shuffle placed after the
UDF would re-execute it once more for range-boundary sampling, and the
UDF stage is narrow (row-order preserving), so sorting the input yields
sorted output for free.  Range partitioning (vs hash) splits skewed
conv_ids across contiguous partitions — no hot executor.

One crossing per turn: only the three UDF inputs travel to Python; ``ts``
and every other column stay in the JVM.  ``probs`` crosses whole, and the
worker thresholds it with numpy over the batch's Arrow buffers
(operators/correct._err_keys): the native twin, detect.err_prob_key, is a
higher-order ``filter`` that Spark does not compile, so it ran element by
element in the JVM's interpreter.  The per-biz
dispatch mirrors the reference's corrector registry
(corrector/__init__.py:20-38: biz 'report' → keyword corrector, 'doc' →
BERT corrector) inside that one UDF — no DataFrame split/merge (the
reference's insert-by-index post_process, base_corrector.py:88-94, is
replaced by key ordering).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.correct import (
    CorrectionConfig,
    correction_config,
    single_pass_udf,
    unpack_result,
)
from ..operators.detect import err_prob_key
from ..operators.reassemble import order_turns


def correct_pipeline(
    df: DataFrame,
    spark: SparkSession,
    cfg: CorrectionConfig | None = None,
    order_output: bool = True,
    keep_mode_col: bool = False,
    row_counter=None,
    dedup_correction: bool = False,
) -> DataFrame:
    """Adds ``text_corrected`` (+ ``text`` rewritten by extraction, and
    ``corr_mode`` 0 pass / 1 keyword / 2 bert with ``keep_mode_col``).

    ``cfg``: the operators/correct.correction_config value (``None`` is
    ``correction_config()``); it selects the masked-LM backend — the
    char-keyed table (default), an offline-trained table, the
    context-aware framed path or the committed pure-numpy masked LM — and
    its docstring documents each option.

    ``row_counter``: optional accumulator counting the rows the Python
    UDF sees (once per row; once per distinct triple with dedup).

    ``dedup_correction``: run the Python stage once per UNIQUE input
    cluster-wide.  The UDF is a pure function of the
    ``(text, err_prob_key(probs), biz)`` triple, so the dedup plan calls
    it on ``distinct`` triples only and hash-joins the results back
    (SHUFFLE_HASH: the build side is the unique-triple table; a
    sort-merge join would sort both sides by the wide text key, and a
    broadcast would serialize the table through the driver).  The
    per-worker memo's hit rate FALLS as parallelism rises (copies of a
    text scatter across more workers), so the default plan's total Python
    compute grows with cluster width on repetitive corpora; this plan
    moves the dedup from the worker memo into Catalyst, making compute
    width- and layout-invariant.  Output ordering runs AFTER the join
    (the join reshuffles rows; range-boundary sampling re-executes only
    the JVM join merge, never the Python stage, which lives on the build
    side behind the shuffle).  Rows and values are bit-identical to the
    default path (tests/test_dedup_correction.py)."""
    udf = single_pass_udf(cfg or correction_config(), spark, row_counter)
    if dedup_correction:
        out = _dedup_join(df, udf)
    else:
        df = order_turns(df) if order_output else df
        out = df.withColumn("_corr", udf(F.col("text"), F.col("probs"), F.col("tool")))
    out = unpack_result(out, "_corr")
    if dedup_correction and order_output:
        out = order_turns(out)
    return out if keep_mode_col else out.drop("corr_mode")


def _dedup_join(df: DataFrame, udf) -> DataFrame:
    """correct_pipeline's dedup_correction=True body — see its docstring.

    The dedup key is ``(text, err_prob_key(probs), tool)`` — NOT the raw
    probs array: detection depends on probs only through its
    sub-threshold index set plus the null flag (the identity pinned in
    operators/detect.err_prob_key), so the key is exact while staying a
    few ints wide instead of one double per character — the probs arrays
    never enter the distinct, the shuffle, or the join hash tables.  The
    UDF's struct result rides the join as one column, ``_corr``, which
    correct_pipeline unpacks after it."""
    df = df.withColumn("_errk", err_prob_key(F.col("probs")))
    uniq = df.select(
        F.col("text").alias("_u_text"),
        F.col("_errk").alias("_u_errk"),
        F.col("tool").alias("_u_biz"),
    ).distinct()
    uniq = uniq.withColumn("_corr", udf("_u_text", "_u_errk", "_u_biz"))
    cond = (
        F.col("text").eqNullSafe(F.col("_u_text"))
        & F.col("_errk").eqNullSafe(F.col("_u_errk"))
        & F.col("tool").eqNullSafe(F.col("_u_biz"))
    )
    return df.join(uniq.hint("SHUFFLE_HASH"), cond, "left").drop(
        "_errk", "_u_text", "_u_errk", "_u_biz"
    )


def changed_rows(df: DataFrame) -> DataFrame:
    """The demo.py:67-70 diff report: rows the corrector changed."""
    return df.filter(F.col("text") != F.col("text_corrected"))


def flagship(spark: SparkSession, n_convs: int = 200) -> DataFrame:
    """Flagship query: generate the synthetic transcripts table, run
    extraction + correction, return changed rows in stable turn order."""
    from ..sources.transcripts import gen_transcripts

    df = gen_transcripts(spark, n_convs=n_convs)
    out = correct_pipeline(df, spark)
    return changed_rows(out).select(
        "conv_id", "turn_idx", "role", "tool", "text", "text_corrected"
    )
