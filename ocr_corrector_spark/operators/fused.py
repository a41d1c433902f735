"""``fused_correct``: extraction → detection → correction on an unordered
frame, in the default plan's single Arrow crossing
(operators/correct.with_single_pass_correction)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..assets import KEYWORDS
from .correct import correction_config, with_single_pass_correction


def fused_correct(
    df: DataFrame,
    spark: SparkSession | None = None,
    biz_col: str = "tool",
    text_col: str = "text",
    out_col: str = "text_corrected",
    prob_threshold: float = 0.9,
    similarity_threshold: float = 0.55,
    topn: int = 3,
    keywords=KEYWORDS,
    scorer_table: dict | None = None,
    scorer_backend: str = "table",
    context_bigrams: dict | None = None,
    lm_checkpoint: str | None = None,
) -> DataFrame:
    """Adds ``out_col`` and rewrites ``text_col`` with extracted text;
    equal per turn to ``correct_pipeline(order_output=False)``."""
    cfg = correction_config(
        similarity_threshold, topn, keywords, scorer_backend,
        scorer_table, context_bigrams, lm_checkpoint,
    )
    return with_single_pass_correction(
        df, cfg, spark, biz_col, text_col, out_col, prob_threshold
    ).drop("corr_mode")
