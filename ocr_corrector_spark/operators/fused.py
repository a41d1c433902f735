"""``fused_correct``: extraction → detection → correction on an unordered
frame, in the default plan's single Arrow crossing
(operators/correct.with_single_pass_correction)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .correct import CorrectionConfig, with_single_pass_correction


def fused_correct(
    df: DataFrame,
    spark: SparkSession | None = None,
    cfg: CorrectionConfig | None = None,
) -> DataFrame:
    """Adds ``text_corrected`` and rewrites ``text`` with extracted text;
    equal per turn to ``correct_pipeline(order_output=False)``."""
    return with_single_pass_correction(df, cfg, spark).drop("corr_mode")
