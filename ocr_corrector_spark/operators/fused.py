"""``fused_correct``: extraction → detection → correction on an unordered
frame — ``correct_pipeline(order_output=False)``, the default plan's
single Arrow crossing (operators/correct.single_pass_udf)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.pipeline import correct_pipeline
from .correct import CorrectionConfig


def fused_correct(
    df: DataFrame,
    spark: SparkSession | None = None,
    cfg: CorrectionConfig | None = None,
) -> DataFrame:
    """Adds ``text_corrected`` and rewrites ``text`` with extracted text."""
    return correct_pipeline(df, spark, cfg, order_output=False)
