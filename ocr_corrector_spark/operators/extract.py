"""Spark wrapper for the main-content extractors (HTML + PDF/layout).

The pure kernels live in functions/html_extract.py and
functions/layout_extract.py (pyspark-free, so the pickled UDF drags only
light modules into the Python workers); this module holds the
DataFrame-facing operator with per-row format dispatch:

* ``%LAYOUT`` documents → XY-cut layout analysis (reading order +
  header/footer strip);
* ``%PDF-`` byte streams → decode stub (NotImplementedError without a PDF
  library) → row passes through unchanged, mirroring the reference's
  row-level exception isolation (keyword_corrector.py:102-106);
* HTML → DOM text/link-density boilerplate strip;
* anything else → unchanged.

``extract_any`` is the pure kernel.  The correction plans call it inside
their single Arrow crossing (operators/correct._Corrector.correct_rows,
once per distinct input row per worker); ``with_extraction`` is the
standalone pandas UDF for callers that extract on their own.  Embarrassingly
parallel, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..functions.html_extract import extract_main_content
from ..functions.layout_extract import (
    LAYOUT_MAGIC,
    PDF_MAGIC,
    decode_pdf_bytes,
    extract_layout_content,
)

__all__ = ["extract_main_content", "extract_any", "with_extraction"]


def extract_any(text: str) -> str:
    """Format-dispatched main-content extraction (pure kernel)."""
    if text is None:
        return text
    if text.startswith(LAYOUT_MAGIC):
        return extract_layout_content(text)
    if text.startswith(PDF_MAGIC):
        # Per-row isolation contract (keyword_corrector.py:102-106): a bad
        # PDF row passes through, it never fails the task.  The encode is
        # inside the guard — binary PDF bytes read as UTF-8 text carry
        # U+FFFD replacement chars (or CJK) that latin-1 cannot encode.
        try:
            return extract_layout_content(decode_pdf_bytes(text.encode("latin-1")))
        except Exception:
            return text  # decode stub / undecodable bytes: pass through
    return extract_main_content(text)


def with_extraction(df: DataFrame, out_col: str = "text") -> DataFrame:
    """``extract_any`` of the ``text`` column, written to ``out_col``."""
    # imported here, not at module level, so that the single crossing's
    # workers never load pandas; bound as a module global because
    # pandas_udf resolves the hints below against the module's globals
    global pd
    import pandas as pd

    @F.pandas_udf(StringType())
    def extract_udf(text: pd.Series) -> pd.Series:
        return text.map(extract_any)

    return df.withColumn(out_col, extract_udf(F.col("text")))
