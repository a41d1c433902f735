"""The package API the benchmark (perfbench/) calls, checked without
Spark: the benchmark's modules import, and the call forms it uses bind to
the current signatures — so a signature change breaks here, not only in a
traced bench run."""

import inspect

from ocr_corrector_spark.operators.correct import with_dispatched_correction
from ocr_corrector_spark.operators.fused import fused_correct
from ocr_corrector_spark.plans.pipeline import correct_pipeline


def test_perfbench_modules_import():
    import perfbench.harness  # noqa: F401 — imports layers, checks, inputs, probes


def test_perfbench_call_forms_bind():
    df, spark = object(), object()
    inspect.signature(correct_pipeline).bind(df, spark, order_output=True, dedup_correction=True)
    inspect.signature(correct_pipeline).bind(df, spark, keep_mode_col=True)
    inspect.signature(with_dispatched_correction).bind(df, spark=spark)
    inspect.signature(fused_correct).bind(df, spark)
