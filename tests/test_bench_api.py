"""The package API its drivers call, checked without Spark: the
benchmark's modules import, and the call forms that perfbench/, bench.py,
scripts/run_job.py and a streaming caller use bind to the current
signatures — so a signature change breaks here, not only in a run."""

import dataclasses
import inspect
import os
import runpy

from ocr_corrector_spark.operators.correct import (
    CorrectionConfig,
    correction_config,
    with_dispatched_correction,
)
from ocr_corrector_spark.operators.fused import fused_correct
from ocr_corrector_spark.plans.audit import write_audit
from ocr_corrector_spark.plans.checkpoint import CheckpointedRun
from ocr_corrector_spark.plans.pipeline import correct_pipeline
from ocr_corrector_spark.sources.formats import FORMATS

DF, SPARK, CFG = object(), object(), object()


def test_perfbench_modules_import():
    import perfbench.harness  # noqa: F401 — imports layers, checks, inputs, probes


def test_perfbench_call_forms_bind():
    inspect.signature(correct_pipeline).bind(DF, SPARK, order_output=True, dedup_correction=True)
    inspect.signature(correct_pipeline).bind(DF, SPARK, keep_mode_col=True)
    inspect.signature(with_dispatched_correction).bind(DF, spark=SPARK)
    inspect.signature(fused_correct).bind(DF, SPARK)
    run = CheckpointedRun(run_id="r", output_path="o", watermark_path="w", n_buckets=16)
    inspect.signature(run.run).bind(
        SPARK, DF, lambda d: d, post_write=lambda out, wave: None, wave_size=16
    )
    inspect.signature(write_audit).bind(DF, "r", "a", wave=[0])


def test_bench_call_forms_bind():
    inspect.signature(correct_pipeline).bind(
        DF, SPARK, CFG, order_output=True, dedup_correction=True
    )
    inspect.signature(fused_correct).bind(DF, SPARK)
    inspect.signature(correction_config).bind(scorer_backend="lm")


def test_run_job_call_forms_bind():
    inspect.signature(correction_config).bind(scorer_backend="table", scorer_table=None)
    inspect.signature(correct_pipeline).bind(DF, SPARK, CFG, keep_mode_col=True)
    run = CheckpointedRun(run_id="r", output_path="o", watermark_path="w", n_buckets=8)
    inspect.signature(run.run).bind(SPARK, DF, lambda d: d)


def test_run_job_reads_every_format():
    run_job = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "run_job.py")
    parser = runpy.run_path(run_job)["build_parser"]()
    [input_format] = [a for a in parser._actions if a.dest == "input_format"]
    assert tuple(input_format.choices) == FORMATS


def test_streaming_call_form_binds():
    inspect.signature(correct_pipeline).bind(DF, SPARK, order_output=False)


def test_correction_config_takes_only_the_scorer():
    assert list(inspect.signature(correction_config).parameters) == [
        "scorer_backend",
        "scorer_table",
        "context_bigrams",
    ]
    assert [f.name for f in dataclasses.fields(CorrectionConfig)] == [
        "scorer_backend",
        "table",
        "bigrams",
    ]
