"""Per-layer metrics (``--trace 1``), measured from outside the package by
timing calls into its public functions.

* A ladder on one input adds one layer per rung: scan (``sources``) →
  ``order_turns`` → ``with_extraction`` → native detection columns →
  ``with_dispatched_correction``.  A layer's time is its rung's increment.
* The full staged plan, the fused plan and the dedup plan each run on
  their own input of the same shape and size, so no plan meets rows an
  earlier call left in the correction memo (beyond ``dup_heavy``'s
  seed-independent corpus rows); ``pipeline.residual_s`` is the full plan
  minus the ladder's top rung.
* Kernel bodies are timed on one core in this process, uncached, on the
  ladder input's sampled turns.  A layer's boundary cost is its increment
  minus kernel CPU / cores.  Correction kernel CPU is counted once per
  distinct memo key, so ``correct.boundary_s`` is an upper bound.
* ``CheckpointedRun.run`` writes the checkpoint input with the per-wave
  ``write_audit`` hook that ``scripts/run_job.py`` uses, but into
  ``CheckpointedRun``'s default 16 buckets in one wave rather than 64
  buckets in four, which took a traced run close to three minutes.
  Overwrites across waves are left to the package's tests.
* GC time, shuffle bytes and the bytes each Arrow UDF sent to Python come
  from Spark's REST API, attributed by job group.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from ocr_corrector_spark.assets.scorer_table import topn_candidates
from ocr_corrector_spark.functions.correct_kernels import bert_correct_one, keyword_correct_one
from ocr_corrector_spark.functions.rules import find_err_pos_by_prob
from ocr_corrector_spark.operators.correct import with_dispatched_correction
from ocr_corrector_spark.operators.detect import eligible_bert, eligible_keyword, err_positions
from ocr_corrector_spark.operators.extract import extract_any, with_extraction
from ocr_corrector_spark.operators.fused import fused_correct
from ocr_corrector_spark.operators.reassemble import order_turns
from ocr_corrector_spark.plans.audit import read_audit, write_audit
from ocr_corrector_spark.plans.checkpoint import CheckpointedRun
from ocr_corrector_spark.plans.pipeline import correct_pipeline
from ocr_corrector_spark.sources.formats import read_transcripts

from .checks import collect_output, problems
from .inputs import fingerprint, read_rows
from .probes import SparkRest

CKPT_BUCKETS = 16
KERNEL_MIN_S = 0.3
INPUTS = ("ladder", "pipeline", "fused", "dedup", "checkpoint")


def detect_frame(df):
    """The native detection columns, composed as ``correct_pipeline`` does."""
    text = F.col("text")
    is_report = F.col("tool") == F.lit("report")
    eligible = F.when(is_report, eligible_keyword(text)).otherwise(eligible_bert(text))
    df = df.withColumn("err_pos", err_positions(text, F.col("probs")))
    return df.withColumn(
        "corr_mode",
        F.when(~eligible | (F.size("err_pos") == 0), F.lit(0))
        .when(is_report, F.lit(1))
        .otherwise(F.lit(2)),
    )


def _timed(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        out = fn()
        return time.perf_counter() - t0, out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _us_per_call(fn, args: list) -> float:
    """Mean wall time of ``fn(*a)`` over ``args``, repeated to KERNEL_MIN_S."""
    if not args:
        return 0.0
    calls, t0 = 0, time.perf_counter()
    while True:
        for a in args:
            fn(*a)
        calls += len(args)
        elapsed = time.perf_counter() - t0
        if elapsed >= KERNEL_MIN_S:
            return elapsed / calls * 1e6


def _kernels(oracle, expected: dict) -> dict:
    kw, bert = oracle.keyword, oracle.bert
    routed = {"keyword": [], "bert": []}
    for e in expected.values():
        if e["route"] in routed:
            err = find_err_pos_by_prob(e["probs"]) if e["probs"] is not None else list(range(len(e["text"])))
            routed[e["route"]].append((e["text"], err))
    return {
        "extract": _us_per_call(extract_any, [(e["raw"],) for e in expected.values()]),
        "keyword": _us_per_call(
            lambda t, err: keyword_correct_one(t, err, kw.tree, kw.keywords, kw.char_sim, kw.similarity_threshold),
            routed["keyword"],
        ),
        "bert": _us_per_call(
            lambda t, err: bert_correct_one(t, err, bert.char_sim, topn_candidates, bert.topn),
            routed["bert"],
        ),
    }


def _checkpoint(b, path: str, expected: dict, n_rows: int) -> tuple[dict, list[str]]:
    spark = b.spark
    d = os.path.join(b.work, "checkpoint")
    run = CheckpointedRun(
        run_id="perfbench",
        output_path=os.path.join(d, "out"),
        watermark_path=os.path.join(d, "watermarks"),
        n_buckets=CKPT_BUCKETS,
    )
    audit_path = os.path.join(d, "audit")
    audit_s = []

    def post_write(out, wave):
        t0 = time.perf_counter()
        write_audit(out, run.run_id, audit_path, wave=wave)
        audit_s.append(time.perf_counter() - t0)

    run_s, done = _timed(
        spark,
        "checkpoint",
        lambda: run.run(
            spark,
            read_transcripts(spark, path),
            lambda df: correct_pipeline(df, spark, keep_mode_col=True),
            post_write=post_write,
            wave_size=CKPT_BUCKETS,
        ),
    )
    pending_s, pending = _timed(spark, "pending", lambda: run.pending_buckets(spark))
    found = problems(collect_output(spark.read.parquet(run.output_path)), n_rows, expected, ordered=False)
    if done != CKPT_BUCKETS or pending:
        found.append(f"{done} buckets completed, {len(pending)} not watermarked")
    audited = read_audit(spark, audit_path).agg(F.sum("n_rows")).first()[0]
    if audited != n_rows:
        found.append(f"audit sum(n_rows) {audited} != output rows {n_rows}")
    metrics = {
        "checkpoint.run_s": (run_s, "s"),
        "checkpoint.waves": (len(audit_s), "count"),
        "checkpoint.pending_s": (pending_s, "s"),
        "audit.write_s": (sum(audit_s), "s"),
    }
    return metrics, found


def trace_layers(b, setup: dict) -> tuple[dict, dict, dict]:
    """Returns (metrics, problems per checked output, report)."""
    spark = b.spark
    cores = b.host["cores"]
    rest = SparkRest(spark.sparkContext)
    paths = {name: b.new_input(b.rep_seed(i)) for i, name in enumerate(INPUTS)}
    rows = {name: read_rows(p) for name, p in paths.items()}
    fp = fingerprint(rows["ladder"])
    expected = {name: b.oracle.expect(r) for name, r in rows.items()}
    n_rows = {name: len(r) for name, r in rows.items()}
    del rows

    def src(name="ladder"):
        return read_transcripts(spark, paths[name])

    rungs = {
        "scan": lambda: src(),
        "order": lambda: order_turns(src()),
        "extract": lambda: with_extraction(order_turns(src())),
        "detect": lambda: detect_frame(with_extraction(order_turns(src()))),
    }
    rung_s = {}
    for name, build in rungs.items():
        extra = [F.col("corr_mode"), F.xxhash64("text", "err_pos").alias("key")] if name == "detect" else []
        rung_s[name], detect_table = _timed(spark, name, lambda: collect_output(build(), extra))
    rung_s["correct"], table = _timed(
        spark,
        "correct",
        lambda: collect_output(
            with_dispatched_correction(rungs["detect"](), spark=spark).drop("err_pos", "corr_mode")
        ),
    )
    checked = {"ladder": problems(table, n_rows["ladder"], expected["ladder"])}

    plans = {
        "pipeline": lambda: correct_pipeline(src("pipeline"), spark, order_output=True),
        "fused": lambda: fused_correct(order_turns(src("fused")), spark),
        "dedup": lambda: correct_pipeline(src("dedup"), spark, order_output=True, dedup_correction=True),
    }
    plan_s = {}
    for name, build in plans.items():
        plan_s[name], table = _timed(spark, name, lambda: collect_output(build()))
        checked[name] = problems(table, n_rows[name], expected[name])

    ckpt_metrics, checked["checkpoint"] = _checkpoint(b, paths["checkpoint"], expected["checkpoint"], n_rows["checkpoint"])

    parts = order_turns(src()).groupBy(F.spark_partition_id()).count().collect()
    part_rows = [r["count"] for r in parts]

    modes = detect_table.column("corr_mode").to_numpy()
    keys = detect_table.column("key").to_numpy()
    rows_mode = {m: int((modes == m).sum()) for m in (0, 1, 2)}
    distinct = {m: len(np.unique(keys[modes == m])) for m in (1, 2)}
    kern = _kernels(b.oracle, expected["ladder"])

    rest.settle()
    order_rest = rest.group_totals("order")
    pipe_rest = rest.group_totals("pipeline")
    # the staged plan evaluates two Arrow UDFs, extraction then correction;
    # a plan with one Python node reports that node as both
    nodes = pipe_rest["python"] or [{"sent_bytes": 0.0, "init_s": 0.0}]
    extract_udf, correct_udf = nodes[0], nodes[-1]

    inc = {
        "scan": rung_s["scan"],
        "order": rung_s["order"] - rung_s["scan"],
        "extract": rung_s["extract"] - rung_s["order"],
        "detect": rung_s["detect"] - rung_s["extract"],
        "correct": rung_s["correct"] - rung_s["detect"],
    }
    kernel_cpu_correct = (kern["keyword"] * distinct[1] + kern["bert"] * distinct[2]) / 1e6
    metrics = {
        "sources.scan_s": (inc["scan"], "s"),
        "reassemble.order_s": (inc["order"], "s"),
        "reassemble.shuffle_bytes": (order_rest["shuffle_write_bytes"], "bytes"),
        "reassemble.partition_skew": (max(part_rows) / statistics.median(part_rows), "ratio"),
        "extract.s": (inc["extract"], "s"),
        "extract.kernel_us_per_row": (kern["extract"], "us"),
        "extract.boundary_s": (inc["extract"] - kern["extract"] * n_rows["ladder"] / 1e6 / cores, "s"),
        "extract.rows_html": (fp["formats"]["html"], "count"),
        "extract.rows_layout": (fp["formats"]["layout"], "count"),
        "extract.rows_plain": (fp["formats"]["plain"], "count"),
        "detect.s": (inc["detect"], "s"),
        "detect.rows_mode0": (rows_mode[0], "count"),
        "detect.rows_mode1": (rows_mode[1], "count"),
        "detect.rows_mode2": (rows_mode[2], "count"),
        "correct.s": (inc["correct"], "s"),
        "correct.boundary_s": (inc["correct"] - kernel_cpu_correct / cores, "s"),
        "correct.keyword_us_per_row": (kern["keyword"], "us"),
        "correct.bert_us_per_row": (kern["bert"], "us"),
        "correct.rows_keyword": (rows_mode[1], "count"),
        "correct.rows_bert": (rows_mode[2], "count"),
        "correct.rows_pass": (rows_mode[0], "count"),
        "correct.distinct_ratio_keyword": (distinct[1] / rows_mode[1] if rows_mode[1] else 0.0, "ratio"),
        "correct.distinct_ratio_bert": (distinct[2] / rows_mode[2] if rows_mode[2] else 0.0, "ratio"),
        "pipeline.s": (plan_s["pipeline"], "s"),
        "pipeline.residual_s": (plan_s["pipeline"] - rung_s["correct"], "s"),
        "plans.fused_s": (plan_s["fused"], "s"),
        "plans.dedup_s": (plan_s["dedup"], "s"),
        **ckpt_metrics,
        "session.start_s": (statistics.median(setup["start_s"]), "s"),
        "session.warmup_s": (statistics.median(setup["warmup_s"]), "s"),
        "spark.gc_s": (pipe_rest["gc_s"], "s"),
        "spark.shuffle_write_bytes": (pipe_rest["shuffle_write_bytes"], "bytes"),
        "spark.python_bytes_extract": (extract_udf["sent_bytes"], "bytes"),
        "spark.python_bytes_correct": (correct_udf["sent_bytes"], "bytes"),
        "spark.python_init_s_extract": (extract_udf["init_s"], "s"),
        "spark.python_init_s_correct": (correct_udf["init_s"], "s"),
        "input.rows": (fp["rows"], "count"),
        "input.chars": (fp["chars"], "count"),
    }
    report = {"input": fp, "rungs_s": rung_s, "kernel_us": kern, "pipeline_rest": pipe_rest}
    return metrics, checked, report
