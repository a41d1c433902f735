#!/usr/bin/env python3
"""Cluster job entrypoint — the spark-submit form of the flagship pipeline.

On a real cluster::

    zip -r engine.zip ocr_corrector_spark
    spark-submit --py-files engine.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        scripts/run_job.py \
        --input  <iceberg-or-parquet transcripts table/path> \
        --output <output path> \
        --audit  <audit table path> \
        --watermarks <checkpoint path> \
        --run-id r1 --buckets 256

Resumable: re-submitting with the same --run-id skips committed buckets
(plans/checkpoint.py); output converges to the clean-run result via
dynamic partition overwrite.  In this sandbox it runs on local[N] against
the synthetic generator when --input is omitted.
"""

from __future__ import annotations

import argparse
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_corrector_spark.operators.correct import SCORER_BACKENDS  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None, help="transcripts feed path (default: synthetic)")
    ap.add_argument(
        "--input-format",
        choices=("parquet", "json", "csv"),
        default="parquet",
        help="feed format; JSON/CSV read through explicit wire schemas "
        "into the canonical transcripts schema (sources/formats.py)",
    )
    ap.add_argument("--output", required=True)
    ap.add_argument("--audit", required=True)
    ap.add_argument("--watermarks", required=True)
    ap.add_argument("--run-id", default="run-1")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--n-convs", type=int, default=10000, help="synthetic scale if no --input")
    ap.add_argument(
        "--scorer-table",
        default=None,
        help="parquet path of an offline-trained scorer table "
        "(operators/confusion.scorer_table_from_stats output: wrong_char, "
        "correct_char, prob, rk) replacing the built-in confusion table",
    )
    ap.add_argument(
        "--scorer-backend",
        choices=SCORER_BACKENDS,
        default="table",
        help="masked-LM backend: char-keyed table, the tokenize→frame→"
        "score context-aware path (functions/framed_scorer.py), or the "
        "committed pure-numpy masked LM (functions/numpy_lm.py — real "
        "checkpoint load + forward pass + top-k)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from ocr_corrector_spark.operators.correct import correction_config
    from ocr_corrector_spark.plans.audit import write_audit
    from ocr_corrector_spark.plans.checkpoint import CheckpointedRun
    from ocr_corrector_spark.plans.pipeline import correct_pipeline

    spark = SparkSession.builder.appName("ocr-correct-job").getOrCreate()
    if spark.sparkContext.master.startswith("local") and args.input is None:
        from ocr_corrector_spark.sources.transcripts import gen_transcripts

        df = gen_transcripts(spark, n_convs=args.n_convs)
    else:
        from ocr_corrector_spark.sources.formats import read_transcripts

        df = read_transcripts(spark, args.input, format=args.input_format)

    run = CheckpointedRun(
        run_id=args.run_id,
        output_path=args.output,
        watermark_path=args.watermarks,
        n_buckets=args.buckets,
    )

    scorer_table = None
    if args.scorer_table:
        from ocr_corrector_spark.assets.scorer_table import scorer_table_from_df

        scorer_table = scorer_table_from_df(spark.read.parquet(args.scorer_table))

    cfg = correction_config(scorer_backend=args.scorer_backend, scorer_table=scorer_table)

    def transform(d):
        return correct_pipeline(d, spark, cfg, keep_mode_col=True)

    # Audit as a post-write hook: the wave's frame is persisted across the
    # output write and both audit actions, so the correction UDF runs once
    # per wave (not 3x).
    done = run.run(
        spark,
        df,
        transform,
        post_write=lambda out, wave: write_audit(
            out, args.run_id, args.audit, wave=wave
        ),
    )
    print(f"completed {done} buckets (run_id={args.run_id})")
    spark.stop()


if __name__ == "__main__":
    main()
