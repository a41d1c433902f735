#!/usr/bin/env python3
"""Cluster job entrypoint — the spark-submit form of the flagship pipeline.

On a real cluster, with the package on the executors' PYTHONPATH (or
installed there) so that the worker daemon can import it::

    spark-submit \
        --conf spark.sql.shuffle.partitions=<total cores> \
        --conf spark.python.daemon.module=ocr_corrector_spark.pyworker \
        --conf spark.executorEnv.PYTHONPATH=<dir holding ocr_corrector_spark> \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        scripts/run_job.py \
        --input  <iceberg-or-parquet transcripts table/path> \
        --output <output path> \
        --audit  <ledger table path> \
        --run-id r1 --buckets 256

Resumable: re-submitting with the same --run-id skips the buckets that
have a row in the --audit ledger (plans/checkpoint.py); output converges
to the clean-run result via dynamic partition overwrite.  Under
spark-submit the job runs in the submitted session, master and confs as
given; started as ``python scripts/run_job.py`` (no master) it runs in
``get_spark``'s local session.  Without --input it corrects the
synthetic generator's table (--n-convs conversations).
"""

from __future__ import annotations

import argparse
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from ocr_corrector_spark.operators.correct import SCORER_BACKENDS  # noqa: E402
from ocr_corrector_spark.session import get_spark  # noqa: E402
from ocr_corrector_spark.sources.formats import FORMATS, read_transcripts  # noqa: E402

APP_NAME = "ocr-correct-job"


def job_session() -> SparkSession:
    """The submitted session under spark-submit, master and confs as
    given; ``get_spark``'s when started without a master (plain
    ``python``).  spark-submit starts this script with a gateway to its
    JVM already up (``PYSPARK_GATEWAY_PORT``, as PySpark itself checks)."""
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return SparkSession.builder.appName(APP_NAME).getOrCreate()
    return get_spark(app_name=APP_NAME)


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None, help="transcripts feed path (default: synthetic)")
    ap.add_argument(
        "--input-format",
        choices=FORMATS,
        default="parquet",
        help="feed format; JSON/CSV read through explicit wire schemas "
        "into the canonical transcripts schema, iceberg reads --input as a "
        "catalog table name (sources/formats.py)",
    )
    ap.add_argument("--output", required=True)
    ap.add_argument("--audit", required=True, help="ledger path: the run's per-bucket commit record")
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
    return ap


def main() -> None:
    args = build_parser().parse_args()

    from ocr_corrector_spark.operators.correct import correction_config
    from ocr_corrector_spark.plans.checkpoint import CheckpointedRun
    from ocr_corrector_spark.plans.pipeline import correct_pipeline

    spark = job_session()
    if args.input is None:
        from ocr_corrector_spark.sources.transcripts import gen_transcripts

        df = gen_transcripts(spark, n_convs=args.n_convs)
    else:
        df = read_transcripts(spark, args.input, format=args.input_format)

    run = CheckpointedRun(
        run_id=args.run_id,
        output_path=args.output,
        watermark_path=args.audit,
        n_buckets=args.buckets,
    )

    scorer_table = None
    if args.scorer_table:
        from ocr_corrector_spark.assets.scorer_table import scorer_table_from_df

        scorer_table = scorer_table_from_df(spark.read.parquet(args.scorer_table))

    cfg = correction_config(scorer_backend=args.scorer_backend, scorer_table=scorer_table)

    def transform(d):
        return correct_pipeline(d, spark, cfg, keep_mode_col=True)

    done = run.run(spark, df, transform)
    print(f"completed {done} buckets (run_id={args.run_id})")
    spark.stop()


if __name__ == "__main__":
    main()
