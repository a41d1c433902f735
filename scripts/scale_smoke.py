#!/usr/bin/env python3
"""Large-input single-node scale smoke — committed artifact form.

Runs the REAL job path (CheckpointedRun waves + dynamic partition
overwrite + audit post_write hook) over a generator-synthesized transcript
table much larger than the bench inputs, on local[$SPARK_GRAFT_CPUS]
(default: the cores in the affinity mask), and records:

* corrected-turns/sec for the whole job (all waves, writes included);
* the memory-boundedness signals (no driver collect of data rows; input
  streamed from parquet; Arrow batches capped);
* the audit-consistency invariant: output rows == audit sum(n_rows);
* the single-execution invariant: the correction UDF saw each row exactly
  once (Spark accumulator), i.e. the audit hook adds ZERO recompute.

Writes BENCH/SCALE_SMOKE.md.  Scale via SMOKE_N_CONVS (default 2M convs
≈ 13M turns at the generator's ~6.5 turns/conv).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_convs = int(os.environ.get("SMOKE_N_CONVS", "2000000"))
    buckets = int(os.environ.get("SMOKE_BUCKETS", "64"))
    wave_size = int(os.environ.get("SMOKE_WAVE_SIZE", "32"))

    from pyspark.sql import functions as F

    from ocr_corrector_spark.plans.audit import write_audit
    from ocr_corrector_spark.plans.checkpoint import CheckpointedRun
    from ocr_corrector_spark.plans.pipeline import correct_pipeline
    from ocr_corrector_spark.session import get_spark
    from ocr_corrector_spark.sources.transcripts import gen_transcripts

    spark = get_spark(app_name="scale-smoke", shuffle_partitions=128)
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    work = tempfile.mkdtemp(prefix="scale_smoke_")
    in_dir = os.path.join(work, "input")
    # materialize the input first so the timed job measures the engine, not
    # the generator
    gen_transcripts(spark, n_convs=n_convs, seed=7).repartition(128).write.mode(
        "overwrite"
    ).parquet(in_dir)
    df = spark.read.parquet(in_dir)
    n_turns = df.count()

    acc = spark.sparkContext.accumulator(0)
    run = CheckpointedRun(
        run_id="smoke",
        output_path=os.path.join(work, "out"),
        watermark_path=os.path.join(work, "wm"),
        n_buckets=buckets,
    )
    audit_path = os.path.join(work, "audit")

    def transform(d):
        return correct_pipeline(
            d, spark, keep_mode_col=True, row_counter=acc
        )

    t0 = time.perf_counter()
    done = run.run(
        spark,
        df,
        transform,
        wave_size=wave_size,
        post_write=lambda out, wave: write_audit(out, "smoke", audit_path, wave=wave),
    )
    wall = time.perf_counter() - t0

    out_rows = spark.read.parquet(run.output_path).count()
    audit_rows = (
        spark.read.parquet(audit_path).agg(F.sum("n_rows")).collect()[0][0]
    )
    result = {
        "generated_utc": datetime.now(timezone.utc).isoformat(timespec="seconds"),
        "n_convs": n_convs,
        "n_turns": n_turns,
        "buckets_completed": done,
        "wall_sec": round(wall, 1),
        "corrected_turns_per_sec": round(n_turns / wall, 1),
        "out_rows": out_rows,
        "audit_sum_n_rows": audit_rows,
        "udf_rows_seen": acc.value,
        "invariant_rows_match": out_rows == n_turns == audit_rows,
        "invariant_single_udf_pass": acc.value == n_turns,
        "cpus": cpus,
    }
    print(json.dumps(result))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "SCALE_SMOKE.md"), "w") as f:
        f.write(
            f"""# Scale smoke — full job path at {n_turns:,} turns ({result['generated_utc'][:10]})

The complete production path (CheckpointedRun waves → dynamic partition
overwrite → audit post_write on the persisted wave) over a
{n_turns:,}-turn synthetic transcript table on local[{cpus}], input
pre-materialized to parquet (128 partitions).  No driver-side data
collect; Arrow batches capped at 10k rows; buckets give resume
granularity.

| metric | value |
|---|---|
| input turns | {n_turns:,} |
| buckets completed (waves of {wave_size}) | {done} |
| wall seconds (all waves, writes + audit included) | {result['wall_sec']} |
| corrected turns/sec | {result['corrected_turns_per_sec']:,} |
| output rows == input == audit sum(n_rows) | {result['invariant_rows_match']} |
| correction-UDF rows seen (accumulator) | {acc.value:,} |
| single UDF execution per row (audit adds zero recompute) | {result['invariant_single_udf_pass']} |
"""
        )
    spark.stop()


if __name__ == "__main__":
    main()
