"""Per-partition lineage + correction metrics audit table
(BASELINE.json north_rule requirement; reference analog: the log-only
counters at base_corrector.py:58,71 promoted to real aggregates).

Audit rows are written per run: one row per physical partition
(``spark_partition_id``) of the audited frame with row/correction counts
and key ranges, plus a per-biz rollup.  In a checkpointed run that frame
is the wave's buckets read back from the output files, so a row covers
one partition of that scan.  The write is an append to a
run-id-partitioned parquet table (Iceberg-ready: swap ``.write`` for
``.writeTo`` when an Iceberg catalog is configured — this sandbox has no
Iceberg runtime jar).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _eligible_expr(df: DataFrame):
    # pipeline exports eligibility as corr_mode (0 pass / 1 keyword /
    # 2 bert) when called with keep_mode_col=True
    if "corr_mode" in df.columns:
        return F.sum((F.col("corr_mode") != 0).cast("long")).alias("n_eligible")
    return F.lit(None).cast("long").alias("n_eligible")


def partition_lineage(df: DataFrame, run_id: str) -> DataFrame:
    """One audit row per physical partition of the corrected DataFrame."""
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (F.col("text") != F.col("text_corrected")).cast("long")
            ).alias("n_corrected"),
            _eligible_expr(df),
            F.min("conv_id").alias("min_conv_id"),
            F.max("conv_id").alias("max_conv_id"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("_pid").alias("partition_id"),
            "n_rows",
            "n_corrected",
            "n_eligible",
            "min_conv_id",
            "max_conv_id",
            "min_ts",
            "max_ts",
            F.lit(int(time.time())).alias("created_at"),
        )
    )


def biz_rollup(df: DataFrame, run_id: str) -> DataFrame:
    """Correction metrics per biz/corrector route (`tool` column) — the
    reference's log-only counters (base_corrector.py:58,71) per registry
    entry."""
    return (
        df.groupBy("tool")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (F.col("text") != F.col("text_corrected")).cast("long")
            ).alias("n_corrected"),
            _eligible_expr(df),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            "tool",
            "n_rows",
            "n_corrected",
            "n_eligible",
            F.lit(int(time.time())).alias("created_at"),
        )
    )


def write_audit(
    df: DataFrame, run_id: str, audit_path: str, wave=None
) -> None:
    """Write lineage + per-biz rollup audit rows.

    ``wave`` (the checkpoint wave's bucket list, plans/checkpoint.py) makes
    the write idempotent per (run_id, wave): rows land in a wave-keyed
    partition via DYNAMIC partition overwrite, so a crash between the audit
    write and the watermark commit cannot double-count — the resumed wave
    overwrites its own audit partition and the invariant
    ``out_rows == audit sum(n_rows)`` holds across crash/replay, not just
    crash-free.  Without ``wave`` (standalone one-shot audits) the write is
    a plain append."""
    lineage = partition_lineage(df, run_id)
    rollup = biz_rollup(df, run_id)
    if wave is None:
        parts, mode = ["run_id"], "append"
    else:
        wave_id = int(min(wave))
        lineage = lineage.withColumn("wave", F.lit(wave_id))
        rollup = rollup.withColumn("wave", F.lit(wave_id))
        parts, mode = ["run_id", "wave"], "overwrite"
        df.sparkSession.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
    (
        lineage.repartition(1)
        .write.mode(mode)
        .partitionBy(*parts)
        .parquet(audit_path)
    )
    (
        rollup.repartition(1)
        .write.mode(mode)
        .partitionBy(*parts)
        .parquet(audit_path.rstrip("/") + "_biz")
    )


def read_audit(spark, audit_path: str) -> DataFrame:
    return spark.read.parquet(audit_path)
