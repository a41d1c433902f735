"""The checkpointed run's ledger: per-bucket lineage + correction metrics
(BASELINE.json north_rule requirement; reference analog: the log-only
counters at base_corrector.py:58,71 promoted to real aggregates).

One row per bucket of a wave: row/correction counts and key ranges, from
one aggregation over the wave's buckets read back from the output files.
The ledger is also the run's commit record (plans/checkpoint.py): a
bucket is committed if and only if its row exists.  The write is a
dynamic partition overwrite of a ``(run_id, wave)``-partitioned parquet
table (Iceberg-ready: swap ``.write`` for ``.writeTo`` when an Iceberg
catalog is configured; ``get_spark`` loads no Iceberg runtime jar).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# columns a transform may drop; a counter over a missing one is null
_OPTIONAL = (("text_corrected", "string"), ("corr_mode", "int"), ("ts", "timestamp"))


def write_audit(df: DataFrame, run_id: str, audit_path: str, wave) -> None:
    """Write the ledger rows of ``wave`` (a list of buckets): one row per
    bucket, ``n_rows = 0`` for a bucket ``df`` holds no rows of, so that
    an empty bucket is committed too.

    ``df`` is the wave's output read back; it has ``bucket``.  The rows
    land in a ``(run_id, wave)`` partition via DYNAMIC partition
    overwrite, so a replayed wave replaces its rows rather than adding to
    them, and ``out_rows == ledger sum(n_rows)`` holds across
    crash/replay, not just crash-free."""
    spark = df.sparkSession
    for name, dtype in _OPTIONAL:
        if name not in df.columns:
            df = df.withColumn(name, F.lit(None).cast(dtype))
    counts = df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("text") != F.col("text_corrected")).cast("long")).alias("n_corrected"),
        F.sum((F.col("corr_mode") != 0).cast("long")).alias("n_eligible"),
        F.min("conv_id").alias("min_conv_id"),
        F.max("conv_id").alias("max_conv_id"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )
    buckets = spark.createDataFrame([(int(b),) for b in wave], "bucket long")
    ledger = buckets.join(counts, "bucket", "left").select(
        F.lit(run_id).alias("run_id"),
        "bucket",
        F.lit(int(min(wave))).alias("wave"),
        F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
        "n_corrected",
        "n_eligible",
        "min_conv_id",
        "max_conv_id",
        "min_ts",
        "max_ts",
        F.lit(int(time.time())).alias("created_at"),
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    ledger.coalesce(1).write.mode("overwrite").partitionBy("run_id", "wave").parquet(audit_path)


def read_audit(spark, audit_path: str) -> DataFrame:
    return spark.read.parquet(audit_path)
