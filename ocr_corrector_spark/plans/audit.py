"""The checkpointed run's ledger: per-bucket lineage + correction metrics
(BASELINE.json north_rule requirement; reference analog: the log-only
counters at base_corrector.py:58,71 promoted to real aggregates).

One row per bucket of a wave: row/correction counts and key ranges, from
one aggregation over the wave's buckets read back from the output files,
plus one pad row per bucket so that an empty bucket gets its row too.
The ledger is also the run's commit record (plans/checkpoint.py): a
bucket is committed if and only if its row exists.  The write is a
dynamic partition overwrite (a writer option) of a
``(run_id, wave)``-partitioned parquet table (Iceberg-ready: swap
``.write`` for ``.writeTo`` when an Iceberg catalog is configured;
``get_spark`` loads no Iceberg runtime jar).
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
    for name, dtype in _OPTIONAL:
        if name not in df.columns:
            df = df.withColumn(name, F.lit(None).cast(dtype))
    # one pad row per bucket of the wave, every counted column null: an
    # empty bucket still gets its group, and ``_row`` keeps pads out of
    # n_rows (a null conv_id is a written row, so no count(column) will
    # do); built in the JVM, as a Python list would start a Python job
    pads = df.sparkSession.range(1).select(
        F.explode(F.array(*(F.lit(int(b)) for b in wave)).cast("array<long>")).alias("bucket"),
        F.lit(0).alias("_row"),
    )
    rows = df.withColumn("_row", F.lit(1)).unionByName(pads, allowMissingColumns=True)
    ledger = rows.groupBy("bucket").agg(
        F.lit(run_id).alias("run_id"),
        F.lit(int(min(wave))).alias("wave"),
        F.sum("_row").alias("n_rows"),
        F.sum((F.col("text") != F.col("text_corrected")).cast("long")).alias("n_corrected"),
        F.sum((F.col("corr_mode") != 0).cast("long")).alias("n_eligible"),
        F.min("conv_id").alias("min_conv_id"),
        F.max("conv_id").alias("max_conv_id"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.lit(int(time.time())).alias("created_at"),
    )
    writer = ledger.coalesce(1).write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    writer.partitionBy("run_id", "wave").parquet(audit_path)


def read_audit(spark, audit_path: str) -> DataFrame:
    return spark.read.parquet(audit_path)
