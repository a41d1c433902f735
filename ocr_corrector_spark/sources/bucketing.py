"""Bucketed tables: co-located joins without a shuffle.

At 10^12 turns the transcripts table is joined against per-conversation
side tables (audit rollups, dedup groups, conversation metadata) over and
over; hash-bucketing BOTH sides on the join key at write time
(``bucketBy`` — the Hive-compatible layout Iceberg's ``bucket(N, col)``
partition transform mirrors) makes every later equi-join on that key
shuffle-FREE: Spark's bucketed scan exposes the hash partitioning to the
planner and the SortMergeJoin runs without an Exchange on either side
(tests/test_bucketing.py asserts the executed plan carries none).

Bucket-count discipline: both sides must use the SAME bucket count (or
integer multiples with spark.sql.bucketing.coalesceBucketsInJoin); size
buckets so one bucket's rows fit an executor's task comfortably —
at 10^12 rows and ~2GB tasks that is O(10^4-10^5) buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def conv_bucket(n_buckets: int) -> Column:
    """``pmod(xxhash64(conv_id), n_buckets)`` — the bucket column the
    checkpointed run (plans/checkpoint.py) and the parquet fallback of
    sources/iceberg.py both write."""
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets))


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: tuple[str, ...] = ("conv_id",),
    n_buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (+ per-bucket sorted) managed table.  Sorting
    within buckets makes the downstream SortMergeJoin's sort a no-op on
    read (the scan reports the sort order)."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table)
    )


def colocated_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: list[str] | str = "conv_id",
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key.  The ``merge``
    hint keeps the planner on SortMergeJoin (a broadcast would win on tiny
    test dims but hide the bucketing guarantee this helper exists for);
    with matching bucket layouts the executed plan has NO Exchange."""
    left = spark.table(left_table)
    right = spark.table(right_table).hint("merge")
    return left.join(right, on=on, how=how)


def plan_has_shuffle(df: DataFrame) -> bool:
    """True iff the executed plan contains a shuffle Exchange (broadcast
    exchanges excluded) — the bucketing tests' assertion primitive."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return (
        "Exchange hashpartitioning" in plan
        or "Exchange rangepartitioning" in plan
        or "Exchange SinglePartition" in plan
    )
