"""Turn reassembly — the only shuffles in the pipeline, made skew-safe.

Two operators (BASELINE.json north_rule: explicit salted-skew handling
around the groupBy / sortWithinPartitions turn-reassembly shuffle):

* ``order_turns``: restore stable (conv_id, turn_idx) order for the flat
  output table.  Uses ``repartitionByRange`` + ``sortWithinPartitions`` —
  a RANGE partitioner samples the key distribution and SPLITS heavy
  conv_ids across partitions (contiguous turn ranges), so a single hot
  conversation can never pin one executor the way hash-partitioning
  would.  This replaces the reference's positional insert-by-index order
  restoration (base_corrector.py:88-94).

* ``reassemble_conversations``: collapse turns into one array per
  conversation (conversation-level downstream processing).  A plain
  ``groupBy(conv_id).agg(collect_list)`` puts every turn of a hot conv in
  one reducer; instead we salt: stage 1 aggregates (conv_id, salt) chunks
  — bounded by SALT_BUCKETS — and stage 2 merges the few chunks per conv
  and array_sorts by turn_idx.  Map-side partial aggregation applies at
  both stages; the per-reducer payload for a conv of T turns drops from
  O(T) to O(T / SALT_BUCKETS) in stage 1, and stage 2 moves only
  pre-combined chunks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def order_turns(df: DataFrame) -> DataFrame:
    """Stable (conv_id, turn_idx) order (module docstring).  A frame with
    the checkpointed job's ``bucket`` is ordered by (bucket, conv_id,
    turn_idx) instead, which also meets its bucket-partitioned write's
    ordering: the write then plans no sort above the Python stage, which
    would undo each file's turn order."""
    keys = [F.col("conv_id"), F.col("turn_idx")]
    if "bucket" in df.columns:
        keys.insert(0, F.col("bucket"))
    # One range partition per task slot (the session's shuffle width):
    # downstream runs the Arrow-UDF correction stage, and every Python task
    # pays a fixed worker cost whatever its row count, so more partitions
    # than slots only add that cost.  The explicit count also opts this
    # exchange out of AQE's byte-based coalescing, which would collapse a
    # small-but-expensive Python stage onto a handful of cores.
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    df = df.repartitionByRange(n, *keys)
    return df.sortWithinPartitions(*keys)


def reassemble_conversations(
    df: DataFrame,
    payload_cols: tuple = ("role", "text_corrected"),
    salt_buckets: int = 16,
) -> DataFrame:
    """One row per conv_id with ``turns`` = array<struct<turn_idx, ...>>
    sorted by turn_idx, built with a two-stage salted aggregation."""
    payload = F.struct(F.col("turn_idx"), *[F.col(c) for c in payload_cols])
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("turn_idx")), F.lit(salt_buckets))
    )
    stage1 = salted.groupBy("conv_id", "_salt").agg(
        F.collect_list(payload).alias("_chunk"),
        F.count(F.lit(1)).alias("_n"),
    )
    stage2 = stage1.groupBy("conv_id").agg(
        F.array_sort(F.flatten(F.collect_list("_chunk"))).alias("turns"),
        F.sum("_n").alias("n_turns"),
    )
    return stage2
