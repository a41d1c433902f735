"""The conversation bucket column that every bucket-laid write shares:
all turns of a conversation land in one bucket."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def conv_bucket(n_buckets: int) -> Column:
    """``pmod(xxhash64(conv_id), n_buckets)`` — the bucket column the
    checkpointed run (plans/checkpoint.py) and the parquet fallback of
    sources/iceberg.py both write."""
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets))
