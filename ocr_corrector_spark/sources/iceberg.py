"""Iceberg table integration for the transcripts/audit tables.

BASELINE.json north_rule frames the input as an **Iceberg table** of
multi-turn transcripts.  This sandbox ships no Iceberg runtime jar, so
the writer here degrades to a parquet path with the same semantics
(bucket-partitioned layout, dynamic partition overwrite for idempotent
rewrites); on a cluster with the jar, the identical calls go through the
Iceberg catalog: ``writeTo(...).append() / overwritePartitions()``.  A
catalog table is read by ``sources/formats.read_transcripts`` with
``format="iceberg"``.

Wiring on a real cluster::

    from ocr_corrector_spark.session import get_spark
    from ocr_corrector_spark.sources.iceberg import iceberg_confs
    spark = get_spark(extra_conf=iceberg_confs("lake", "s3://bucket/warehouse"))
    # spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-...
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .bucketing import conv_bucket

ICEBERG_CATALOG_IMPL = "org.apache.iceberg.spark.SparkCatalog"
ICEBERG_EXTENSIONS = (
    "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
)


def iceberg_confs(catalog: str, warehouse: str, impl: str = "hadoop") -> dict:
    """The standard session confs for an Iceberg catalog (public Iceberg
    Spark quickstart wiring)."""
    return {
        "spark.sql.extensions": ICEBERG_EXTENSIONS,
        f"spark.sql.catalog.{catalog}": ICEBERG_CATALOG_IMPL,
        f"spark.sql.catalog.{catalog}.type": impl,
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the session classpath."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(ICEBERG_CATALOG_IMPL)
        return True
    except Exception:
        return False


def require_iceberg(spark: SparkSession, table: str) -> None:
    """Raise unless the Iceberg runtime can serve catalog table ``table``."""
    if not iceberg_available(spark):
        raise RuntimeError(
            f"'{table}' looks like an Iceberg table name but no Iceberg "
            "runtime is on the classpath; pass a filesystem path for the "
            "parquet fallback or add iceberg-spark-runtime to the session"
        )


def write_transcripts(
    df: DataFrame,
    target: str,
    mode: str = "append",
    n_buckets: int = 256,
) -> None:
    """Write to an Iceberg table name, or to a parquet path fallback.

    ``mode``: 'append' | 'overwrite_partitions' (idempotent partition
    rewrite — Iceberg ``overwritePartitions`` / parquet dynamic
    overwrite over an explicit bucket column).
    """
    spark = df.sparkSession
    if "/" not in target:
        # catalog table name — valid only with the Iceberg runtime; a
        # silent parquet fallback here would scatter directories named
        # 'cat.db.table' into the cwd
        require_iceberg(spark, target)
        writer = df.writeTo(target)
        if mode == "overwrite_partitions":
            writer.overwritePartitions()
        else:
            writer.append()
        return
    # parquet fallback: materialize the bucket Iceberg would hide
    bucketed = df.withColumn("bucket", conv_bucket(n_buckets))
    writer = bucketed.write.partitionBy("bucket")
    if mode == "overwrite_partitions":
        writer = writer.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    else:
        writer = writer.mode("append")
    writer.parquet(target)
