"""Iceberg table integration for the transcripts/audit tables.

BASELINE.json north_rule frames the input as an **Iceberg table** of
multi-turn transcripts.  This sandbox ships no Iceberg runtime jar, so
every entry point here degrades to a parquet path with the same
semantics (bucket-partitioned layout, dynamic partition overwrite for
idempotent rewrites); on a cluster with the jar, the identical calls go
through the Iceberg catalog: hidden-partitioned ``bucket(N, conv_id)``
DDL, ``writeTo(...).append() / overwritePartitions()``, snapshot reads.

Wiring on a real cluster::

    from ocr_corrector_spark.sources.iceberg import iceberg_confs
    builder = SparkSession.builder.appName(...)
    for k, v in iceberg_confs("lake", "s3://bucket/warehouse").items():
        builder = builder.config(k, v)
    # spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-...
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .bucketing import conv_bucket

ICEBERG_CATALOG_IMPL = "org.apache.iceberg.spark.SparkCatalog"
ICEBERG_EXTENSIONS = (
    "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
)

# schema of record (SURVEY.md §1; input_hint) — the transcripts DDL,
# hidden-partitioned so writers/readers never manage partition columns
TRANSCRIPTS_DDL = """
CREATE TABLE IF NOT EXISTS {table} (
    conv_id  string,
    turn_idx int,
    role     string,
    text     string,
    tool     string,
    ts       timestamp,
    probs    array<double>
)
USING iceberg
PARTITIONED BY (bucket({n_buckets}, conv_id), days(ts))
"""


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


def create_transcripts_table(
    spark: SparkSession, table: str, n_buckets: int = 256
) -> None:
    """Issue the transcripts DDL (requires an Iceberg catalog)."""
    spark.sql(TRANSCRIPTS_DDL.format(table=table, n_buckets=n_buckets))


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
        if not iceberg_available(spark):
            raise RuntimeError(
                f"'{target}' looks like an Iceberg table name but no Iceberg "
                "runtime is on the classpath; pass a filesystem path for the "
                "parquet fallback or add iceberg-spark-runtime to the session"
            )
        writer = df.writeTo(target)
        if mode == "overwrite_partitions":
            writer.overwritePartitions()
        else:
            writer.append()
        return
    # parquet fallback: materialize the bucket Iceberg would hide
    bucketed = df.withColumn("bucket", conv_bucket(n_buckets))
    if mode == "overwrite_partitions":
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        bucketed.write.mode("overwrite").partitionBy("bucket").parquet(target)
    else:
        bucketed.write.mode("append").partitionBy("bucket").parquet(target)


def read_transcripts(spark: SparkSession, source: str) -> DataFrame:
    """Read an Iceberg table name or a parquet path fallback; drops the
    fallback's materialized bucket column so both paths yield the
    input_hint schema."""
    if "/" not in source:
        if not iceberg_available(spark):
            raise RuntimeError(
                f"'{source}' looks like an Iceberg table name but no Iceberg "
                "runtime is on the classpath; pass a filesystem path for the "
                "parquet fallback or add iceberg-spark-runtime to the session"
            )
        df = spark.read.table(source)
    else:
        df = spark.read.parquet(source)
    return df.drop("bucket") if "bucket" in df.columns else df
