"""Multi-format transcript sources: parquet / JSON-lines / CSV / Iceberg.

The engine's table of record is Iceberg/parquet (sources/iceberg.py), but
real ingestion feeds arrive as JSON-lines dumps or CSV exports; this
module reads any of them into the canonical input_hint schema
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp, probs array<double>)`` with an EXPLICIT schema — never
schema inference, which at 100TB means a second full scan and
type drift between days of a feed.

Format quirks handled here, once:

* JSON-lines: probs arrive as a native JSON array; ts as an ISO-8601
  string (``to_timestamp``).
* CSV: no nested types — probs arrive as a JSON-encoded string column
  (``from_json`` back to array<double>); ts as ISO-8601.  Text fields are
  quoted/escaped by the writer (``spark.write.csv`` defaults round-trip).
* parquet: native types end-to-end; a bucket-partitioned layout
  (sources/iceberg.write_transcripts' fallback) reads with its ``bucket``
  column projected away.
* iceberg: ``path`` is a catalog table name (``lake.db.transcripts``),
  read through the session's Iceberg catalog.

``write_transcripts`` is the matching writer (tests round-trip through
it), mirroring how an upstream dump job would lay the feed out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from .iceberg import require_iceberg

TRANSCRIPT_FIELDS = [
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("role", StringType()),
    StructField("text", StringType()),
    StructField("tool", StringType()),
    StructField("ts", TimestampNTZType()),
    StructField("probs", ArrayType(DoubleType())),
]

TRANSCRIPT_SCHEMA = StructType(TRANSCRIPT_FIELDS)

# wire schemas: ts as string (ISO-8601) in both text formats; probs as a
# JSON string in CSV (no nested types), native array in JSON-lines
_JSON_WIRE = StructType(
    [f if f.name not in ("ts",) else StructField("ts", StringType()) for f in TRANSCRIPT_FIELDS]
)
_CSV_WIRE = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", StringType()),
        StructField("probs", StringType()),
    ]
)

FORMATS = ("parquet", "json", "csv", "iceberg")


def read_transcripts(
    spark: SparkSession, path: str, format: str = "parquet"
) -> DataFrame:
    """Read a transcripts feed in any supported format into the canonical
    schema.  Explicit wire schemas → the scan never infers; the returned
    frame is column-for-column identical across formats (tests pin the
    parquet/json/csv round-trips equal, and the pipeline runs unchanged
    on any of them)."""
    if format == "parquet":
        df = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(path)
        return df.select([f.name for f in TRANSCRIPT_FIELDS])
    if format == "json":
        df = spark.read.schema(_JSON_WIRE).json(path)
        return df.select(
            "conv_id",
            "turn_idx",
            "role",
            "text",
            "tool",
            F.to_timestamp("ts").cast("timestamp_ntz").alias("ts"),
            "probs",
        )
    if format == "csv":
        # multiLine: transcript text embeds newlines (%LAYOUT docs) — the
        # quoted-field parser must span lines.  Scale note: multiLine CSV
        # is parsed per-FILE (not per-split), so a CSV feed should arrive
        # as many files; prefer JSON-lines or parquet for new feeds.
        df = (
            spark.read.schema(_CSV_WIRE)
            .option("header", "true")
            .option("escape", '"')
            .option("multiLine", "true")
            .csv(path)
        )
        return df.select(
            "conv_id",
            "turn_idx",
            "role",
            "text",
            "tool",
            F.to_timestamp("ts").cast("timestamp_ntz").alias("ts"),
            F.from_json("probs", ArrayType(DoubleType())).alias("probs"),
        )
    if format == "iceberg":
        require_iceberg(spark, path)
        return spark.read.table(path).select([f.name for f in TRANSCRIPT_FIELDS])
    raise ValueError(f"unsupported transcripts format: {format!r} (use {FORMATS})")


def write_transcripts(
    df: DataFrame, path: str, format: str = "parquet", mode: str = "overwrite"
) -> None:
    """The matching feed writer for the file formats (upstream-dump
    shape; tests round-trip); sources/iceberg.write_transcripts writes a
    catalog table."""
    if format == "parquet":
        df.select([f.name for f in TRANSCRIPT_FIELDS]).write.mode(mode).parquet(path)
        return
    if format == "json":
        out = df.select(
            "conv_id", "turn_idx", "role", "text", "tool",
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("ts"),
            "probs",
        )
        out.write.mode(mode).json(path)
        return
    if format == "csv":
        out = df.select(
            "conv_id", "turn_idx", "role", "text", "tool",
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("ts"),
            F.to_json("probs").alias("probs"),
        )
        out.write.mode(mode).option("header", "true").option("escape", '"').csv(path)
        return
    raise ValueError(f"unsupported transcripts format: {format!r} (use parquet, json or csv)")
