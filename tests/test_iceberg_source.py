"""Iceberg source/sink integration (sources/iceberg.py).

No Iceberg runtime jar ships in this sandbox, so these tests pin the
fallback semantics (bucket-partitioned parquet, dynamic-overwrite
idempotence, schema round-trip) and the catalog-conf wiring that a real
cluster submit would use.
"""

from __future__ import annotations

import os

from ocr_corrector_spark.plans.checkpoint import CheckpointedRun
from ocr_corrector_spark.sources.iceberg import (
    ICEBERG_CATALOG_IMPL,
    iceberg_available,
    iceberg_confs,
    read_transcripts,
    write_transcripts,
)
from ocr_corrector_spark.sources.transcripts import gen_transcripts


def test_iceberg_confs_shape():
    confs = iceberg_confs("lake", "s3://bucket/wh")
    assert confs["spark.sql.catalog.lake"] == ICEBERG_CATALOG_IMPL
    assert confs["spark.sql.catalog.lake.warehouse"] == "s3://bucket/wh"
    assert "IcebergSparkSessionExtensions" in confs["spark.sql.extensions"]


def test_not_available_in_sandbox(spark):
    assert iceberg_available(spark) is False


def test_parquet_fallback_roundtrip(spark, tmp_path):
    path = str(tmp_path / "transcripts")
    df = gen_transcripts(spark, n_convs=40)
    write_transcripts(df, path, n_buckets=8)
    back = read_transcripts(spark, path)
    assert back.columns == df.columns  # bucket column hidden again
    assert back.count() == df.count()
    # bucket-partitioned layout on disk
    assert any(d.startswith("bucket=") for d in os.listdir(path))
    # each row sits in the bucket a checkpointed run gives its conversation
    on_disk = spark.read.parquet(path).select("conv_id", "turn_idx", "bucket")
    run = CheckpointedRun(run_id="r", output_path="", watermark_path="", n_buckets=8)
    want = run.with_bucket(df).select("conv_id", "turn_idx", "bucket")
    assert sorted(on_disk.collect()) == sorted(want.collect())


def test_overwrite_partitions_idempotent(spark, tmp_path):
    path = str(tmp_path / "transcripts")
    df = gen_transcripts(spark, n_convs=40)
    write_transcripts(df, path, mode="overwrite_partitions", n_buckets=8)
    n1 = read_transcripts(spark, path).count()
    # rewriting the same data must converge, not duplicate
    write_transcripts(df, path, mode="overwrite_partitions", n_buckets=8)
    assert read_transcripts(spark, path).count() == n1
