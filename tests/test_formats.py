"""Multi-format transcript sources (sources/formats.py): parquet / JSON /
CSV feeds read into the canonical schema, identical row-for-row, and the
correction pipeline runs unchanged on any of them."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_corrector_spark.plans.pipeline import correct_pipeline
from ocr_corrector_spark.sources.formats import (
    FORMATS,
    TRANSCRIPT_SCHEMA,
    read_transcripts,
    write_transcripts,
)
from ocr_corrector_spark.sources.transcripts import gen_transcripts


KEY = ("conv_id", "turn_idx")
# the formats a path holds; "iceberg" reads a catalog table
# (tests/test_iceberg_source.py)
FILE_FORMATS = tuple(f for f in FORMATS if f != "iceberg")


@pytest.fixture(scope="module")
def feed(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("feeds")
    df = gen_transcripts(spark, n_convs=40)
    paths = {}
    for fmt in FILE_FORMATS:
        p = str(base / fmt)
        write_transcripts(df, p, format=fmt)
        paths[fmt] = p
    return df, paths


def _rows(df):
    return sorted(
        (r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts, r.probs)
        for r in df.collect()
    )


def test_all_formats_round_trip_identically(spark, feed):
    df, paths = feed
    golden = _rows(df)
    for fmt in FILE_FORMATS:
        got = read_transcripts(spark, paths[fmt], format=fmt)
        assert got.schema == TRANSCRIPT_SCHEMA, fmt
        assert _rows(got) == golden, fmt


def test_pipeline_runs_on_every_format(spark, feed):
    df, paths = feed
    golden = sorted(
        (r.conv_id, r.turn_idx, r.text_corrected)
        for r in correct_pipeline(df, spark, order_output=False)
        .select("conv_id", "turn_idx", "text_corrected")
        .collect()
    )
    for fmt in ("json", "csv"):
        src = read_transcripts(spark, paths[fmt], format=fmt)
        got = sorted(
            (r.conv_id, r.turn_idx, r.text_corrected)
            for r in correct_pipeline(src, spark, order_output=False)
            .select("conv_id", "turn_idx", "text_corrected")
            .collect()
        )
        assert got == golden, fmt


def test_no_schema_inference(spark, feed):
    # the readers must carry explicit wire schemas: a malformed extra file
    # cannot silently widen types — unparseable rows surface as nulls in
    # typed columns, not as schema drift
    _, paths = feed
    got = read_transcripts(spark, paths["csv"], format="csv")
    assert [f.dataType.simpleString() for f in got.schema.fields] == [
        f.dataType.simpleString() for f in TRANSCRIPT_SCHEMA.fields
    ]


def test_unknown_format_rejected(spark, feed):
    df, paths = feed
    with pytest.raises(ValueError, match="unsupported"):
        read_transcripts(spark, paths["csv"], format="orc2")
    with pytest.raises(ValueError, match="unsupported"):
        write_transcripts(df, paths["csv"] + "_x", format="avro")
