"""Catalog loader regressions.

The driver's testdata generator has shipped events.ts in two parquet
layouts across rounds: TIMESTAMP(NANOS) (Spark reads it only as long
nanos under the nanosAsLong legacy flag) and plain TIMESTAMP micros
(reads as timestamp_ntz). load_table must normalize BOTH to a
session-TZ TimestampType with identical wall-clock values, or every
events-based query in the gate breaks on the next regeneration.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stream_processing_spark.catalog import load_table

SF = "/root/testdata/sf0.001"


def _write_events_variant(spark, tmpdir: str, ts_expr) -> str:
    """Stage a tiny events.parquet with the given ts column type."""
    d = os.path.join(tmpdir, "sf")
    src = load_table(spark, SF, "events").limit(100)
    src.withColumn("ts", ts_expr).coalesce(1).write.parquet(
        os.path.join(d, "events.parquet")
    )
    return d


def test_events_ts_is_session_timestamp(spark):
    df = load_table(spark, SF, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.count() > 0


def test_micros_footer_layout(spark, tmp_path):
    """Current generator layout: plain TIMESTAMP micros (timestamp_ntz)."""
    d = _write_events_variant(
        spark, str(tmp_path), F.col("ts").cast("timestamp_ntz")
    )
    got = load_table(spark, d, "events")
    assert dict(got.dtypes)["ts"] == "timestamp"
    want = load_table(spark, SF, "events").limit(100)
    assert sorted(r["ts"] for r in got.select("ts").collect()) == sorted(
        r["ts"] for r in want.select("ts").collect()
    )


def test_bigint_nanos_footer_layout(spark, tmp_path):
    """Round-1 generator layout: TIMESTAMP(NANOS), read as long nanos."""
    nanos = (F.unix_micros(F.col("ts")) * F.lit(1000)).cast("long")
    d = _write_events_variant(spark, str(tmp_path), nanos)
    got = load_table(spark, d, "events")
    assert dict(got.dtypes)["ts"] == "timestamp"
    want = load_table(spark, SF, "events").limit(100)
    assert sorted(r["ts"] for r in got.select("ts").collect()) == sorted(
        r["ts"] for r in want.select("ts").collect()
    )


def test_unknown_ts_layout_fails_on_the_batch_and_stream_paths(spark, tmp_path):
    """A third footer layout fails at load time on both paths, since
    both go through catalog.events_ts_layout."""
    from stream_processing_spark.queries.streaming_queries import _events_stream

    d = _write_events_variant(spark, str(tmp_path), F.col("ts").cast("string"))
    with pytest.raises(TypeError, match="'string'"):
        _events_stream(spark, d)
    with pytest.raises(TypeError, match="'string'"):
        load_table(spark, d, "events")


def test_unknown_table_raises(spark):
    with pytest.raises(KeyError):
        load_table(spark, SF, "nope")


def test_variant_column_parquet_roundtrip(spark, tmp_path):
    """Storage contract for the VARIANT tier (queries/variantq.py): a
    parsed variant column survives a parquet write/read roundtrip with
    its binary encoding intact (Spark 4 writes unshredded variant;
    reading shredded files is allowed by default —
    spark.sql.variant.allowReadingShredded)."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "vt")
    (
        spark.range(5)
        .select(
            "id",
            F.parse_json(
                F.concat(
                    F.lit('{"k": '), F.col("id").cast("string"),
                    F.lit(', "nest": {"s": "x"}}'),
                )
            ).alias("v"),
        )
        .write.mode("overwrite")
        .parquet(d)
    )
    back = spark.read.parquet(d)
    assert dict(back.dtypes)["v"] == "variant"
    got = sorted(
        (r.id, r.k, r.s)
        for r in back.select(
            "id",
            F.variant_get("v", "$.k", "bigint").alias("k"),
            F.variant_get("v", "$.nest.s", "string").alias("s"),
        ).collect()
    )
    assert got == [(i, i, "x") for i in range(5)]
