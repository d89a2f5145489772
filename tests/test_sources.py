"""Batch source loading: ``load_table`` passes the schema it reads from the
parquet footer, so it must be exactly the schema Spark would infer — with
inference being one Spark job per call that the explicit schema avoids."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gmall_spark.schemas import TESTDATA_TABLES
from gmall_spark.sources import load_table
from gmall_spark.sources.batch import _file_schema


def _inferred(spark, path):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path).schema


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_equals_inferred(spark, sf_dir, sf):
    for name in TESTDATA_TABLES:
        path = os.path.join(os.path.dirname(sf_dir), sf, f"{name}.parquet")
        explicit, _ = _file_schema(path)
        assert explicit == _inferred(spark, path), f"{sf}/{name}"


def test_footer_schema_maps_nanos_to_long(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    ts = pa.array([1_600_000_000_123_456_789, None], pa.timestamp("ns"))
    us = pa.array([1_600_000_000_123_456, 0], pa.timestamp("us"))
    pq.write_table(pa.table({"ts": ts, "us": us, "k": [1, 2]}), path)
    explicit, nanos = _file_schema(path)
    assert nanos == ["ts"]
    assert explicit == _inferred(spark, path)
    row = load_table(spark, str(tmp_path), "t").filter("k = 1").first()
    assert row["ts"].microsecond == 123_456  # ns truncated to µs


def test_load_table_runs_no_job(spark, sf_dir):
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    load_table(spark, sf_dir, "lineitem")
    assert set(tracker.getJobIdsForGroup()) == before
