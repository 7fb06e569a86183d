"""Driver-testdata readers: the declared schemas are what Spark infers on
every dataset at hand, and building a table scan starts no Spark job."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from employee_analytics_etl_spark.sources.readers import read_parquet_table
from employee_analytics_etl_spark.sources.schemas import TESTDATA_TABLES
from perfbench import datagen
from tests.conftest import SF_SMOKE

TESTDATA = [
    d for d in (os.path.join(os.path.dirname(SF_SMOKE), f"sf{sf}") for sf in ("0.001", "0.01", "0.1"))
    if os.path.isdir(d)
]


@pytest.fixture(scope="module")
def generated(tmp_path_factory):
    """The benchmark's generated tables, at a small scale."""
    out = str(tmp_path_factory.mktemp("generated"))
    datagen.write_dataset(out, seed=7, scale=0.001)
    return out


def test_declared_schemas_equal_inferred(spark, generated):
    mismatched = {
        (d, t): (got, want)
        for d in [*TESTDATA, generated]
        for t in TESTDATA_TABLES
        if (got := read_parquet_table(spark, d, t).schema)
        != (want := spark.read.parquet(os.path.join(d, f"{t}.parquet")).schema)
    }
    assert mismatched == {}


def test_reading_a_table_starts_no_job(spark):
    sc = spark.sparkContext
    group = "test_sources.no_job"
    sc.setJobGroup(group, "read every testdata table")
    try:
        for t in TESTDATA_TABLES:
            read_parquet_table(spark, SF_SMOKE, t)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def _events(ts: pa.Array) -> pa.Table:
    return pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": ts,
        "user_id": pa.array([7, 8], pa.int64()),
        "event_type": ["click", "view"],
        "value": [1.5, 2.0],
        "props": ["{}", "{}"],
    })


def test_nanos_events_read_as_truncated_micros(spark, tmp_path):
    ts = pa.array([1_700_000_000_123_456_789, 5_999], type=pa.timestamp("ns"))
    pq.write_table(_events(ts), str(tmp_path / "events.parquet"), coerce_timestamps=None)
    df = read_parquet_table(spark, str(tmp_path), "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp_ntz"
    assert [r["ts"] for r in df.orderBy("event_id").collect()] == [
        dt.datetime(2023, 11, 14, 22, 13, 20, 123456),
        dt.datetime(1970, 1, 1, 0, 0, 0, 5),
    ]


@pytest.mark.parametrize("storage", ["micros", "utc_micros", "int96", "spark"])
def test_events_timestamps_read_as_inferred(spark, tmp_path, storage):
    path = str(tmp_path / "events.parquet")
    micros = [1_700_000_000_123_456, 5]
    if storage == "spark":  # a directory of part files, ts written as INT96
        spark.createDataFrame(
            _events(pa.array(micros, pa.timestamp("us", tz="UTC"))).to_pandas()
        ).repartition(3).write.parquet(path)
    else:
        tz = None if storage == "micros" else "UTC"
        pq.write_table(
            _events(pa.array(micros, pa.timestamp("us", tz=tz))), path,
            use_deprecated_int96_timestamps=storage == "int96",
        )
    got = read_parquet_table(spark, str(tmp_path), "events")
    want = spark.read.parquet(path)
    assert got.schema == want.schema
    assert got.orderBy("event_id").collect() == want.orderBy("event_id").collect()
