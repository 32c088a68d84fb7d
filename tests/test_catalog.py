"""catalog.load infers each testdata file's schema once: later loads of
an unchanged file start no inference job and read under the cached
schema, a rewritten file or a changed inference conf infers again, and
``events`` still yields a TimestampType ``ts`` from nanos and micros
parquet alike."""

from __future__ import annotations

import datetime as dt
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from clickhub_spark.catalog import load
from tests.conftest import SF_DIR, spark_jobs

NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


def test_second_load_starts_no_job(spark, tmp_path):
    shutil.copy(f"{SF_DIR}/lineitem.parquet", tmp_path / "lineitem.parquet")
    first, jobs_first = spark_jobs(spark, lambda: load(spark, str(tmp_path), "lineitem"))
    second, jobs_second = spark_jobs(spark, lambda: load(spark, str(tmp_path), "lineitem"))
    assert jobs_first >= 1  # the probe sees the inference job
    assert jobs_second == 0
    assert second.schema == first.schema
    assert second.count() == first.count()


def test_rewritten_file_returns_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert load(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"b": ["x", "y", "z"], "c": [1.0, 2.0, 3.0]}), path)
    df = load(spark, str(tmp_path), "t")
    assert df.schema == spark.read.parquet(str(path)).schema
    assert df.columns == ["b", "c"]
    assert df.count() == 3


def test_spark_written_directory_tracks_rewrites(spark, tmp_path):
    """A ``<name>.parquet`` directory of part files (what DataFrame
    writers produce) is keyed on every file in it."""
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert load(spark, str(tmp_path), "t").columns == ["id"]
    spark.range(2).selectExpr("cast(id as string) AS s").write.mode("overwrite").parquet(path)
    df = load(spark, str(tmp_path), "t")
    assert df.columns == ["s"]
    assert df.count() == 2


def test_inference_conf_toggle_reinfers(spark, tmp_path):
    """A cached schema is only reused under the inference confs it was
    inferred with: flipping inferTimestampNTZ returns what inference
    gives under the new value."""
    path = tmp_path / "t.parquet"
    pq.write_table(
        pa.table({"ts": pa.array([dt.datetime(2024, 1, 1, 12)], pa.timestamp("us"))}), path
    )
    prev = spark.conf.get(NTZ, None)
    try:
        for value in ("true", "false", "true"):
            spark.conf.set(NTZ, value)
            got = load(spark, str(tmp_path), "t").schema
            assert got == spark.read.parquet(str(path)).schema, value
        spark.conf.set(NTZ, "false")
        assert load(spark, str(tmp_path), "t").schema["ts"].dataType == TimestampType()
    finally:
        if prev is None:
            spark.conf.unset(NTZ)
        else:
            spark.conf.set(NTZ, prev)


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_ts_is_timestamp(spark, tmp_path, unit):
    """TIMESTAMP(NANOS) reads through the scoped nanosAsLong path and
    TIMESTAMP(MICROS, not UTC-adjusted) through the NTZ cast; both give
    a TimestampType ``ts`` holding the same wall clock, on the first
    (inferring) load and on the cached one."""
    ts = dt.datetime(2024, 3, 1, 8, 30, 15, 123456)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([ts], pa.timestamp(unit)),
            }
        ),
        tmp_path / "events.parquet",
        coerce_timestamps=None,
        version="2.6",
    )
    for _ in range(2):
        df = load(spark, str(tmp_path), "events")
        assert df.schema["ts"].dataType == TimestampType()
        shown = df.select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")).first()[0]
        assert shown == "2024-03-01 08:30:15.123456"
    # the nanos conf stays scoped to the read
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) in (None, "false")
