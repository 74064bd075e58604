"""The driver-owned watermark table reads and writes exactly what Spark did.

``WatermarkStore`` reads and writes the ``etl_watermarks`` parquet table with
pyarrow. Tables written by Spark (multi-part files, ``_SUCCESS``, ``.crc``
side files, INT96 or TIMESTAMP_MICROS encodings) must read back as the same
naive ``datetime`` a Spark read returns, and the store's own files must read
back in Spark as ``TimestampType`` with the same instants — otherwise the
delta window ``last_update > prev_wm`` would shift under an upgrade.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from pagila_etl_airflow_assignment_spark.incremental import (
    DEFAULT_WATERMARK_START,
    WatermarkStore,
)
from pagila_etl_airflow_assignment_spark.schemas import ETL_WATERMARKS
from pagila_etl_airflow_assignment_spark.sources.parquet import load_table
from pagila_etl_airflow_assignment_spark.sources.rental import rental_view

from conftest import SF_SMALL

WATERMARKS = {
    "default": DEFAULT_WATERMARK_START,
    "pre_epoch": dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
    "micros": dt.datetime(2001, 2, 3, 4, 5, 6, 789012),
    "null": None,
}


@pytest.fixture(scope="module")
def rental(spark):
    return rental_view(load_table(spark, SF_SMALL, "orders")).cache()


def _spark_read(spark, state_dir, process_name):
    """The watermark read as the Spark-based store did it."""
    row = (
        spark.read.parquet(state_dir)
        .where(F.col("process_name") == process_name)
        .select("last_successful_update_timestamp")
        .first()
    )
    return DEFAULT_WATERMARK_START if row is None or row[0] is None else row[0]


def _write_spark_layout(spark, state_dir, rows, ts_type):
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", ts_type)
    try:
        spark.createDataFrame(rows, schema=ETL_WATERMARKS).repartition(
            len(rows)
        ).write.parquet(state_dir)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)


@pytest.mark.parametrize("ts_type", ["INT96", "TIMESTAMP_MICROS"])
def test_reads_spark_written_state_identically(spark, rental, tmp_path, ts_type):
    # a watermark that cuts the fixture mid-history, at a real row's instant
    lus = sorted(r[0] for r in rental.select("last_update").distinct().collect())
    cut = lus[len(lus) // 2]
    rows = list(WATERMARKS.items()) + [("cut", cut)]
    state_dir = str(tmp_path / "state")
    _write_spark_layout(spark, state_dir, rows, ts_type)
    names = os.listdir(state_dir)
    assert sum(n.endswith(".parquet") for n in names) > 1
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)

    store = WatermarkStore(spark, state_dir)
    for name, _ in rows + [("absent", None)]:
        assert store.read(name) == _spark_read(spark, state_dir, name), name
    assert store.read("cut") == cut

    delta = lambda wm: rental.where(F.col("last_update") > F.lit(wm))  # noqa: E731
    new_rows = delta(store.read("cut")).select("rental_id").collect()
    old_rows = delta(_spark_read(spark, state_dir, "cut")).select("rental_id").collect()
    assert 0 < len(new_rows) < rental.count()
    assert sorted(new_rows) == sorted(old_rows)


def test_written_state_reads_back_in_spark(spark, tmp_path):
    state_dir = str(tmp_path / "state")
    store = WatermarkStore(spark, state_dir)
    for name, ts in WATERMARKS.items():
        if ts is not None:
            store.write(name, ts)
    df = spark.read.parquet(state_dir)
    assert df.schema.names == ETL_WATERMARKS.names
    assert isinstance(df.schema["last_successful_update_timestamp"].dataType, TimestampType)
    for name, ts in WATERMARKS.items():
        expected = DEFAULT_WATERMARK_START if ts is None else ts
        assert store.read(name) == expected
        assert _spark_read(spark, state_dir, name) == expected
    # every write rewrites the whole table into one file
    assert len(os.listdir(state_dir)) == 1
