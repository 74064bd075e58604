"""Watermark state table (SURVEY.md I-1): the engine-managed analog of the
reference's ``etl_watermarks`` Postgres table
(etl_script_incremental_pandas.py:58-66,89-95,276-284).

One row per process_name; read before a run, advanced only after the summary
write commits (crash-safe ordering, O-8). The half-open ``(prev, max]`` window
derived from it guarantees no gaps/overlaps across runs.

The table is a handful of rows, so it is driver-owned metadata — the way
Delta keeps its transaction log on the driver — not a Spark dataset: reads and
writes go through pyarrow and launch no Spark jobs. A write rewrites the whole
table into a staging directory and commits it with the same atomic swap the
parquet MERGE uses. The files stay an ordinary parquet table with the
``ETL_WATERMARKS`` schema (``TIMESTAMP(MICROS)`` adjusted to UTC, which Spark
reads as ``TimestampType``), and tables written by Spark read back unchanged.
Instants convert to and from naive ``datetime`` exactly as PySpark's
``TimestampType`` does, so ``read`` returns what ``spark.read.parquet(...)
.first()`` would, and ``F.lit(read(...))`` selects the same rows.
"""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql.types import TimestampType

from ..schemas import ETL_WATERMARKS
from .upsert import _atomic_swap, parquet_files

# etl_script_incremental_pandas.py:10
DEFAULT_WATERMARK_START = dt.datetime(1900, 1, 1)

_TS = TimestampType()
_KEY, _WM = ETL_WATERMARKS.names
_ARROW_SCHEMA = pa.schema(
    [
        pa.field(_KEY, pa.string(), nullable=False),
        pa.field(_WM, pa.timestamp("us", tz="UTC")),
    ]
)


class WatermarkStore:
    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.state_dir = state_dir

    def _load(self) -> dict[str, int | None]:
        """process_name → watermark in epoch microseconds (None if NULL)."""
        rows: dict[str, int | None] = {}
        for path in parquet_files(self.state_dir):
            # INT96 (Spark's default encoding) would overflow nanoseconds
            # for far dates; every encoding is read at microsecond precision
            t = pq.read_table(path, coerce_int96_timestamp_unit="us")
            ts = t.column(_WM)
            ts = ts.cast(pa.timestamp("us", tz=ts.type.tz)).cast(pa.int64())
            rows.update(zip(t.column(_KEY).to_pylist(), ts.to_pylist()))
        return rows

    def read(self, process_name: str) -> dt.datetime:
        """Previous watermark, or the 1900-01-01 default when absent
        (etl_script_incremental_pandas.py:95)."""
        us = self._load().get(process_name)
        return DEFAULT_WATERMARK_START if us is None else _TS.fromInternal(us)

    def write(self, process_name: str, ts: dt.datetime) -> None:
        """Upsert keyed by process_name (ON CONFLICT DO UPDATE analog,
        etl_script_incremental_pandas.py:276-284)."""
        rows = self._load()
        rows[process_name] = _TS.toInternal(ts)
        table = pa.table(
            {_KEY: list(rows), _WM: list(rows.values())}, schema=_ARROW_SCHEMA
        )
        staging = f"{self.state_dir}.staging-{uuid.uuid4().hex[:8]}"
        os.makedirs(staging)
        pq.write_table(
            table, os.path.join(staging, f"part-00000-{uuid.uuid4()}.parquet")
        )
        _atomic_swap(staging, self.state_dir)
