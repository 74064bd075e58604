"""Staged-swap MERGE upsert: the round-1 ADVICE data-loss regression and the
local-path guard.

A partitioned parquet table has no top-level *.parquet files; detection must
recurse or an upsert treats the target as absent and replaces the whole table
with just the updates.
"""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pytest

from pagila_etl_airflow_assignment_spark.incremental import WatermarkStore
from pagila_etl_airflow_assignment_spark.incremental.upsert import (
    merge_upsert,
    read_parquet_table,
)


@pytest.fixture()
def tdir():
    with tempfile.TemporaryDirectory(prefix="upsert-part-") as d:
        yield f"{d}/target"


def _rows(spark, data):
    return spark.createDataFrame(data, "k int, part string, v string")


def test_read_detects_partitioned_layout(spark, tdir):
    _rows(spark, [(1, "a", "x")]).write.partitionBy("part").parquet(tdir)
    got = read_parquet_table(spark, tdir)
    assert got is not None and got.count() == 1


def test_partitioned_upsert_preserves_untouched_partitions(spark, tdir):
    _rows(
        spark, [(1, "a", "old-a"), (2, "b", "old-b"), (3, "c", "old-c")]
    ).write.partitionBy("part").parquet(tdir)
    # update partition 'a' only; 'b' and 'c' must survive (round-1 bug: they
    # were silently dropped because the target read back as None)
    upd = _rows(spark, [(1, "a", "new-a"), (4, "a", "extra-a")])
    n = merge_upsert(spark, tdir, upd, key=["k"])
    assert n == 4
    got = {
        (r["k"], r["part"], r["v"])
        for r in read_parquet_table(spark, tdir).collect()
    }
    assert got == {
        (1, "a", "new-a"),
        (4, "a", "extra-a"),
        (2, "b", "old-b"),
        (3, "c", "old-c"),
    }


def test_unpartitioned_fallback_unchanged(spark, tdir):
    base = _rows(spark, [(1, "a", "old"), (2, "b", "keep")])
    merge_upsert(spark, tdir, base, key=["k"])
    merge_upsert(spark, tdir, _rows(spark, [(1, "a", "new")]), key=["k"])
    got = {(r["k"], r["v"]) for r in read_parquet_table(spark, tdir).collect()}
    assert got == {(1, "new"), (2, "keep")}


def test_merge_into_missing_target_creates_it(spark, tmp_path):
    target = str(tmp_path / "summary")
    updates = spark.createDataFrame(
        [(dt.date(2024, 1, 1), 5), (dt.date(2024, 1, 8), 7)],
        "week_beginning date, n int",
    )
    n = merge_upsert(spark, target, updates, key=["week_beginning"])
    assert n == 2
    assert spark.read.parquet(target).count() == 2


def test_uri_paths_are_rejected_before_touching_disk(spark, tmp_path, monkeypatch):
    """The staged swap commits by local rename: a URI path (e.g. from the
    DAG's ``PAGILA_*_DIR`` variables) raises instead of reading as an empty
    table or leaving a ``./s3a:/...`` staging directory behind."""
    monkeypatch.chdir(tmp_path)
    uri = "s3a://bucket/weekly"
    store = WatermarkStore(spark, uri)
    with pytest.raises(ValueError, match="URI"):
        store.read("p")
    with pytest.raises(ValueError, match="URI"):
        store.write("p", dt.datetime(2024, 1, 1))
    with pytest.raises(ValueError, match="URI"):
        read_parquet_table(spark, uri)
    with pytest.raises(ValueError, match="URI"):
        merge_upsert(spark, uri, _rows(spark, [(1, "a", "x")]), key=["k"])
    assert os.listdir(tmp_path) == []
