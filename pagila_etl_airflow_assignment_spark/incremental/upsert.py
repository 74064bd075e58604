"""Idempotent MERGE upsert on plain Parquet (SURVEY.md A-5/A-6, O-7).

The reference relies on Postgres ``INSERT ... ON CONFLICT DO UPDATE``
(etl_script_incremental_pandas.py:249-267). Plain Parquet has no in-place
upsert, so every merge takes the one documented fallback (SURVEY.md §7
"What's hard"):

    read target ∪ updates → the update row wins per key → staged atomic swap

The whole target is rewritten into one file per merge. For the summary table
that is trivially small (one row per week); the watermark table does not come
through here at all, it is driver-committed metadata (watermark.py). The
commit is a local-filesystem rename, so tables must live on a local (or
locally mounted) path: a URI such as ``s3a://...`` is rejected before any
file is read or created. The row count a merge returns comes from the
footers of the files on disk after the commit (driver-side metadata reads,
no Spark job), never from a re-scan of the table.
"""

from __future__ import annotations

import os
import shutil
import uuid
from urllib.parse import urlsplit

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _hidden(name: str) -> bool:
    """Spark's listing rule: ``_``/``.``-prefixed names are metadata (e.g.
    ``_SUCCESS``, ``.crc``, ``_temporary``), except ``_``-named partition
    directories like ``_k=v``."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def parquet_files(path: str) -> list[str]:
    """The data files of the parquet table at ``path`` (recursive, sorted;
    empty when the directory is absent).

    Every table read, merge and watermark access lists its files here first,
    so this is where a non-local path is refused: ``os.walk`` would find
    nothing under a URI and the caller would treat the table as empty."""
    if urlsplit(path).scheme:
        raise ValueError(
            f"{path!r}: tables are committed by local rename; "
            "URI paths are not supported"
        )
    found = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        found.extend(
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not _hidden(f)
        )
    return sorted(found)


def footer_row_count(path: str) -> int:
    """Rows of the parquet table at ``path``, summed from file footers."""
    return sum(pq.read_metadata(f).num_rows for f in parquet_files(path))


def read_parquet_table(
    spark: SparkSession, path: str, schema=None
) -> DataFrame | None:
    """Read a parquet table dir; None if absent/empty (A-3 existence probe).

    Detection walks the tree: a table written with ``partitionBy`` has NO
    top-level ``*.parquet`` files, only ``key=value/`` subdirectories — a
    top-level-only check would report such a table absent, and a merge that
    treats the target as absent silently replaces it with just the updates
    (the round-1 ADVICE data-loss finding)."""
    if not parquet_files(path):
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _atomic_swap(new_dir: str, target_dir: str) -> None:
    """Replace target_dir with new_dir via rename (POSIX-atomic enough for
    local/driver-coordinated writes)."""
    bak = f"{target_dir}.bak-{uuid.uuid4().hex[:8]}"
    if os.path.isdir(target_dir):
        os.rename(target_dir, bak)
    os.rename(new_dir, target_dir)
    if os.path.isdir(bak):
        shutil.rmtree(bak)


def merge_upsert(
    spark: SparkSession, target_dir: str, updates: DataFrame, key: list[str]
) -> int:
    """Upsert ``updates`` into the parquet table at ``target_dir`` keyed by
    ``key``: update rows win over existing rows with the same key.

    The merged table is written to a staging directory and swapped in
    atomically; a missing target is created. Returns the post-merge row
    count, read from the committed files' footers."""
    # the target holds earlier updates, so their schema is the target's:
    # passing it skips Spark's schema-inference job over the footers
    existing = read_parquet_table(spark, target_dir, schema=updates.schema)
    tagged = updates.withColumn("__precedence", F.lit(1))
    if existing is not None:
        tagged = tagged.unionByName(
            existing.select(*updates.columns).withColumn("__precedence", F.lit(0))
        )
    w = Window.partitionBy(*key).orderBy(F.col("__precedence").desc())
    merged = (
        tagged.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__precedence")
    )

    staging = f"{target_dir}.staging-{uuid.uuid4().hex[:8]}"
    merged.coalesce(1).write.mode("overwrite").parquet(staging)
    n = footer_row_count(staging)
    _atomic_swap(staging, target_dir)
    return n
