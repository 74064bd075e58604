"""Idempotent MERGE upsert on plain Parquet (SURVEY.md A-5/A-6, O-7).

The reference relies on Postgres ``INSERT ... ON CONFLICT DO UPDATE``
(etl_script_incremental_pandas.py:249-267). Plain Parquet has no in-place
upsert, so we implement the documented fallback (SURVEY.md §7 "What's hard"):

    read target ∪ updates → keep the newest row per key → staged atomic swap

On a real lakehouse deployment this module is the seam where Delta Lake's
``MERGE INTO`` (or Iceberg's) slots in — same call signature, true atomic
commit, no full rewrite. For the summary table here the rewrite is trivially
small (one row per week); the watermark table does not come through here at
all, it is driver-committed metadata (watermark.py). For a large partitioned
target, pass ``partition_by`` and only affected partitions are rewritten
(dynamic-partition-overwrite shape), which is what scales to 100 TB: the
rewrite cost is proportional to dirty partitions, not table size.

The row count a merge returns comes from the footers of the files on disk
after the commit (driver-side metadata reads, no Spark job), never from a
re-scan of the table.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def delta_available() -> bool:
    """Feature-detect Delta Lake (not shipped in this container)."""
    try:
        from delta.tables import DeltaTable  # noqa: F401

        return True
    except ImportError:
        return False


def merge_condition(key: list[str], target: str = "t", source: str = "u") -> str:
    """The MERGE ON condition for ``DeltaTable.merge`` (pure, unit-testable
    without delta installed)."""
    return " AND ".join(f"{target}.{k} = {source}.{k}" for k in key)


def _delta_merge(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    key: list[str],
    order_by: str | None,
    partition_by: list[str] | None = None,
) -> int:
    """True transactional MERGE via Delta (reference etl.py:249-267
    `ON CONFLICT DO UPDATE` parity: atomic commit, concurrent-writer-safe,
    no table rewrite). Same signature/result as the parquet fallback."""
    from delta.tables import DeltaTable

    if not DeltaTable.isDeltaTable(spark, target_dir):
        writer = updates.write.format("delta").mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(target_dir)
    else:
        merge = (
            DeltaTable.forPath(spark, target_dir)
            .alias("t")
            .merge(updates.alias("u"), merge_condition(key))
        )
        if order_by:
            merge = merge.whenMatchedUpdateAll(
                condition=f"u.{order_by} >= t.{order_by}"
            )
        else:
            merge = merge.whenMatchedUpdateAll()
        merge.whenNotMatchedInsertAll().execute()
    return spark.read.format("delta").load(target_dir).count()


def _looks_like_delta(path: str) -> bool:
    """A Delta table is a parquet dir with a `_delta_log/`; existing plain
    parquet targets keep the fallback path even when delta is installed."""
    return os.path.isdir(os.path.join(path, "_delta_log"))


def _hidden(name: str) -> bool:
    """Spark's listing rule: ``_``/``.``-prefixed names are metadata (e.g.
    ``_SUCCESS``, ``.crc``, ``_temporary``), except ``_``-named partition
    directories like ``_k=v``."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def parquet_files(path: str) -> list[str]:
    """The data files of the parquet table at ``path`` (recursive, sorted;
    empty when the directory is absent)."""
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
    local/driver-coordinated writes; object stores use Delta instead)."""
    bak = f"{target_dir}.bak-{uuid.uuid4().hex[:8]}"
    if os.path.isdir(target_dir):
        os.rename(target_dir, bak)
    os.rename(new_dir, target_dir)
    if os.path.isdir(bak):
        shutil.rmtree(bak)


def merge_upsert(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    key: list[str],
    order_by: str | None = None,
    partition_by: list[str] | None = None,
) -> int:
    """Upsert ``updates`` into the parquet table at ``target_dir`` keyed by
    ``key``: update rows win over existing rows with the same key.

    ``order_by``: optional column whose larger value wins within a key
    (defaults to a source-precedence flag — updates beat target).
    Returns the post-merge row count, read from the committed files' footers.

    Partitioned targets (``partition_by``) use TRUE dynamic-partition
    overwrite: only partitions present in ``updates`` are read back, merged,
    and rewritten — untouched partitions' files are never touched, so the
    rewrite cost is proportional to dirty partitions, not table size (the
    shape that scales to 100 TB). Unpartitioned targets use the read-merge-
    atomic-swap fallback (trivially small for the weekly summary table).

    When Delta Lake is on the classpath (feature-detected; not in this
    container), the merge routes through ``DeltaTable.merge`` instead — the
    real transactional seam matching the reference's Postgres ON CONFLICT.
    """
    if delta_available() and (
        _looks_like_delta(target_dir) or not os.path.isdir(target_dir)
    ):
        return _delta_merge(spark, target_dir, updates, key, order_by, partition_by)
    # the target holds earlier updates, so their schema is the target's:
    # passing it skips Spark's schema-inference job over the footers
    existing = read_parquet_table(spark, target_dir, schema=updates.schema)
    if existing is not None and partition_by:
        # restrict the merge universe to DIRTY partitions only; the distinct
        # partition-value set is small by construction (it is the week list /
        # process list), so the semi join broadcasts
        dirty = updates.select(*partition_by).distinct()
        existing = existing.join(F.broadcast(dirty), partition_by, "left_semi")
    tagged = updates.withColumn("__precedence", F.lit(1))
    if existing is not None:
        tagged = tagged.unionByName(
            existing.select(*updates.columns).withColumn("__precedence", F.lit(0))
        )
    order_cols = [F.col("__precedence").desc()]
    if order_by:
        order_cols.insert(0, F.col(order_by).desc())
    w = Window.partitionBy(*key).orderBy(*order_cols)
    merged = (
        tagged.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__precedence")
    )

    if partition_by:
        if existing is None:
            merged.repartition(*partition_by).write.partitionBy(
                *partition_by
            ).mode("overwrite").parquet(target_dir)
        else:
            # dynamic mode replaces ONLY the partitions present in `merged`
            # (Spark's committer stages per-partition then renames); clean
            # partitions are untouched on disk
            merged.repartition(*partition_by).write.partitionBy(
                *partition_by
            ).option("partitionOverwriteMode", "dynamic").mode(
                "overwrite"
            ).parquet(target_dir)
        return footer_row_count(target_dir)

    staging = f"{target_dir}.staging-{uuid.uuid4().hex[:8]}"
    merged.coalesce(1).write.mode("overwrite").parquet(staging)
    n = footer_row_count(staging)
    _atomic_swap(staging, target_dir)
    return n
