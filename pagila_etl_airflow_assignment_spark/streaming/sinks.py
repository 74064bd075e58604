"""Streaming sinks: keyed MERGE into a lake table via ``foreachBatch``.

The missing piece between the streaming aggregations and the incremental
protocol: Structured Streaming's built-in file sink is append-only, but a
windowed aggregation in update mode RE-EMITS a window every time late data
revises it — appending would duplicate windows. ``foreachBatch`` +
``merge_upsert`` gives the upsert semantics the reference gets from Postgres
``ON CONFLICT`` (etl_script_incremental_pandas.py:249-267), per micro-batch:

- each batch carries only CHANGED keys (update mode) and the merge is the
  same staged-swap MERGE the batch incremental runner uses (SURVEY.md
  I-rows), so every batch commits by one atomic directory swap;
- the merge is idempotent on the key, so a replayed batch (restart after a
  crash between sink-commit and checkpoint-commit) converges to the same
  table — exactly-once EFFECT from at-least-once delivery.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..incremental.upsert import merge_upsert


def stream_merge_to_parquet(
    sdf: DataFrame,
    target_dir: str,
    key: list[str],
    checkpoint_dir: str | None = None,
    output_mode: str = "update",
    available_now: bool = True,
) -> StreamingQuery:
    """Run a streaming DataFrame into a parquet table with MERGE semantics.

    ``key`` identifies a row across revisions (e.g. (hour_start, event_type)
    for a windowed aggregation). ``available_now=True`` drains the source and
    stops — the batch-like mode the tests and backfills use; pass False for
    a continuous query.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_upsert(batch_df.sparkSession, target_dir, batch_df, key=key)

    writer = (
        sdf.writeStream.foreachBatch(sink)
        .outputMode(output_mode)
        .option(
            "checkpointLocation",
            checkpoint_dir or tempfile.mkdtemp(prefix="stream-merge-ckpt-"),
        )
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
