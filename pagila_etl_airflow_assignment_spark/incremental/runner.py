"""The incremental protocol (SURVEY.md I-1..I-7), end to end.

Re-implements the run-loop of etl_script_incremental_pandas.py:24-298 on Spark:

  Step 0  empty-target check → watermark reset to 1900-01-01   (etl.py:68-85, I-2)
  Step 1  read watermark + MAX(last_update) from source        (etl.py:87-113, A-2)
  Step 2  delta read over half-open (prev, max] window         (etl.py:115-128, I-3)
  Step 3a affected weeks from changed rows, set-based          (etl.py:130-146, I-4)
  Step 3b trailing-gap backfill weeks                          (etl.py:148-194, I-5)
  Step 3c union; early-exit when nothing to do                 (etl.py:196-213, I-6)
  Step 4  recompute + MERGE upsert                             (etl.py:216-271, I-7)
  Step 5  advance watermark only after the summary commits     (etl.py:274-284, O-8)

Deliberate departure from the reference (SURVEY.md O-9): Step 4 does NOT loop
per week re-scanning the source 3x per week. The window-formulation summary is
O(n + weeks) for ANY number of dirty weeks, so we compute the full summary once
and semi-join it down to the affected weeks. At 100 TB the recompute is two
hash aggregations over the fact table — the same cost as one dirty week in the
reference's scheme — and the MERGE rewrites the weeks-sized summary table.

Boundary semantics are ref.sql's date-granularity (SURVEY.md §2.X), so the
incremental result is bit-identical to the full-recompute oracle — the
differential property the reference intended but never automated (SURVEY.md §5).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.weekly_summary import weekly_rental_summary
from ..schemas import WEEKLY_RENTAL_SUMMARY
from .upsert import merge_upsert, read_parquet_table
from .watermark import DEFAULT_WATERMARK_START, WatermarkStore

ETL_PROCESS_NAME = "pagila_weekly_rental_summary"


@dataclass
class IncrementalRunReport:
    previous_watermark: dt.datetime
    new_watermark: dt.datetime
    delta_rows: int
    affected_weeks: list[dt.date] = field(default_factory=list)
    weeks_written: int = 0
    noop: bool = False
    watermark_reset: bool = False


def _monday(d: dt.date) -> dt.date:
    return d - dt.timedelta(days=d.weekday())


def run_incremental(
    spark: SparkSession, rental: DataFrame, target_dir: str, state_dir: str
) -> IncrementalRunReport:
    """One incremental run. ``rental`` is the current source snapshot.

    The protocol invariant under a crash at ANY step: a rerun on the same (or
    a further-grown) snapshot converges to the full recompute, because the
    watermark only advances after the summary commit and every step before
    the MERGE is read-only (apart from the idempotent step-0 reset)."""
    store = WatermarkStore(spark, state_dir)

    # --- Step 0: empty-target → reset watermark (I-2) -------------------------
    # The target's schema is known, so no schema-inference job runs, and one
    # aggregate answers both "empty?" and the max week step 3b needs.
    target = read_parquet_table(spark, target_dir, schema=WEEKLY_RENTAL_SUMMARY)
    n_target, max_tgt_week = 0, None
    if target is not None:
        n_target, max_tgt_week = target.agg(
            F.count(F.lit(1)), F.max("week_beginning")
        ).first()
    watermark_reset = n_target == 0
    if watermark_reset:
        store.write(ETL_PROCESS_NAME, DEFAULT_WATERMARK_START)

    # --- Steps 1-3a fused: ONE source pass (A-2 + I-3 + I-4) ------------------
    # The watermark is read BEFORE the probe, and the half-open delta window
    # (prev, cur_max] has cur_max = MAX(last_update) over this very snapshot —
    # its upper bound never excludes a row — so the delta membership predicate
    # reduces to last_update > prev_wm, computable in the SAME aggregate that
    # finds the window bounds. One full-source aggregate now serves the window
    # probe, the delta row count AND the dirty-week set (collect_set skips the
    # NULL non-delta / null-return entries; the week set is calendar-bounded,
    # never data-sized). The previous two-job form scanned the source twice.
    # When cur_max <= prev_wm no row passes the membership predicate, so the
    # count/sets degrade to 0/empty exactly as the old guarded branch did.
    prev_wm = store.read(ETL_PROCESS_NAME)
    wk = lambda c: F.date_trunc("week", c).cast("date")
    act = F.to_date(
        F.greatest("rental_date", F.coalesce("return_date", "rental_date"))
    )
    in_delta = F.col("last_update") > F.lit(prev_wm)
    probe = rental.agg(
        F.max("last_update").alias("max_lu"),
        F.max(act).alias("max_activity"),
        F.min(act).alias("min_activity"),
        F.count(F.when(in_delta, F.lit(1))).alias("n_delta"),
        F.collect_set(F.when(in_delta, wk("rental_date"))).alias("rw"),
        F.collect_set(
            F.when(in_delta & F.col("return_date").isNotNull(), wk("return_date"))
        ).alias("tw"),
    ).first()
    cur_max = probe.max_lu if probe.max_lu is not None else prev_wm

    # --- Step 3a: affected weeks from changed rows (I-4, set-based O-10) -----
    if cur_max > prev_wm:
        changed = set(probe.rw) | set(probe.tw)
        delta_rows = probe.n_delta
    else:
        changed, delta_rows = set(), 0

    # --- Step 3b: trailing-gap backfill (I-5) --------------------------------
    backfill: set[dt.date] = set()
    if probe.max_activity is not None:
        max_src_week = _monday(probe.max_activity)
        start = None
        if max_tgt_week is None and probe.min_activity is not None:
            start = _monday(probe.min_activity)
        elif max_tgt_week is not None and max_tgt_week < max_src_week:
            start = max_tgt_week + dt.timedelta(weeks=1)
        while start is not None and start <= max_src_week:
            backfill.add(start)
            start += dt.timedelta(weeks=1)

    # --- Step 3c: combine; early exit (I-6) ----------------------------------
    affected = sorted(changed | backfill)
    if not affected:
        # an unchanged watermark is already on disk: rewriting it is pure cost
        if cur_max != prev_wm:
            store.write(ETL_PROCESS_NAME, cur_max)
        return IncrementalRunReport(
            previous_watermark=prev_wm,
            new_watermark=cur_max,
            delta_rows=delta_rows,
            noop=True,
            watermark_reset=watermark_reset,
        )

    # --- Step 4: recompute affected weeks in ONE plan + MERGE (I-7, O-9) -----
    # Suffix expansion (deliberate fix over the reference): a changed row also
    # shifts outstanding_rentals_at_week_end for every week BETWEEN its rental
    # and return weeks, which the reference's marking (etl.py:139-146) misses —
    # it leaves stale interim weeks. We recompute the suffix [min dirty week,
    # spine end] instead (SURVEY.md §7 "Outstanding-rentals recompute needs
    # global history"); with the O(n + weeks) one-plan summary this costs the
    # same and keeps incremental ≡ full recompute exactly.
    min_dirty = min(affected)
    summary = weekly_rental_summary(rental)
    updates = (
        summary.where(F.col("week_beginning") >= F.lit(min_dirty))
        .select(
            "week_beginning",
            F.col("outstanding_rentals_at_week_end")
            .cast("int")
            .alias("OutstandingRentals"),
            F.col("returned_rentals_during_week").cast("int").alias("ReturnedRentals"),
            F.col("newly_rented_during_week").cast("int"),
            F.col("net_change_in_outstanding").cast("int"),
            F.current_timestamp().alias("last_updated"),
        )
        # materialize the (weeks-sized) update set once: it is consumed by
        # the row-count probe AND the MERGE write, and each reference would
        # otherwise re-execute the full data-sized summary plan
        .localCheckpoint(eager=False)
    )
    n_weeks_written = updates.count()
    merge_upsert(spark, target_dir, updates, key=["week_beginning"])

    # --- Step 5: advance watermark AFTER the summary commit (O-8) ------------
    store.write(ETL_PROCESS_NAME, cur_max)
    return IncrementalRunReport(
        previous_watermark=prev_wm,
        new_watermark=cur_max,
        delta_rows=delta_rows,
        affected_weeks=affected,
        weeks_written=n_weeks_written,
        watermark_reset=watermark_reset,
    )
