"""T2 protocol property tests (SURVEY.md §5): the differential checks the
reference intended but never automated.

(a) idempotency            — rerun on same input leaves target unchanged
(b) incremental ≡ full     — after K mutation batches, target == full recompute
(c) from-empty bootstrap   — empty target ⇒ watermark reset ⇒ full history
(d) no-op run              — no changes ⇒ watermark advances, zero writes
(e) crash safety           — crash between summary write and watermark ⇒ rerun converges

Crashes are injected by monkeypatching the runner's module seams
(``WatermarkStore.write``, ``runner.weekly_rental_summary``,
``runner.merge_upsert``); the runner itself has no fault hooks.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from pagila_etl_airflow_assignment_spark.incremental import (
    DEFAULT_WATERMARK_START,
    WatermarkStore,
    run_incremental,
    runner,
)
from pagila_etl_airflow_assignment_spark.incremental.runner import ETL_PROCESS_NAME
from pagila_etl_airflow_assignment_spark.incremental.upsert import read_parquet_table
from pagila_etl_airflow_assignment_spark.plans.weekly_summary import (
    weekly_rental_summary,
)
from pagila_etl_airflow_assignment_spark.schemas import RENTAL
from pagila_etl_airflow_assignment_spark.sources.parquet import load_table
from pagila_etl_airflow_assignment_spark.sources.rental import rental_view

from conftest import SF_SMALL


@pytest.fixture(scope="module")
def rental(spark):
    return rental_view(load_table(spark, SF_SMALL, "orders")).cache()


@pytest.fixture()
def dirs():
    root = tempfile.mkdtemp(prefix="inc-test-")
    yield f"{root}/target", f"{root}/state"
    shutil.rmtree(root, ignore_errors=True)


def _target_rows(spark, target_dir):
    """Target contents minus the nondeterministic audit column (SURVEY H-8)."""
    df = read_parquet_table(spark, target_dir)
    assert df is not None
    return sorted(
        tuple(r) for r in df.drop("last_updated").collect()
    )


def _full_recompute_rows(rental_df):
    return sorted(
        (
            r.week_beginning,
            r.outstanding_rentals_at_week_end,
            r.returned_rentals_during_week,
            r.newly_rented_during_week,
            r.net_change_in_outstanding,
        )
        for r in weekly_rental_summary(rental_df).collect()
    )


def test_bootstrap_and_incremental_equals_full(spark, rental, dirs):
    """(b)+(c): from-empty bootstrap, then 3 insert batches (snapshots cut by
    last_update); after each incremental run, target == full recompute."""
    target_dir, state_dir = dirs
    # fixture activity spans 1995-01-01 .. 2001-08-01 (+45d returns)
    cuts = [dt.datetime(1996, 1, 1), dt.datetime(1999, 1, 1), dt.datetime(2005, 1, 1)]
    for i, cut in enumerate(cuts):
        snapshot = rental.where(F.col("last_update") <= F.lit(cut))
        report = run_incremental(spark, snapshot, target_dir, state_dir)
        assert report.watermark_reset == (i == 0)
        assert not report.noop
        assert _target_rows(spark, target_dir) == _full_recompute_rows(snapshot), (
            f"divergence after batch {i}"
        )


def test_update_months_old_row_heals_suffix(spark, rental, dirs):
    """(b) update case: a months-old rental gets its return_date changed
    (README.md:95-98 late-data scenario); incremental must converge to full."""
    target_dir, state_dir = dirs
    base = rental.where(F.col("last_update") <= F.lit(dt.datetime(1996, 1, 1)))
    run_incremental(spark, base, target_dir, state_dir)

    # mutate: pick an old returned rental, extend its return by 10 weeks,
    # touch last_update beyond the current max
    victim = base.where(F.col("return_date").isNotNull()).orderBy("rental_id").first()
    new_lu = dt.datetime(1996, 2, 1)
    mutated = base.where(F.col("rental_id") != victim.rental_id).unionByName(
        base.sparkSession.createDataFrame(
            [
                (
                    victim.rental_id,
                    victim.rental_date,
                    victim.return_date + dt.timedelta(weeks=10),
                    new_lu,
                )
            ],
            schema=RENTAL,
        )
    )
    report = run_incremental(spark, mutated, target_dir, state_dir)
    assert not report.noop
    assert report.delta_rows == 1
    assert _target_rows(spark, target_dir) == _full_recompute_rows(mutated)


def test_idempotent_rerun(spark, rental, dirs):
    """(a): second run on identical input is a no-op and changes nothing."""
    target_dir, state_dir = dirs
    run_incremental(spark, rental, target_dir, state_dir)
    before = _target_rows(spark, target_dir)
    report2 = run_incremental(spark, rental, target_dir, state_dir)
    assert report2.noop
    assert report2.weeks_written == 0
    assert _target_rows(spark, target_dir) == before


def test_noop_advances_watermark(spark, rental, dirs):
    """(d): watermark still advances to max(last_update) on a no-op run
    (etl_script_incremental_pandas.py:202-213)."""
    target_dir, state_dir = dirs
    r1 = run_incremental(spark, rental, target_dir, state_dir)
    store = WatermarkStore(spark, state_dir)
    assert store.read("pagila_weekly_rental_summary") == r1.new_watermark
    r2 = run_incremental(spark, rental, target_dir, state_dir)
    assert r2.noop and r2.new_watermark == r1.new_watermark


def _files(*dirs):
    """Every file under ``dirs`` with its modification time."""
    return {
        os.path.join(root, f): os.stat(os.path.join(root, f)).st_mtime_ns
        for d in dirs
        for root, _, fs in os.walk(d)
        for f in fs
    }


def test_noop_on_unchanged_snapshot_writes_nothing(spark, rental, dirs):
    """(d) at an unchanged watermark: the state and target files stay as
    they are; a reset run and a run that advances the watermark still
    write the state."""
    target_dir, state_dir = dirs
    base = rental.where(F.col("last_update") <= F.lit(dt.datetime(1996, 1, 1)))
    r1 = run_incremental(spark, base, target_dir, state_dir)
    assert r1.watermark_reset and os.listdir(state_dir)
    store = WatermarkStore(spark, state_dir)
    assert store.read(ETL_PROCESS_NAME) == r1.new_watermark

    before = _files(target_dir, state_dir)
    r2 = run_incremental(spark, base, target_dir, state_dir)
    assert r2.noop and r2.new_watermark == r2.previous_watermark
    assert _files(target_dir, state_dir) == before

    # reset: an emptied target forces a reload from the 1900 default
    shutil.rmtree(target_dir)
    state_before = _files(state_dir)
    r3 = run_incremental(spark, base, target_dir, state_dir)
    assert r3.watermark_reset and not r3.noop
    assert _files(state_dir) != state_before

    # advance: a grown snapshot moves the watermark forward
    grown = rental.where(F.col("last_update") <= F.lit(dt.datetime(1997, 1, 1)))
    state_before = _files(state_dir)
    r4 = run_incremental(spark, grown, target_dir, state_dir)
    assert r4.new_watermark > r3.new_watermark
    assert _files(state_dir) != state_before
    assert store.read(ETL_PROCESS_NAME) == r4.new_watermark


@contextlib.contextmanager
def _crash_at(monkeypatch, point):
    """Make the next run raise ``injected crash at <point>`` at that protocol
    boundary, through the runner's existing module seams:

    * ``after_reset``      — the step-0 watermark reset is written, then raises
    * ``after_window``     — the window is read; the summary recompute raises
    * ``before_merge``     — the updates are computed; the MERGE raises
    * ``before_watermark`` — the MERGE commits, then raises (O-8 certificate)
    """

    def crash(*_args, **_kwargs):
        raise RuntimeError(f"injected crash at {point}")

    def then_crash(fn):
        def wrapped(*args, **kwargs):
            fn(*args, **kwargs)
            crash()

        return wrapped

    with monkeypatch.context() as mp:
        if point == "after_reset":
            mp.setattr(WatermarkStore, "write", then_crash(WatermarkStore.write))
        elif point == "after_window":
            mp.setattr(runner, "weekly_rental_summary", crash)
        elif point == "before_merge":
            mp.setattr(runner, "merge_upsert", crash)
        else:
            assert point == "before_watermark", point
            mp.setattr(runner, "merge_upsert", then_crash(runner.merge_upsert))
        with pytest.raises(RuntimeError, match=f"injected crash at {point}"):
            yield


def test_crash_between_merge_and_watermark_converges(spark, rental, dirs, monkeypatch):
    """(e): crash after summary MERGE but before watermark advance; the rerun
    reprocesses the same half-open window and converges (O-8 ordering)."""
    target_dir, state_dir = dirs
    base = rental.where(F.col("last_update") <= F.lit(dt.datetime(1996, 1, 1)))
    run_incremental(spark, base, target_dir, state_dir)

    grown = rental.where(F.col("last_update") <= F.lit(dt.datetime(1998, 1, 1)))
    with _crash_at(monkeypatch, "before_watermark"):
        run_incremental(spark, grown, target_dir, state_dir)
    # watermark must NOT have advanced
    store = WatermarkStore(spark, state_dir)
    wm = store.read("pagila_weekly_rental_summary")
    assert wm < dt.datetime(1998, 1, 1)

    report = run_incremental(spark, grown, target_dir, state_dir)
    assert not report.noop  # the window was reprocessed
    assert _target_rows(spark, target_dir) == _full_recompute_rows(grown)


@pytest.mark.parametrize(
    "schedule",
    [
        {0: "after_reset"},
        {1: "after_window"},
        {1: "before_merge"},
        {2: "before_watermark", 3: "before_merge"},  # double fault
        {0: "after_reset", 1: "after_window", 2: "before_merge", 3: "before_watermark"},
    ],
    ids=["reset", "window", "merge", "double", "every-step"],
)
def test_crash_at_any_boundary_converges(spark, rental, dirs, schedule, monkeypatch):
    """(e) generalized: crash the protocol at ANY named boundary, at any step
    of a 4-batch growth sequence (including repeated faults), then rerun —
    the target must equal the full recompute of the current snapshot after
    every healed step. This is the end-to-end certificate that the O-8
    write ordering (summary commit BEFORE watermark advance) makes every
    boundary crash recoverable by plain rerun."""
    target_dir, state_dir = dirs
    cuts = [
        dt.datetime(1996, 1, 1),
        dt.datetime(1997, 6, 1),
        dt.datetime(1999, 1, 1),
        dt.datetime(2005, 1, 1),
    ]
    for step, cut in enumerate(cuts):
        snapshot = rental.where(F.col("last_update") <= F.lit(cut))
        point = schedule.get(step)
        if point is not None:
            with _crash_at(monkeypatch, point):
                run_incremental(spark, snapshot, target_dir, state_dir)
        run_incremental(spark, snapshot, target_dir, state_dir)
        assert _target_rows(spark, target_dir) == _full_recompute_rows(snapshot), (
            f"divergence after crash at {point!r} in step {step}"
        )
    # a final clean rerun is a no-op: the healed state is also quiescent
    final = run_incremental(spark, rental.where(F.col("last_update") <= F.lit(cuts[-1])),
                            target_dir, state_dir)
    assert final.noop


def _parquet_bytes(*dirs):
    """Every parquet file under ``dirs`` with its contents."""
    return {
        os.path.join(root, f): Path(root, f).read_bytes()
        for d in dirs
        for root, _, fs in os.walk(d)
        for f in fs
        if f.endswith(".parquet")
    }


@pytest.mark.parametrize("point", ["after_window", "before_merge"])
def test_pre_merge_crash_is_read_only(spark, rental, dirs, monkeypatch, point):
    """Every step before the MERGE is read-only on a non-empty target: a
    crash there leaves the target's and the state's parquet files
    byte-for-byte as they were."""
    target_dir, state_dir = dirs
    base = rental.where(F.col("last_update") <= F.lit(dt.datetime(1996, 1, 1)))
    run_incremental(spark, base, target_dir, state_dir)
    before = _parquet_bytes(target_dir, state_dir)
    assert before

    grown = rental.where(F.col("last_update") <= F.lit(dt.datetime(1998, 1, 1)))
    with _crash_at(monkeypatch, point):
        run_incremental(spark, grown, target_dir, state_dir)
    assert _parquet_bytes(target_dir, state_dir) == before


def test_dag_callable_runs_the_cli_job(monkeypatch):
    """The Airflow callable is the CLI job with the env-derived dirs."""
    from pagila_etl_airflow_assignment_spark.airflow_dags import weekly_summary_dag
    from pagila_etl_airflow_assignment_spark.jobs import weekly_summary

    calls = []
    monkeypatch.setattr(weekly_summary, "main", calls.append)
    monkeypatch.setenv("PAGILA_SOURCE_DIR", "/src")
    monkeypatch.setenv("PAGILA_TARGET_DIR", "/tgt")
    monkeypatch.setenv("PAGILA_STATE_DIR", "/st")
    weekly_summary_dag._run()
    assert calls == [["--source", "/src", "--target", "/tgt", "--state", "/st"]]


def test_watermark_store_default_and_roundtrip(spark, dirs):
    _, state_dir = dirs
    store = WatermarkStore(spark, state_dir)
    assert store.read("anything") == DEFAULT_WATERMARK_START
    ts = dt.datetime(2001, 2, 3, 4, 5, 6)
    store.write("p1", ts)
    store.write("p2", dt.datetime(1999, 1, 1))
    store.write("p1", ts + dt.timedelta(days=1))  # upsert overwrites
    assert store.read("p1") == ts + dt.timedelta(days=1)
    assert store.read("p2") == dt.datetime(1999, 1, 1)
