"""Tests of the benchmark itself.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
The tests marked ``slow`` start the benchmark as a subprocess (about a
minute each).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate(workload: str, seed: int, out: str, batches: int = 0) -> dict[str, str]:
    inputs = gen.generate(workload, seed, out)
    for b in range(batches):
        inputs.history.apply_next()
        c = gen.INCREMENTAL
        inputs.history.write(os.path.join(out, f"batch{b}"), c["files"], c["row_group_rows"])
    return _digest(out)


@pytest.mark.parametrize("workload", ["incremental_etl", "operator_mix"])
def test_generator_is_byte_identical_per_seed(tmp_path, workload):
    batches = 2 if workload == "incremental_etl" else 0
    a = _generate(workload, 7, str(tmp_path / "a"), batches)
    b = _generate(workload, 7, str(tmp_path / "b"), batches)
    c = _generate(workload, 8, str(tmp_path / "c"), batches)
    assert a and a == b
    assert a != c


def test_rental_covers_fixture_edge_cases():
    h = gen.RentalHistory(3, 20_000, 100, 50)
    t = h.table().to_pandas()
    rental, ret = t["rental_date"], t["return_date"]
    week = lambda s: s.dt.to_period("W-SUN").dt.start_time  # noqa: E731
    # ~15% open rentals
    assert 0.12 < ret.isna().mean() < 0.18
    # exact Monday 00:00:00, Sunday 00:00:00 and Sunday 23:59:59 instants
    for col in (rental, ret.dropna()):
        tod = col - col.dt.normalize()
        assert ((col.dt.dayofweek == 0) & (tod == pd_td(0))).any()
        assert ((col.dt.dayofweek == 6) & (tod == pd_td(0))).any()
        assert ((col.dt.dayofweek == 6) & (tod == pd_td(86399))).any()
    # returns many weeks after the rental
    assert ((ret - rental).dt.days > 60).any()
    # weeks with returns but no rentals, and with rentals but no returns
    rented, returned = set(week(rental)), set(week(ret.dropna()))
    span = set(week(days(rental.min(), rental.max())))
    assert (returned & span) - rented
    assert (rented - returned) & span - {min(span)}
    # every batch advances the watermark
    before = t["last_update"].max()
    h.apply_next()
    after = h.table().to_pandas()
    assert after["last_update"].max() > before
    changed = after["last_update"] > before
    assert changed.sum() == 150


def pd_td(seconds: int):
    import pandas as pd

    return pd.Timedelta(seconds=seconds)


def days(lo, hi):
    import pandas as pd

    return pd.Series(pd.date_range(lo.normalize(), hi, freq="D"))


def _write_target(rows: list[tuple], path: str) -> None:
    cols = list(zip(*rows))
    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {
            "week_beginning": pa.array(cols[0], pa.date32()),
            "OutstandingRentals": pa.array(cols[4], pa.int32()),
            "ReturnedRentals": pa.array(cols[2], pa.int32()),
            "newly_rented_during_week": pa.array(cols[1], pa.int32()),
            "net_change_in_outstanding": pa.array(cols[3], pa.int32()),
            "last_updated": pa.array([dt.datetime(2024, 1, 1)] * len(rows), pa.timestamp("us")),
        }
    )
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def test_oracle_check_catches_a_corrupted_summary_row(tmp_path):
    inputs = gen.generate("incremental_etl", 5, str(tmp_path / "data"))
    rental_dir = str(tmp_path / "data" / "rental.parquet")
    con = check.connect(str(tmp_path))
    rows = check.oracle_weekly(con, rental_dir)
    assert len(rows) > 50 and inputs.layout["rental"]["files"] > 1

    good = str(tmp_path / "good")
    _write_target(rows, good)
    assert check.summary_matches(con, good, rental_dir)

    bad_rows = list(rows)
    i = len(bad_rows) // 2
    bad_rows[i] = bad_rows[i][:4] + (bad_rows[i][4] + 1,)  # one outstanding count off by one
    bad = str(tmp_path / "bad")
    _write_target(bad_rows, bad)
    assert not check.summary_matches(con, bad, rental_dir)

    short = str(tmp_path / "short")
    _write_target(rows[:-1], short)  # a week missing
    assert not check.summary_matches(con, short, rental_dir)


def test_value_hash_ignores_row_and_column_order():
    a = check.value_hash(["x", "y"], [(1, 2.0), (3, 4.0)])
    assert a == check.value_hash(["y", "x"], [(4.0, 3), (2.0, 1)])
    assert a != check.value_hash(["x", "y"], [(1, 2.0), (3, 4.5)])


def test_workloads_match_benchmark_json():
    from perfbench import run, workloads

    names = [w["name"] for w in BENCHMARK["workloads"]]
    assert sorted(names) == sorted(workloads.WORKLOADS) == sorted(run.WORKLOAD_NAMES)


def _bench(tmp_root: str, workload: str, seed: int, trace: int) -> tuple[int, dict | None, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=tmp_root,
        capture_output=True,
        text=True,
        timeout=300,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    return proc.returncode, result, proc.stderr


@pytest.mark.slow
def test_emitted_metric_names_and_repeatable_job_counts():
    """Untraced runs emit exactly the end-to-end metrics, traced runs exactly
    the per-layer metrics, and the traced job count of an incremental run
    repeats exactly across two runs."""
    e2e = [m["name"] for m in BENCHMARK["end_to_end"]]
    layer = [m["name"] for m in BENCHMARK["per_layer"]]
    jobs = []
    for seed in (1, 2):
        code, result, err = _bench(ROOT, "incremental_etl", seed, 1)
        assert code == 0, err[-3000:]
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        assert sorted(result["metrics"]) == sorted(layer)
        jobs.append(result["metrics"]["incremental.spark_jobs_per_run"]["value"])
        assert result["metrics"]["incremental.weeks_written_per_run"]["value"] > 0
    assert jobs[0] == jobs[1] > 0

    code, result, err = _bench(ROOT, "operator_mix", 1, 0)
    assert code == 0, err[-3000:]
    assert sorted(result["metrics"]) == sorted(e2e)
    units = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert all(v["unit"] == units[k] and v["value"] > 0 for k, v in result["metrics"].items())


@pytest.mark.slow
def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the run
    exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    code, result, _ = _bench(str(tmp_path), "incremental_etl", 1, 0)
    assert code != 0 and result is None
    assert not (tmp_path / ".perfbench_work").exists()


def test_percentile_interpolates():
    from perfbench.metrics import percentile

    assert percentile([1.0, 2.0, 3.0, 4.0, 5.0], 0.5) == 3.0
    assert percentile([1.0, 2.0], 0.9) == pytest.approx(1.9)
    assert percentile(list(np.arange(11.0)), 0.9) == pytest.approx(9.0)
