"""Seeded input generators for the benchmark.

Every generator takes a ``seed`` and returns the same bytes for the same seed:
values come from one ``numpy.random.Generator`` and files are written by
pyarrow with a fixed row-group size and no write timestamps.

- ``RentalHistory``: a Pagila-shaped ``rental`` base table plus ordered
  mutation batches (FIXTURES.md §1 and §2). Snapshot ``i`` is the base with
  batches ``1..i`` applied.
- ``write_opmix_tables``: the TPC-H-like tables (``orders``, ``lineitem``,
  ``events``, ``documents``, ``embeddings``) the operator-mix queries read.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

US_PER_S = 1_000_000
US_PER_HOUR = 3600 * US_PER_S
US_PER_DAY = 24 * US_PER_HOUR
US_PER_WEEK = 7 * US_PER_DAY

# 2024-01-01 is a Monday: week w of the history starts at EPOCH + w weeks.
EPOCH = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
BASE_WEEKS = 52


def _ts(us: np.ndarray) -> pa.Array:
    """int64 microseconds -> naive (UTC) parquet TIMESTAMP(MICROS)."""
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def write_table(table: pa.Table, path: str, files: int, row_group_rows: int) -> dict:
    """Write ``table`` as ``files`` parquet files under directory ``path``.

    Returns the layout (files, row groups, rows) so it can be recorded."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, files + 1).astype(int)
    row_groups = 0
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(
            part,
            os.path.join(path, f"part-{i:03d}.parquet"),
            row_group_size=row_group_rows,
            compression="snappy",
        )
        row_groups += -(-part.num_rows // row_group_rows)
    return {"rows": n, "files": files, "row_groups": row_groups}


def _base_rental(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """``n`` rentals over BASE_WEEKS weeks with the FIXTURES.md §1 edge cases."""
    # Week volumes: Poisson-ish around a seasonal curve, with two interior
    # zero-rental weeks (they still receive returns: "returns, no rentals").
    weeks = np.arange(BASE_WEEKS)
    weight = 1.0 + 0.4 * np.sin(weeks / BASE_WEEKS * 2 * np.pi) + rng.uniform(0, 0.3, BASE_WEEKS)
    gap_weeks = rng.choice(np.arange(5, BASE_WEEKS - 5), size=2, replace=False)
    weight[gap_weeks] = 0.0
    week = rng.choice(weeks, size=n, p=weight / weight.sum())
    rental = EPOCH + week * US_PER_WEEK + rng.integers(0, US_PER_WEEK, n)

    # Return delay: 1 h .. 45 d for most, a tail of returns many weeks later.
    delay = rng.integers(US_PER_HOUR, 45 * US_PER_DAY, n)
    late = rng.random(n) < 0.05
    delay[late] = rng.integers(45 * US_PER_DAY, 200 * US_PER_DAY, int(late.sum()))
    ret = rental + delay
    # One interior week receives no returns ("rentals, no returns"): returns
    # that would land in it are pushed one week later.
    no_return_week = int(rng.integers(10, BASE_WEEKS - 10))
    while no_return_week in gap_weeks:
        no_return_week += 1
    lo = EPOCH + no_return_week * US_PER_WEEK
    ret[(ret >= lo) & (ret < lo + US_PER_WEEK)] += US_PER_WEEK

    # Exact week-boundary instants: Monday 00:00:00, Sunday 00:00:00 and
    # Sunday 23:59:59 on both the rental and the return side.
    k = max(n // 200, 3)
    for offset in (0, 6 * US_PER_DAY, US_PER_WEEK - US_PER_S):
        idx = rng.choice(n, size=k, replace=False)
        rental[idx] = EPOCH + week[idx] * US_PER_WEEK + offset
        idx = rng.choice(n, size=k, replace=False)
        w = (ret[idx] - EPOCH) // US_PER_WEEK
        ret[idx] = np.maximum(EPOCH + w * US_PER_WEEK + offset, rental[idx] + US_PER_S)

    # ~15% still open; some of them are months old.
    open_ = rng.random(n) < 0.15
    last = np.where(open_, rental, ret) + rng.integers(0, US_PER_HOUR, n)
    order = np.argsort(rental, kind="stable")
    return {
        "rental_date": rental[order],
        "return_date": ret[order],
        "open": open_[order],
        "last_update": last[order],
    }


@dataclass
class RentalHistory:
    """Base ``rental`` table and its ordered mutation batches.

    Columns are held as numpy arrays (microseconds); ``rental_id`` is
    ``index + 1``. ``apply_next`` applies one batch in place; ``write``
    materialises the current snapshot."""

    seed: int
    base_rows: int
    inserts_per_batch: int
    updates_per_batch: int
    rng: np.random.Generator = field(init=False)
    cols: dict[str, np.ndarray] = field(init=False)
    batches_applied: int = field(init=False, default=0)

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng([self.seed, 0x7E27A1])
        self.cols = _base_rental(self.rng, self.base_rows)

    @property
    def rows(self) -> int:
        return len(self.cols["rental_date"])

    def apply_next(self) -> None:
        """One mutation batch: tail inserts after the newest rental, and
        ``update_return`` on open rentals (some months old). Every touched
        row gets a ``last_update`` strictly above every earlier value, so the
        watermark advances."""
        rng, c = self.rng, self.cols
        stamp = int(c["last_update"].max()) + US_PER_S
        open_idx = np.flatnonzero(c["open"])
        upd = rng.choice(open_idx, size=min(self.updates_per_batch, len(open_idx)), replace=False)
        # Returns land between the rental and a day after the newest activity.
        newest = int(max(c["rental_date"].max(), c["return_date"][~c["open"]].max()))
        span = np.maximum(newest + US_PER_DAY - c["rental_date"][upd], US_PER_HOUR)
        c["return_date"][upd] = c["rental_date"][upd] + rng.integers(US_PER_HOUR // 2, span)
        c["open"][upd] = False
        c["last_update"][upd] = stamp + rng.integers(0, US_PER_HOUR, len(upd))

        m = self.inserts_per_batch
        start = int(c["rental_date"].max())
        rental = start + np.sort(rng.integers(0, 2 * US_PER_DAY, m))
        ret = rental + rng.integers(US_PER_HOUR, 30 * US_PER_DAY, m)
        open_ = rng.random(m) < 0.15
        last = np.maximum(stamp, np.where(open_, rental, ret)) + rng.integers(0, US_PER_HOUR, m)
        for name, new in (("rental_date", rental), ("return_date", ret), ("open", open_), ("last_update", last)):
            c[name] = np.concatenate([c[name], new])
        self.batches_applied += 1

    def table(self) -> pa.Table:
        c = self.cols
        n = self.rows
        ret = _ts(c["return_date"])
        ret = pc.if_else(pa.array(c["open"]), pa.nulls(n, pa.timestamp("us")), ret)
        return pa.table(
            {
                "rental_id": pa.array(np.arange(1, n + 1, dtype=np.int64)),
                "rental_date": _ts(c["rental_date"]),
                "return_date": ret,
                "last_update": _ts(c["last_update"]),
            }
        )

    def write(self, path: str, files: int, row_group_rows: int) -> dict:
        return write_table(self.table(), path, files, row_group_rows)


# --- operator-mix tables -----------------------------------------------------

_WORDS = (
    "a the join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window spark part group big sort "
    "query fast"
).split()
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_DAY0 = np.datetime64("1995-01-01T00:00:00", "us").astype(np.int64)


def _orders(rng: np.random.Generator, n: int, customers: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, customers, n, dtype=np.int64)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
            "o_orderdate": _ts(_DAY0 + rng.integers(0, 2404, n) * US_PER_DAY),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n)),
        }
    )


def _lineitem(rng: np.random.Generator, n: int, orders: int, parts: int, suppliers: int) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": pa.array(np.sort(rng.integers(0, orders, n, dtype=np.int64))),
            "l_partkey": pa.array(rng.integers(0, parts, n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, suppliers, n, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": _ts(_DAY0 + rng.integers(1, 2500, n) * US_PER_DAY),
        }
    )


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    gaps = rng.exponential(260.0, n) * US_PER_S
    ts = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64) + np.cumsum(gaps).astype(np.int64)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(25.0, n) + 0.01, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random texts over a 30-word vocabulary; ~5% are near-duplicates of an
    earlier document (a few tokens edited, ``dup`` appended)."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), 2):
                toks[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(toks + ["dup"]))
        else:
            toks = rng.choice(_WORDS, int(rng.integers(10, 100)))
            texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, n)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centers = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    vec = centers[label] + rng.normal(0, 0.6, (n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype(np.float32).ravel())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat),
            "label": pa.array(label.astype(np.int32)),
        }
    )


# Rows per table: the sf0.01 shape of the repo's fixtures, so one pass over
# the operator-mix queries stays a few seconds on 4 cores.
OPMIX_ROWS = {"orders": 15_000, "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500}


def write_opmix_tables(seed: int, out_dir: str) -> dict:
    """Write the operator-mix tables as ``<out_dir>/<name>.parquet`` (one
    file each, like the fixtures ``sources.parquet.load_table`` reads)."""
    rng = np.random.default_rng([seed, 0x0B5])
    rows = OPMIX_ROWS
    # key ranges as in the fixtures: 1,500 customers, 2,000 parts, 100
    # suppliers, 150 users at sf0.01
    tables = {
        "orders": _orders(rng, rows["orders"], customers=1_500),
        "lineitem": _lineitem(rng, rows["lineitem"], rows["orders"], parts=2_000, suppliers=100),
        "events": _events(rng, rows["events"], users=150),
        "documents": _documents(rng, rows["documents"]),
        "embeddings": _embeddings(rng, rows["embeddings"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    layout = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        layout[name] = {"rows": table.num_rows, "files": 1, "row_groups": 1}
    return layout


# --- per-workload inputs --------------------------------------------------------

# incremental_etl: base table and mutation batches (FIXTURES.md §2).
INCREMENTAL = {"base_rows": 200_000, "inserts_per_batch": 500, "updates_per_batch": 200, "files": 4, "row_group_rows": 25_000}


@dataclass
class Inputs:
    data_dir: str
    layout: dict
    history: RentalHistory | None = None


def generate(workload: str, seed: int, data_dir: str) -> Inputs:
    """Write ``workload``'s inputs for ``seed`` under ``data_dir``.

    The incremental snapshot ``<data_dir>/rental.parquet`` is a directory of
    part files, read by ``sources.parquet.load_table(spark, data_dir,
    "rental")``; the operator-mix tables are one file each."""
    if workload == "incremental_etl":
        rental_dir = os.path.join(data_dir, "rental.parquet")
        c = INCREMENTAL
        history = RentalHistory(seed, c["base_rows"], c["inserts_per_batch"], c["updates_per_batch"])
        layout = history.write(rental_dir, c["files"], c["row_group_rows"])
        return Inputs(data_dir, {"rental": layout}, history)
    if workload == "operator_mix":
        return Inputs(data_dir, write_opmix_tables(seed, data_dir))
    raise ValueError(f"unknown workload {workload!r}")
