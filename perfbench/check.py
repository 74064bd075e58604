"""Output checks against DuckDB oracles, run outside every timed region.

The weekly summary oracle is the repo's own ``ref.sql`` transliteration
(``plans.weekly_summary.oracle_weekly_summary_sql``) with its ``rental``
derivation swapped for the generated parquet snapshot. Registry queries are
checked against ``registry.oracle_sql()`` over the generated tables.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb

from pagila_etl_airflow_assignment_spark.plans.weekly_summary import oracle_weekly_summary_sql
from pagila_etl_airflow_assignment_spark.sources.rental import RENTAL_DUCKDB_SQL

# Target-table columns in the order of the oracle's summary columns.
TARGET_COLUMNS = (
    "week_beginning",
    "newly_rented_during_week",
    "ReturnedRentals",
    "net_change_in_outstanding",
    "OutstandingRentals",
)


def _over_snapshot(sql: str, rental_dir: str) -> str:
    """Point an oracle's ``rental`` CTE at the parquet files in ``rental_dir``."""
    if RENTAL_DUCKDB_SQL not in sql:
        raise ValueError("oracle SQL no longer embeds the rental derivation")
    src = os.path.join(rental_dir, "*.parquet")
    return sql.replace(
        RENTAL_DUCKDB_SQL,
        f"SELECT rental_id, rental_date, return_date, last_update FROM read_parquet('{src}')",
    )


def connect(work_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb-tmp')}'")
    return con


def oracle_weekly(con, rental_dir: str) -> list[tuple]:
    return [tuple(r) for r in con.sql(_over_snapshot(oracle_weekly_summary_sql(), rental_dir)).fetchall()]


def target_rows(con, target_dir: str) -> list[tuple]:
    cols = ", ".join(f'"{c}"' for c in TARGET_COLUMNS)
    src = os.path.join(target_dir, "*.parquet")
    return [tuple(r) for r in con.sql(f"SELECT {cols} FROM read_parquet('{src}') ORDER BY 1").fetchall()]


def summary_matches(con, target_dir: str, rental_dir: str) -> bool:
    """The incremental target table equals ref.sql over the snapshot."""
    return target_rows(con, target_dir) == oracle_weekly(con, rental_dir)


# --- registry queries ----------------------------------------------------------


def _norm(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def value_hash(cols, rows) -> str:
    """Order-insensitive hash of a result, columns taken in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("|".join(_norm(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def register_tables(con, data_dir: str, tables) -> None:
    for name in tables:
        path = os.path.join(data_dir, f"{name}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')")


def oracle_result(con, sql: str) -> tuple[int, str]:
    """(row count, value hash) of an oracle query."""
    rel = con.sql(sql)
    cols = list(rel.columns)
    rows = rel.fetchall()
    return len(rows), value_hash(cols, rows)
