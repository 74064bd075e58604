"""Airflow DAG adapter — same orchestration surface as the reference's
pagila_weekly_summary_dag.py:51-68 (dag_id, manual trigger, catchup off,
single task), driving the Spark engine instead of psycopg2.

Import-safe without Airflow installed (the container has none): the DAG is
only constructed when the `airflow` package is importable.
"""

from __future__ import annotations

import os


def _run(**context) -> None:
    from pagila_etl_airflow_assignment_spark.jobs.weekly_summary import main

    main(
        [
            "--source", os.environ.get("PAGILA_SOURCE_DIR", "/data/pagila"),
            "--target", os.environ.get("PAGILA_TARGET_DIR", "/data/rollup/weekly_rental_summary"),
            "--state", os.environ.get("PAGILA_STATE_DIR", "/data/rollup/etl_watermarks"),
        ]
    )


try:  # pragma: no cover - exercised only inside a real Airflow deployment
    from airflow import DAG
    from airflow.operators.python import PythonOperator
    import pendulum

    with DAG(
        dag_id="pagila_weekly_summary_etl",
        start_date=pendulum.datetime(2025, 1, 1, tz="UTC"),
        schedule=None,  # manual trigger, like the reference (dag.py:53)
        catchup=False,
        tags=["pagila", "etl", "spark"],
    ) as dag:
        PythonOperator(
            task_id="run_full_pagila_etl",
            python_callable=_run,
        )
except ImportError:
    dag = None
