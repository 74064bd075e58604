"""The benchmark's workloads.

Each workload is driven closed loop by one client: ``run.py`` times
``op(spark, i)``; everything else a workload does (writing the next snapshot,
checking outputs) happens outside the timed region. Ops are grouped in
cycles, and a run measures whole cycles, so every run sees the same op mix.

- ``incremental_etl``: one scheduled trigger of the incremental protocol per
  op; a cycle is four triggers on fresh mutation batches and one replay of
  an unchanged snapshot (a no-op run).
- ``operator_mix``: one registry query forced with ``count()`` per op; a
  cycle is one pass over the query list in a seeded order.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from pagila_etl_airflow_assignment_spark import queries as top_queries
from pagila_etl_airflow_assignment_spark import registry
from pagila_etl_airflow_assignment_spark.incremental import runner, watermark
from pagila_etl_airflow_assignment_spark.llm import queries as llm_queries
from pagila_etl_airflow_assignment_spark.operators import queries as operator_queries
from pagila_etl_airflow_assignment_spark.sources import parquet as sources
from pagila_etl_airflow_assignment_spark.streaming import queries as streaming_queries

from . import check, gen


class Workload:
    name = ""
    cycle = 1  # ops per measured cycle
    warm_up = 1  # ops after the first, cold op that are not measured

    def __init__(self, work_dir: str, seed: int, inputs: gen.Inputs):
        self.work_dir = work_dir
        self.seed = seed
        self.inputs = inputs
        self.data_dir = inputs.data_dir
        self.tracer = None
        self.spark = None
        self.con = check.connect(work_dir)

    def prepare(self) -> None:
        """Compute oracle results (untimed, after set-up)."""

    def trace(self, tracer) -> None:
        """Wrap the layer functions this workload reaches (traced run only)."""
        self.tracer = tracer
        tracer.wrap(sources, "load_table", "sources.load")

    def before(self, i: int, measured: int | None) -> None:
        """Untimed work ahead of op ``i``; ``measured`` is the op's index in
        the measured window, or None for the first op and warm-up."""

    def op(self, spark, i: int):
        raise NotImplementedError

    def check(self, i: int, result) -> bool:
        """Whether op ``i``'s output is correct (untimed)."""
        return True

    def kind(self, i: int) -> str:
        return "op"

    def source_rows(self, i: int) -> int:
        """Rows of the source table op ``i`` reads."""
        raise NotImplementedError

    def close(self) -> None:
        self.con.close()

    def span(self, name: str, fn):
        return fn() if self.tracer is None else self.tracer.call(name, fn)


class IncrementalEtl(Workload):
    name = "incremental_etl"
    cycle = 5  # four apply triggers, then a no-op replay
    # Apply-trigger latency settles after about three warm triggers on a
    # fresh JVM (e.g. 3.8, 3.0, 2.5, then 2.3-2.5 s on 4 cores).
    warm_up = 3

    def prepare(self) -> None:
        self.history = self.inputs.history
        self.rental_dir = os.path.join(self.data_dir, "rental.parquet")
        self.target = os.path.join(self.work_dir, "weekly_rental_summary")
        self.state = os.path.join(self.work_dir, "etl_watermarks")
        self.kinds: dict[int, str] = {}
        self.rows: dict[int, int] = {}
        self.weeks_written: dict[int, int] = {}
        self.weeks_changed: dict[int, int] = {}
        self.files_written: dict[int, int] = {}

    def trace(self, tracer) -> None:
        super().trace(tracer)
        tracer.wrap(runner, "run_incremental", "incremental.run")
        tracer.wrap(runner, "merge_upsert", "incremental.merge_upsert")
        tracer.wrap(runner, "read_parquet_table", "incremental.read_table")
        tracer.wrap(runner, "weekly_rental_summary", "plans.summary")
        tracer.wrap(watermark.WatermarkStore, "read", "incremental.watermark_read")
        tracer.wrap(watermark.WatermarkStore, "write", "incremental.watermark_write")

    def before(self, i: int, measured: int | None) -> None:
        if i == 0:
            kind = "initial"  # empty target: the first trigger loads every week
        elif measured is not None and measured % self.cycle == self.cycle - 1:
            kind = "noop"  # replay the unchanged snapshot
        else:
            kind = "apply"
            self.history.apply_next()
            shutil.rmtree(self.rental_dir)
            c = gen.INCREMENTAL
            self.history.write(self.rental_dir, c["files"], c["row_group_rows"])
        self.kinds[i] = kind
        self.rows[i] = self.history.rows
        if self.tracer is not None:
            self._weeks_before = self._target_weeks()
            self._files_before = _parquet_files(self.target, self.state)

    def op(self, spark, i: int):
        rental = sources.load_table(spark, self.data_dir, "rental")
        return runner.run_incremental(spark, rental, self.target, self.state)

    def kind(self, i: int) -> str:
        return self.kinds[i]

    def source_rows(self, i: int) -> int:
        return self.rows[i]

    def check(self, i: int, report) -> bool:
        kind = self.kinds[i]
        self.weeks_written[i] = report.weeks_written
        if self.tracer is not None:
            after = self._target_weeks()
            self.weeks_changed[i] = sum(1 for w, v in after.items() if self._weeks_before.get(w) != v)
            self.files_written[i] = len(_parquet_files(self.target, self.state) - self._files_before)
        if report.noop != (kind == "noop"):
            return False
        # Checkpoints: the initial load and the end of every cycle. A run
        # measures whole cycles, so the last trigger is always checked.
        if kind in ("initial", "noop"):
            return check.summary_matches(self.con, self.target, self.rental_dir)
        return True

    def _target_weeks(self) -> dict:
        if not os.path.isdir(self.target):
            return {}
        return {row[0]: row[1:] for row in check.target_rows(self.con, self.target)}


def _parquet_files(*dirs: str) -> set[str]:
    """Paths of the parquet files under ``dirs``. Every write creates files
    under fresh names, so a set difference counts the files written."""
    return {
        os.path.join(root, f)
        for d in dirs
        for root, _, files in os.walk(d)
        for f in files
        if f.endswith(".parquet")
    }


# Registry queries of the operator mix: the module that registers each one
# and the table it reads.
OPMIX_QUERIES = {
    "weekly_rental_summary": ("queries", "orders"),
    "weekly_summary_monthly_rollup": ("queries", "orders"),
    "warehouse_cube_revenue": ("operators", "lineitem"),
    "cdc_orders_apply_roundtrip": ("operators", "orders"),
    "text_tfidf_topk": ("llm", "documents"),
    "text_curation_pipeline": ("llm", "documents"),
    "embedding_kmeans_step": ("llm", "embeddings"),
    "ann_ivf_topk": ("llm", "embeddings"),
    "events_sessionization": ("streaming", "events"),
    "events_streaming_dedup": ("streaming", "events"),
}
# The registry's weekly-summary queries run the ``plans`` layer end to end.
PLAN_SPANS = {"weekly_rental_summary": "plans.summary", "weekly_summary_monthly_rollup": "plans.rollup"}
OPMIX_MODULES = {"queries": top_queries, "operators": operator_queries, "llm": llm_queries, "streaming": streaming_queries}


class OperatorMix(Workload):
    name = "operator_mix"
    cycle = len(OPMIX_QUERIES)
    # The rest of the first pass and one more pass: pass medians on 4 cores
    # fall about 1.5 s -> 0.7 s -> 0.55 s over the first three passes.
    warm_up = 2 * len(OPMIX_QUERIES) - 1

    def prepare(self) -> None:
        self.fns = {n: f for n, f in registry.queries().items() if n in OPMIX_QUERIES}
        oracles = registry.oracle_sql()
        check.register_tables(self.con, self.data_dir, self.inputs.layout)
        self.oracle = {n: check.oracle_result(self.con, oracles[n]) for n in OPMIX_QUERIES}
        self.rng = np.random.default_rng([self.seed, 0x0A])
        self.order: list[str] = []
        self.names: dict[int, str] = {}

    def trace(self, tracer) -> None:
        super().trace(tracer)
        for module in OPMIX_MODULES.values():
            tracer.wrap(module, "load_table", "sources.load")
        tracer.wrap(top_queries, "load_rental", "sources.load")

    def before(self, i: int, measured: int | None) -> None:
        # The first pass runs the fixed list order, so the cold first op is
        # the same query for every seed; later passes run a seeded order.
        if not self.order:
            names = list(OPMIX_QUERIES)
            self.order = names if i == 0 else [str(n) for n in self.rng.permutation(names)]
        self.names[i] = self.order.pop(0)

    def source_rows(self, i: int) -> int:
        return self.inputs.layout[OPMIX_QUERIES[self.names[i]][1]]["rows"]

    def op(self, spark, i: int):
        # The first pass forces each query with collect(), so its values can
        # be checked without running it twice; later passes use count().
        name = self.names[i]
        force = (lambda df: df.collect()) if i < self.cycle else (lambda df: df.count())
        run = lambda: force(self.fns[name](spark, self.data_dir))  # noqa: E731
        if name in PLAN_SPANS:
            return self.span(f"query.{name}", lambda: self.span(PLAN_SPANS[name], run))
        return self.span(f"query.{name}", run)

    def check(self, i: int, result) -> bool:
        name = self.names[i]
        if i < self.cycle:
            return (len(result), check.value_hash(result[0].__fields__ if result else [], result)) == self.oracle[name]
        return result == self.oracle[name][0]


WORKLOADS = {w.name: w for w in (IncrementalEtl, OperatorMix)}
