"""End-to-end and per-layer metrics from one run's op records and spans.

Every timing is taken over the measured ops only (the first, cold op and the
warm-up ops are excluded); per-op values are summarised by their median.
Layers a workload does not reach report 0.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass

QUERY_MODULES = ("queries", "operators", "llm", "streaming")


@dataclass
class Op:
    index: int
    seconds: float
    kind: str  # "apply" / "noop" / "initial" on incremental_etl, else "op"
    measured: bool
    ok: bool
    overhead_s: float = 0.0  # tracer time inside the op


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


TAIL_Q = 0.9  # op_s_tail is the p90 of the warm ops


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def end_to_end(ops: list[Op], setup: list[float], first_op_s: float, peak_rss_mb: float) -> dict[str, float]:
    measured = [o for o in ops if o.measured]
    # op latency covers apply triggers on incremental_etl (no-op replays are
    # reported per layer); throughput counts every measured op.
    timed = [o.seconds for o in measured if o.kind != "noop"]
    return {
        "setup_s": statistics.median(setup),
        "first_op_s": first_op_s,
        "op_s_p50": statistics.median(timed),
        "op_s_tail": percentile(timed, TAIL_Q),
        "ops_per_min": 60.0 * len(measured) / sum(o.seconds for o in measured),
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(ops: list[Op], tracer, workload, build_s: list[float], cores: int, query_names) -> dict[str, float]:
    measured = [o for o in ops if o.measured]
    by_op: dict[int, list] = {}
    roots = {}
    for span in tracer.spans:
        by_op.setdefault(span.op_id, []).append(span)
        if span.parent is None and span.name == "op":
            roots[span.op_id] = span

    def spans(o: Op, name: str):
        return [s for s in by_op.get(o.index, []) if s.name == name]

    def seconds(o: Op, name: str) -> float:
        return sum(s.seconds for s in spans(o, name))

    def counts(o: Op, name: str, key: str) -> int:
        return sum(tracer.total_counts(s)[key] for s in spans(o, name))

    def root(o: Op, key: str) -> int:
        return tracer.total_counts(roots[o.index])[key]

    out: dict[str, float] = {
        "session.build_s": statistics.median(build_s),
        "spark.core_busy_ratio": sum(root(o, "executor_run_ms") for o in measured)
        / 1000.0
        / (sum(o.seconds for o in measured) * cores),
        "sources.load_s": _median(seconds(o, "sources.load") for o in measured),
        "sources.input_rows_per_op": _median(root(o, "input_records") for o in measured),
        "sources.input_rows_per_source_row": _median(
            root(o, "input_records") / workload.source_rows(o.index) for o in measured
        ),
        "sources.input_bytes_per_op": _median(root(o, "input_bytes") for o in measured),
    }

    # plans.*: over the ops that reach the plans layer.
    plan_spans = ("plans.summary", "plans.rollup")
    planned = [o for o in measured if any(spans(o, n) for n in plan_spans)]
    for name in plan_spans:
        out[f"{name}_s"] = _median(seconds(o, name) for o in planned if spans(o, name))
    for metric, key in (("spark_jobs", "jobs"), ("tasks", "tasks"), ("shuffle_bytes", "shuffle_bytes")):
        out[f"plans.{metric}_per_op"] = _median(sum(counts(o, n, key) for n in plan_spans) for o in planned)

    apply = [o for o in measured if o.kind == "apply"]
    noop = [o for o in measured if o.kind == "noop"]
    run = "incremental.run"
    out["incremental.run_self_s"] = _median(
        sum(tracer.self_seconds(s) for s in spans(o, run)) for o in apply
    )
    for name in ("watermark_read", "watermark_write", "merge_upsert", "read_table"):
        out[f"incremental.{name}_s"] = _median(seconds(o, f"incremental.{name}") for o in apply)
    out["incremental.noop_run_s"] = _median(seconds(o, run) for o in noop)
    out["incremental.spark_jobs_per_run"] = _median(counts(o, run, "jobs") for o in apply)
    out["incremental.spark_jobs_per_noop_run"] = _median(counts(o, run, "jobs") for o in noop)
    files = getattr(workload, "files_written", {})
    weeks = getattr(workload, "weeks_written", {})
    changed = getattr(workload, "weeks_changed", {})
    out["incremental.files_written_per_run"] = _median(files[o.index] for o in apply)
    out["incremental.bytes_written_per_run"] = _median(counts(o, run, "output_bytes") for o in apply)
    out["incremental.weeks_written_per_run"] = _median(weeks[o.index] for o in apply)
    written = sum(weeks[o.index] for o in apply)
    out["incremental.useful_week_ratio"] = (
        sum(changed[o.index] for o in apply) / written if written else 0.0
    )

    names = getattr(workload, "names", {})
    queries = [o for o in measured if o.index in names]
    for module in QUERY_MODULES:
        mine = [o for o in queries if query_names[names[o.index]][0] == module]
        span_of = lambda o: f"query.{names[o.index]}"  # noqa: E731
        out[f"{module}.query_s"] = _median(seconds(o, span_of(o)) for o in mine)
        out[f"{module}.spark_jobs_per_query"] = (
            statistics.mean(counts(o, span_of(o), "jobs") for o in mine) if mine else 0.0
        )
        out[f"{module}.shuffle_bytes_per_query"] = (
            statistics.mean(counts(o, span_of(o), "shuffle_bytes") for o in mine) if mine else 0.0
        )
    for name in query_names:
        out[f"query.{name}_s"] = _median(
            seconds(o, f"query.{name}") for o in queries if names[o.index] == name
        )

    timed = [o.seconds for o in measured if o.kind != "noop"]
    out["trace.op_s_p50"] = statistics.median(timed)
    out["trace.overhead_s_per_op"] = statistics.mean(o.overhead_s for o in measured)
    return out
