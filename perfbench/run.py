"""Benchmark of the rental-analytics engine: one workload, one run.

Usage (from the repository root):

    python3 perfbench/run.py --workload incremental_etl --seed 1 --seconds 8 --trace 0

Workloads: ``incremental_etl`` and ``operator_mix`` (see
``workloads.py`` and ``BENCHMARK.json``). A run

1. generates its inputs from ``--seed`` under a scratch directory in the
   checkout (``.perfbench_work/``, removed at exit);
2. measures set-up: a fresh probe process and this process each import
   the engine's session module and call ``session.build_session``;
   ``setup_s`` is the median of the two samples;
3. runs the first, cold op, then a fixed number of warm-up ops, then whole
   op cycles until ``--seconds`` have passed, one client in a closed loop,
   checking every op's output outside the timed region;
4. prints a human-readable report on stderr and, as the last line of stdout,
   ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
   with ``--trace 0``, the per-layer metrics with ``--trace 1``.

It exits 1 when an op fails or an output mismatches its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402  (numpy/pyarrow only: no Spark yet)

WORKLOAD_NAMES = ("incremental_etl", "operator_mix")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# Driver heap for every JVM the benchmark starts (the engine default is 8g).
DRIVER_MEMORY = "2g"
PROBES = 1


def pin_environment(work: str) -> int:
    """Pin the run environment before any JVM starts; returns the core count."""
    cores = len(os.sched_getaffinity(0))
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        TMPDIR=os.path.join(work, "tmp"),
        TZ="UTC",
        PYSPARK_PYTHON=sys.executable,
    )
    time.tzset()
    return cores


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # -Xms equal to the -Xmx spark-submit sets: the heap does not grow in
        # steps during a run, so peak RSS depends less on GC timing.
        # -XX:-UsePerfData: no hsperfdata file outside the checkout.
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }


def build(work: str):
    """Import the session module and build the session, as a fresh process
    does. Returns (spark, seconds to ready, seconds inside build_session)."""
    t0 = time.perf_counter()
    from pagila_etl_airflow_assignment_spark.session import build_session

    t1 = time.perf_counter()
    spark = build_session(app_name="perfbench", extra_conf=session_conf(work))
    t2 = time.perf_counter()
    return spark, t2 - t0, t2 - t1


def stop(spark) -> None:
    """Stop the session and wait for its JVM to exit (it exits when its
    stdin closes)."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)


def probe_setup(work: str) -> None:
    """Child-process mode: one set-up sample as a JSON line on stdout."""
    spark, setup_s, build_s = build(work)
    try:
        print(json.dumps({"setup_s": setup_s, "build_s": build_s}), flush=True)
    finally:
        stop(spark)


def run_probe(work: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--probe-setup", work],
        cwd=ROOT,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        timeout=150,
        check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def run(args, work: str) -> tuple[dict, int, int]:
    cores = pin_environment(work)
    t_run = time.perf_counter()
    inputs = gen.generate(args.workload, args.seed, os.path.join(work, "data"))
    phases = {"generate": time.perf_counter() - t_run}

    samples = [run_probe(work) for _ in range(PROBES)]
    spark, setup_s, build_s = build(work)
    samples.append({"setup_s": setup_s, "build_s": build_s})
    spark.sparkContext.setLogLevel("ERROR")
    phases["set-up"] = time.perf_counter() - t_run - phases["generate"]

    # Imported only now: they import pyspark and the engine, whose import
    # time belongs to the set-up sample taken above.
    from perfbench import metrics
    from perfbench.trace import Tracer
    from perfbench.workloads import OPMIX_QUERIES, WORKLOADS

    wl = WORKLOADS[args.workload](work, args.seed, inputs)
    tracer = None
    try:
        wl.spark = spark
        t0 = time.perf_counter()
        wl.prepare()
        phases["oracles"] = time.perf_counter() - t0
        if args.trace:
            tracer = Tracer(spark.sparkContext)
            wl.trace(tracer)
        ops: list[metrics.Op] = []

        def do(i: int, measured: int | None) -> metrics.Op:
            wl.before(i, measured)
            overhead0 = tracer.overhead_s if tracer else 0.0
            if tracer:
                tracer.op_id = i
                root = tracer.enter("op")
            ok = True
            t0 = time.perf_counter()
            try:
                result = wl.op(spark, i)
            except Exception:  # an op that raises counts as failed
                traceback.print_exc()
                ok = False
            seconds = time.perf_counter() - t0
            if tracer:
                tracer.exit(root)
                tracer.collect()
            if ok and not wl.check(i, result):
                print(f"# op {i}: output does not match the oracle", file=sys.stderr)
                ok = False
            op = metrics.Op(
                index=i,
                seconds=seconds,
                kind=wl.kind(i),
                measured=measured is not None,
                ok=ok,
                overhead_s=(tracer.overhead_s - overhead0) if tracer else 0.0,
            )
            ops.append(op)
            return op

        t0 = time.perf_counter()
        first = do(0, None)
        for _ in range(wl.warm_up):
            do(len(ops), None)
        t_start = time.perf_counter()
        measured = 0
        while measured == 0 or time.perf_counter() - t_start < args.seconds:
            for _ in range(wl.cycle):
                do(len(ops), measured)
                measured += 1
        phases["ops"] = time.perf_counter() - t0

        rss = {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(spark.sparkContext._gateway.proc.pid)}
        peak_rss = sum(rss.values())
        e2e = metrics.end_to_end(ops, [s["setup_s"] for s in samples], first.seconds, peak_rss)
        if tracer:
            layer = metrics.per_layer(
                ops, tracer, wl, [s["build_s"] for s in samples], cores, OPMIX_QUERIES
            )
    finally:
        if tracer:
            tracer.unwrap()
        wl.close()
        stop(spark)

    failed = sum(not o.ok for o in ops)
    n_measured = sum(o.measured for o in ops)
    print(
        f"# {args.workload} seed={args.seed} cores={cores} layout={json.dumps(inputs.layout)}\n"
        f"# ops: first + {wl.warm_up} warm-up + {n_measured} measured "
        f"({sum(o.measured and o.kind != 'noop' for o in ops)} in op_s_p50/op_s_tail, "
        f"op_s_tail = p{int(metrics.TAIL_Q * 100)}); failed {failed}/{len(ops)}\n"
        f"# setup samples: {[round(s['setup_s'], 3) for s in samples]}\n"
        f"# op seconds: {[(o.kind, round(o.seconds, 3)) for o in ops]}\n"
        f"# phases: { {k: round(v, 2) for k, v in phases.items()} }\n"
        f"# peak rss MB: { {k: round(v) for k, v in rss.items()} }",
        file=sys.stderr,
    )
    for k, v in e2e.items():
        print(f"# {k} = {v:.6g}", file=sys.stderr)
    out = layer if tracer else e2e
    if tracer:
        for k, v in layer.items():
            print(f"# {k} = {v:.6g}", file=sys.stderr)
        print(
            f"# tracing overhead: op_s_p50 traced {layer['trace.op_s_p50']:.4f} s, "
            f"tracer time in ops {layer['trace.overhead_s_per_op'] * 1000:.3f} ms/op",
            file=sys.stderr,
        )
    return out, len(ops), failed


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--probe-setup", metavar="WORK_DIR", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if args.probe_setup:
        probe_setup(args.probe_setup)
        return 0
    if args.workload is None:
        p.error("--workload is required")

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        values, attempted, failed = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run still uses it
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        units = json.load(fh)
    kinds = "per_layer" if args.trace else "end_to_end"
    unit_of = {m["name"]: m["unit"] for m in units[kinds]}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of[k]} for k, v in values.items()},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
