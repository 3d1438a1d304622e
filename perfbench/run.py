#!/usr/bin/env python3
"""The engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload nightly_backfill --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The engine runs in this process on
``local[<cores available>]``, driven by one caller. The run sets up the
Spark session three times (set-up time is their median), runs the
workload's untimed warm-up and checks, then whole units of work until
``--seconds`` have passed.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` then runs
the same units again in a session with the Spark status API on and spans
around the engine's layers, and once more untraced (for the tracing
overhead); it reports the per-layer metrics and writes the spans to
``.perfbench/spans/``. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

Everything the run writes (tables, warehouses, Spark scratch and JVM
temp files) lives under ``.perfbench/`` in the checkout; the scratch part
is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

import datagen
import spans
import summarise

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# the heap is fixed and pre-touched (-Xms = -Xmx, AlwaysPreTouch) so peak
# RSS does not depend on when G1 grows the heap or touches its regions;
# heap pressure shows in spark.gc_s_per_op instead
DRIVER_MEMORY = "2g"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["nightly_backfill", "read_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _log(msg: str) -> None:
    print(f"[perfbench] {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def _session_conf(work: str) -> dict[str, str]:
    jvm_tmp = os.path.join(work, "jvm-tmp")
    os.makedirs(jvm_tmp)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={jvm_tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
    }


def _tail(latencies: list[float]) -> tuple[float, str]:
    """Latency at the highest percentile with at least ten samples beyond
    it; the maximum when the sample is too small for that to lie above the
    median."""
    s = sorted(latencies)
    n = len(s)
    if n > 21:
        return s[n - 11], f"p{100 * (n - 10) / n:.1f} of {n} operations"
    return s[-1], f"maximum of {n} operations (fewer than 22)"


def _stop() -> None:
    """Stop the Spark context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()


def run(args, work: str) -> tuple[list, dict]:
    """Set up, warm up and check, measure; returns (every operation,
    {metric: (value, unit, note)})."""
    from nasdaq_equity_airflow_ecs_pipeline_spark.session import get_spark

    import workloads

    cores = len(os.sched_getaffinity(0))
    check = os.path.join(work, "check")
    datagen.write_tables(check, workloads.CHECK_SF, args.seed, workloads.CHECK_MIN_ROWS)
    wl = workloads.WORKLOADS[args.workload](args.seed, work)
    conf = _session_conf(work)

    # set-up: session build plus the first parquet touch; the first build
    # also starts the JVM, the later ones reuse it
    setups, spark = [], None
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=cores, extra_conf=conf)
        spark.read.parquet(os.path.join(check, "lineitem.parquet")).limit(1).count()
        setups.append(time.perf_counter() - t0)
    _log(f"set-up {[round(s, 3) for s in setups]} s")
    wl.spark = spark
    wl.untimed()
    _log(f"untimed {[(op.kind, round(op.latency_s, 2)) for op in wl.checks]}")
    region = wl.timed_region(args.seconds)
    _log(f"timed {[(op.kind, round(op.latency_s, 2)) for op in region.ops]}")
    py_mb, jvm_mb = spans.peak_rss_mb(spans.jvm_pid())
    latencies = [op.latency_s for op in region.ops]
    tail, tail_basis = _tail(latencies)
    metrics = {
        "setup_s": (statistics.median(setups), "s", f"median of {SETUP_REPS} set-ups"),
        "op_p50_s": (statistics.median(latencies), "s", f"{len(latencies)} operations"),
        "op_tail_s": (tail, "s", tail_basis),
        "ops_per_min": (region.ops_per_min(), "1/min",
                        f"{len(region.ops)} operations in {region.wall_s:.1f} s"),
        "peak_rss_mb": (py_mb + jvm_mb, "MB", f"Python {py_mb:.0f} + JVM {jvm_mb:.0f}"),
        "warehouse_mb": (statistics.median(region.unit_mb), "MB",
                         f"median of {len(region.unit_mb)} units"),
    }
    ops = wl.checks + region.ops
    if args.trace:
        spark.stop()
        wl.spark = get_spark(
            "perfbench-traced", cpus=cores, extra_conf={**conf, **spans.TRACE_CONF}
        )
        wl.tracer = spans.Tracer()
        with wl.tracer.patched(workloads.pipeline, wl.patches()):
            traced = wl.timed_region(args.seconds, replay=region.units)
        total = spans.spark_totals(wl.spark.sparkContext, {op.group for op in traced.ops})
        # the same units untraced once more: the JVM keeps warming, so the
        # overhead compares the traced replay with the mean of the untraced
        # runs before and after it
        tracer, wl.tracer = wl.tracer, None
        wl.spark.stop()
        wl.spark = get_spark("perfbench", cpus=cores, extra_conf=conf)
        after = wl.timed_region(args.seconds, replay=region.units)
        ops += traced.ops + after.ops
        untraced_opm = (region.ops_per_min() + after.ops_per_min()) / 2
        metrics = _layer_metrics(
            args, tracer, traced, total, untraced_opm, ops, setups, cores, workloads.MIX
        )
    return ops, metrics


def _layer_metrics(args, tracer, traced, total, untraced_opm, all_ops, setups, cores,
                   mix) -> dict:
    n = len(traced.ops)
    times = summarise.layer_times(tracer.spans)

    def per_op(name, key="total_s"):
        return times[name][key] / n if name in times else 0.0

    m = {
        "ops_failed_frac": (sum(not op.ok for op in all_ops) / len(all_ops), "ratio"),
        "trace.overhead_frac": (1 - traced.ops_per_min() / untraced_opm, "ratio"),
        "setup.cold_s": (setups[0], "s"),
        "sources.extract_s": (per_op("sources.extract"), "s"),
        "sources.read_quotes_s": (per_op("sources.read_quotes"), "s"),
        "upsert.dim_s": (per_op("upsert.dim"), "s"),
        "upsert.fact_cow_s": (per_op("upsert.fact_cow"), "s"),
        "upsert.agg_cow_s": (per_op("upsert.agg_cow"), "s"),
        "quality.suite_s": (per_op("quality.suite"), "s"),
        "plans.land_quotes.self_s": (per_op("plans.land_quotes", "self_s"), "s"),
        "plans.run_pipeline.self_s": (per_op("plans.run_pipeline", "self_s"), "s"),
        "queries.build_s": (per_op("queries.build"), "s"),
        "queries.exec_s": (per_op("queries.exec"), "s"),
        "warehouse.files": (statistics.median(traced.unit_files), "count"),
        "warehouse.files_written_per_op": (traced.files_written / n, "count"),
        "spark.jobs_per_op": (total["jobs"] / n, "count"),
        "spark.stages_per_op": (total["stages"] / n, "count"),
        "spark.tasks_per_op": (total["tasks"] / n, "count"),
        "spark.task_busy_frac": (total["run_s"] / (traced.wall_s * cores), "ratio"),
        "spark.input_mb_per_op": (total["input_b"] / n / 1e6, "MB"),
        "spark.input_rows_per_op": (total["input_rows"] / n, "count"),
        "spark.shuffle_write_mb_per_op": (total["shuffle_write_b"] / n / 1e6, "MB"),
        "spark.spill_mb_per_op": (total["spill_b"] / n / 1e6, "MB"),
        "spark.gc_s_per_op": (traced.gc_s / n, "s"),
        "cpu.jvm_s_per_op": (traced.jvm_cpu_s / n, "s"),
        "cpu.driver_py_s_per_op": (traced.py_cpu_s / n, "s"),
    }
    for name in mix:
        lat = [op.latency_s for op in traced.ops if op.kind == name]
        m[f"query.{name}_s"] = (statistics.median(lat) if lat else 0.0, "s")
    path = os.path.join(ROOT, ".perfbench", "spans", f"{args.workload}-seed{args.seed}.jsonl")
    tracer.write(path, {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "ops": n,
        "ops_per_min": untraced_opm,
        "traced_ops_per_min": traced.ops_per_min(),
    })
    _log(f"spans: {path}")
    return {k: (v, unit, "") for k, (v, unit) in m.items()}


def main(argv: list[str]) -> int:
    args = _args(argv)
    os.chdir(ROOT)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    try:
        import nasdaq_equity_airflow_ecs_pipeline_spark as engine
        import oracle_harness
    except ImportError as exc:
        print(f"[perfbench] engine not found under {ROOT}: {exc}", file=sys.stderr)
        return 2
    for mod in (engine, oracle_harness):
        if not os.path.abspath(mod.__file__).startswith(ROOT + os.sep):
            print(f"[perfbench] {mod.__name__} imported from outside {ROOT}", file=sys.stderr)
            return 2
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="work-", dir=os.path.join(ROOT, ".perfbench"))
    # every temp file of this process and the JVMs it starts lands in work
    os.environ["TMPDIR"] = tempfile.tempdir = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM that spark-submit starts before the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}"
    try:
        ops, metrics = run(args, work)
    finally:
        _stop()
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(not op.ok for op in ops)
    for name, (value, unit, note) in metrics.items():
        print(f"{args.workload:<18}{name:<34}{value:>14.4f} {unit:<6} {note}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
