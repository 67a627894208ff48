#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It generates the workload's inputs from
the seed under ``.perfbench_work/`` in the checkout, sets up several times
(Spark session, feed or catalog build, untimed warm-up pass) and reports
the median of the warm set-ups, measures for ``--seconds``, checks the
outputs against an independent oracle, and prints one JSON object as the
last line of stdout. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` wraps the layer calls in spans and reports the per-layer
metrics.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p95_s": "s",
}
#: end-to-end metrics a traced run also reports, to show tracing overhead
TRACED = ("latency_p50_s", "latency_p95_s")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit; a
    workload that does not reach a layer reports 0 for it."""
    from workloads import HEADLINE, SPANS

    u = {}
    for m in ("latest_offset_s", "get_batch_s", "query_planning_s",
              "wal_commit_s", "add_batch_s", "idle_s",
              "foreach_batch_self_s"):
        u[f"stream.{m}"] = "s"
    u["stream.batches"] = "count"
    u["stream.catchup_rows_s"] = "rows/s"
    u["stream.rows_per_batch_p50"] = "rows"
    for m in ("process_batch_s", "bookkeeping_s", "merge_s", "compact_s"):
        u[f"sinks.{m}"] = "s"
    u["sinks.compact_calls"] = "count"
    u["sinks.state_bytes_peak"] = "bytes"
    u["sinks.state_bytes_end"] = "bytes"
    u["sinks.changelog_process_batch_s"] = "s"
    u["sinks.changelog_drain_rows_s"] = "rows/s"
    u["sinks.output_bytes_per_row"] = "bytes/row"
    u["sinks.output_files"] = "count"
    u["sqlite_apply.process_batch_s"] = "s"
    u["sqlite_apply.drain_rows_s"] = "rows/s"
    u["sqlite_apply.rows_applied"] = "rows"
    u["sqlite_apply.hot_lane_share"] = "ratio"
    u["sqlite_apply.db_bytes_end"] = "bytes"
    u["redo.log_batch_s"] = "s"
    u["redo.mark_applied_s"] = "s"
    u["redo.bytes_per_row"] = "bytes/row"
    u["spark.jobs_per_batch"] = "count"
    u["spark.idle_between_jobs_s"] = "s"
    for m, unit in (("executor_run_s", "s"), ("executor_cpu_s", "s"),
                    ("jvm_gc_s", "s"), ("shuffle_write_bytes", "bytes"),
                    ("shuffle_read_bytes", "bytes"), ("spill_bytes", "bytes"),
                    ("peak_exec_mem_bytes", "bytes")):
        u[f"spark.{m}"] = unit
    for s in SPANS:
        u[f"spark.{s}.executor_run_s"] = "s"
        u[f"spark.{s}.shuffle_write_bytes"] = "bytes"
    u["catalog.headline_total_s"] = "s"
    u["catalog.build_s"] = "s"
    u["catalog.warmup_s"] = "s"
    u["catalog.input_rows_s"] = "rows/s"
    for n in HEADLINE:
        u[f"catalog.{n}_s"] = "s"
        u[f"catalog.{n}.shuffle_write_bytes"] = "bytes"
        u[f"catalog.{n}.peak_exec_mem_bytes"] = "bytes"
    u["setup.first_s"] = "s"
    u["proc.peak_rss_mb"] = "MB"
    u["gen.late_s_max"] = "s"
    u["gen.rows"] = "rows"
    u["gen.files"] = "count"
    for m in TRACED:
        u[f"traced.{m}"] = E2E_UNITS[m]
    u["traced.tracer_s"] = "s"
    return u


def configure_env(work: str) -> None:
    """Keep every file Spark and its Python workers write inside the
    checkout, and let the workers import the package."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TIGATE_DRIVER_MEM"] = "3g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # every JVM spark-submit starts, the launcher included: no perf-data
    # file under /tmp, temp files in the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")


def start_session(work: str, cpus: int):
    from tigate_spark.session import get_spark

    return get_spark("perfbench", cpus=cpus, extra_confs={
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
    })


def stop_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, work: str):
    """Set up, measure and check; returns the Outcome."""
    import measure as tr
    from workloads import SETUP_REPEATS, WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](work, args.seed, args.seconds)
    wl.make_inputs()
    setups, spark = [], None
    for _ in range(SETUP_REPEATS):
        t0 = time.monotonic()
        if spark is not None:
            spark.stop()
        spark = start_session(work, cpus)
        wl.setup(spark)
        setups.append(time.monotonic() - t0)
    tracer = (tr.Tracer(f"{args.workload}-{args.seed}", spark.sparkContext)
              if args.trace else None)
    t0 = time.monotonic()
    out = wl.measure(spark, tracer)
    t1 = time.monotonic()
    if tracer:
        out.layer["traced.tracer_s"] = tracer.overhead_s
    try:
        n_checks, bad = wl.check(spark)
    except Exception as exc:  # a check that cannot run is a failed check
        print(f"perfbench: check failed: {exc!r}", file=sys.stderr)
        n_checks, bad = 1, 1
    spark.stop()
    print(f"perfbench: setups {[round(s, 2) for s in setups]} s, measure "
          f"{t1 - t0:.1f} s, check {time.monotonic() - t1:.1f} s",
          file=sys.stderr)
    out.attempted += n_checks
    out.failed += bad
    # the first set-up launches the JVM and runs cold; setup_s is the
    # median of the warm ones after it
    out.e2e["setup_s"] = statistics.median(setups[1:])
    out.layer["setup.first_s"] = setups[0]
    for sp in tracer.spans if tracer else ():
        print("perfbench: span " + json.dumps(dataclasses.asdict(sp)),
              file=sys.stderr)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "tigate_spark")):
        print(f"perfbench: no tigate_spark package under {ROOT}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import measure as tr
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    try:
        with tr.RssSampler() as rss:
            try:
                out = run(args, work)
            finally:
                stop_jvm()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # if no other run uses it
        except OSError:
            pass
    out.layer["proc.peak_rss_mb"] = rss.peak_mb
    if args.trace:
        units = per_layer_units()
        values = dict(out.layer)
        for m in TRACED:
            values[f"traced.{m}"] = out.e2e.get(m, 0.0)
    else:
        units, values = E2E_UNITS, out.e2e
    # a metric a failed measurement could not produce reads 0
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": units[k]}
               for k in units}
    print(json.dumps({"correct": out.failed == 0,
                      "attempted": int(out.attempted),
                      "failed": int(out.failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
