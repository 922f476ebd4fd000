"""Benchmark entry point: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload corpus_prep --seed 1 \
        --seconds 1 --trace 0

Run it from the repository root. It starts one local Spark session on
every core (``local[nproc]``) and builds the workload's inputs from
``--seed``; then it runs the workload, again until ``--seconds`` have
passed, and checks the last run's outputs. There is no warm-up run: the
first run in a fresh JVM is what a one-shot migration or corpus job
costs its user, and the JIT warm-up behind it (about three runs on a
4-vCPU host) does not fit the benchmark's time budget.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics
with ``--trace 0``; with ``--trace 1`` the per-layer metrics of traced
runs and a per-layer table before it. It exits 1 when a check fails and
2 when the repository is not in the working directory. Everything it
writes goes under ``.perfbench_work/``.

End-to-end metrics: ``run_cpu_s`` (median CPU seconds of one run,
input to verified output, of the whole program: this Python driver
process, less its RSS sampler thread, plus the Spark driver JVM and
every process under it), ``setup_s`` (CPU seconds, counted the same
way, of the cold set-up: pyspark and library imports, JVM launch,
session start and input generation) and ``peak_rss_mb`` (driver JVM
plus Python workers, over the runs). Wall times are printed on standard
error, and as ``run.wall_s`` with ``--trace 1``; they are not end-to-end
metrics because on a shared host the vCPU time stolen by other guests
swings them by a third between runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing  # noqa: E402

DRIVER_MEMORY = "2g"
#: keeps the JVMs from writing /tmp/hsperfdata_<user>
NO_PERF_DATA = "-XX:-UsePerfData"
#: Per-layer metrics printed with --trace 1: span name -> metrics.
SPAN_METRICS = {
    "sources.files.from_csv": ("wall_s", "jobs"),
    "sources.files.from_parquet": ("wall_s", "jobs", "input_mb"),
    "sources.files.read_back": ("wall_s", "jobs", "input_mb"),
    "functions.columns": ("wall_s",),
    "plans.presets.wordpress_post_pipeline": ("wall_s", "jobs"),
    "sinks.wordpress.run_stages": (
        "wall_s", "self_s", "jobs", "tasks", "shuffle_write_mb",
        "executor_run_s", "python_run_s", "python_cpu_s"),
    "sinks.files.write_parquet": (
        "wall_s", "jobs", "tasks", "shuffle_write_mb", "spill_mb",
        "executor_run_s", "task_skew", "python_run_s", "python_sent_mb",
        "python_cpu_s"),
    "sinks.ledger.write_ledger": (
        "wall_s", "jobs", "tasks", "shuffle_write_mb", "executor_run_s",
        "task_skew", "python_run_s", "python_sent_mb", "python_cpu_s"),
    "operators.gates.apply_gates": ("wall_s", "jobs"),
    "operators.checkpoint.pin": (
        "wall_s", "self_s", "jobs", "tasks", "executor_run_s"),
    "operators.dedup.dedup_documents": (
        "wall_s", "jobs", "tasks", "shuffle_write_mb", "spill_mb",
        "executor_run_s", "task_skew", "python_cpu_s"),
    "operators.packing.pack_sequences": (
        "wall_s", "jobs", "shuffle_write_mb", "executor_run_s"),
    "sinks.training.write_training_shards": (
        "wall_s", "jobs", "tasks", "shuffle_write_mb", "spill_mb",
        "executor_run_s", "task_skew"),
    "streaming.incremental.process_batch": (
        "wall_s", "jobs", "tasks", "shuffle_write_mb", "input_mb",
        "executor_run_s", "task_skew", "python_cpu_s"),
    "streaming.incremental.compact": (
        "wall_s", "jobs", "tasks", "shuffle_write_mb", "input_mb",
        "executor_run_s"),
    "streaming.incremental.corpus": ("wall_s", "jobs", "input_mb"),
    "queries.corpus_report.build": ("wall_s", "jobs"),
    "queries.corpus_report.action": (
        "wall_s", "jobs", "shuffle_write_mb", "input_mb", "executor_run_s",
        "task_skew"),
}
#: Per-layer metrics that belong to the run or the tracer, with units.
RUN_METRICS = {
    "session.get_spark.wall_s": "s",
    "run.wall_s": "s",
    "run.cpu_s": "s",
    "run.driver_cpu_s": "s",
    "run.jobs": "count",
    "run.python_run_s": "s",
    "run.python_sent_mb": "MB",
    "run.python_cpu_s": "s",
    "run.retained_rdds": "count",
    "trace.overhead_s": "s",
    "trace.coverage": "ratio",
}
END_TO_END = {"run_cpu_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    units = {f"{span}.{m}": tracing.UNITS[m]
             for span, ms in SPAN_METRICS.items() for m in ms}
    units.update(RUN_METRICS)
    return units


def _args(argv):
    from workloads import SIZES
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def _environment(root: str, work: str) -> dict:
    """Pin the session's environment before pyspark is imported: the
    Python workers inherit it, and the engine reads SPARK_GRAFT_CPUS at
    import."""
    nproc = len(os.sched_getaffinity(0))
    env = {"SPARK_GRAFT_CPUS": str(nproc),
           "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
           "TMPDIR": os.path.join(work, "tmp"),
           "SPARK_LAUNCHER_OPTS": NO_PERF_DATA,
           "PYTHONPATH": os.pathsep.join(
               p for p in (root, os.environ.get("PYTHONPATH")) if p)}
    for k in ("SPARK_GRAFT_CHECKPOINT_DIR", "SPARK_GRAFT_DRIVER_MEM",
              "SPARK_GRAFT_SF_DIR"):
        os.environ.pop(k, None)
    os.environ.update(env)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    return {"nproc": nproc, **env}


def _session(work: str, nproc: int):
    from wp_etl_migration_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench", master=f"local[{nproc}]",
        **{"spark.driver.memory": DRIVER_MEMORY,
           "spark.sql.shuffle.partitions": str(nproc),
           "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
           "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
           "spark.driver.extraJavaOptions":
               f"-Djava.io.tmpdir={tmp} {NO_PERF_DATA}",
           "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _release(spark) -> int:
    """Drop every cache and pin a run left behind, so the next run is
    not served from them; return how many persistent RDDs were held."""
    held = spark.sparkContext._jsc.getPersistentRDDs()
    n = len(held)
    for rdd in list(held.values()):
        rdd.unpersist(True)
    spark.catalog.clearCache()
    return n


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "wp_etl_migration_spark",
                                       "__init__.py")):
        print("perfbench: run from the repository root "
              "(wp_etl_migration_spark/ not found)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")
    env = _environment(root, work)
    sys.path.insert(0, root)
    t0, cpu0 = time.perf_counter(), time.process_time()
    from pyspark.sql import SparkSession
    try:
        result = _measure(args, env, work, t0, cpu0)
    finally:
        active = SparkSession.getActiveSession()
        if active is not None:
            _stop(active)
    print(json.dumps(result))
    return 0 if result["correct"] and result["metrics"] else 1


def _measure(args, env: dict, work: str, t0: float, cpu0: float) -> dict:
    """Set up, run the workload for the window, check it; return the
    result object. ``t0`` and ``cpu0`` are the wall clock and this
    process's CPU clock when the set-up began, before pyspark was
    imported."""
    from workloads import WORKLOADS
    import pyspark

    # Set-up, once and cold: import the library, launch the JVM, start
    # the session and generate the inputs. Each of these is paid once
    # per process, so it cannot be repeated in one; a fresh JVM per
    # repetition costs about 7 s on a 4-vCPU host, which the
    # benchmark's time budget does not hold. There is no warm-up run:
    # the measured run is the first in its JVM, as a one-shot batch
    # job is.
    spark = _session(work, env["nproc"])
    start_s = time.perf_counter() - t0
    wl = WORKLOADS[args.workload](spark, work, args.seed, args.size)
    wl.generate()
    sc = spark.sparkContext
    pid = sc._jvm.ProcessHandle.current().pid()
    # CPU seconds, like run_cpu_s: this process and the JVM tree
    setup_s = time.process_time() - cpu0 + tracing.tree_cpu_s(pid)
    setup_wall_s = time.perf_counter() - t0

    env.update({
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "seconds": args.seconds, "trace": args.trace,
        "master": sc.master, "driver_memory": DRIVER_MEMORY,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0]})
    print(json.dumps({"env": env}))

    attempted = failed = 0
    results, tracers, retained = [], [], []
    store = tracing.StatusStore(spark) if args.trace else None
    with tracing.PeakRss(pid) as rss:
        t_end = time.perf_counter() + args.seconds
        while True:
            tr = (tracing.Tracer(spark, f"r{len(tracers)}", pid)
                  if args.trace else tracing.NO_TRACE)
            attempted += 1
            jvm0, drv0 = tracing.tree_cpu_s(pid), rss.driver_cpu_s()
            try:
                res = wl.run(tr)
                res["driver_cpu_s"] = rss.driver_cpu_s() - drv0
                res["cpu_s"] = (tracing.tree_cpu_s(pid) - jvm0
                                + res["driver_cpu_s"])
            except Exception:
                traceback.print_exc()
                failed += 1
            else:
                results.append(res)
                if args.trace:
                    store.charge(tr.spans)
                    tracers.append((res, tr))
            retained.append(_release(spark))
            if time.perf_counter() >= t_end:
                break
        peak_rss = rss.peak_mb

    errors = ["no run succeeded"]
    if results:
        try:
            errors = wl.check(results[-1])
        except Exception as e:
            traceback.print_exc()
            errors = [f"check raised {e!r}"]
    metrics = {}
    if results and not args.trace:
        values = {
            "run_cpu_s": statistics.median(r["cpu_s"] for r in results),
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss}
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}
    elif tracers:
        spans = [s for _, tr in tracers for s in tr.spans]
        errors += tracing.nesting_errors(spans)
        metrics = _layer_metrics(tracers, retained, start_s)
        cover = metrics["trace.coverage"]["value"]
        if cover < 0.95:
            errors.append(f"top-level spans cover {cover:.1%} of run_s")
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        dump = os.path.join(work, "traces", f"{args.workload}-s{args.seed}"
                                            f"-{int(time.time())}.json")
        with open(dump, "w") as f:
            json.dump({"env": env, "spans": spans}, f)
        print(tracing.table(tracing.rollup(tracers[-1][1].spans)))
        print(f"spans: {dump}", file=sys.stderr)
    print(json.dumps({"setup_s": setup_s, "setup_wall_s": setup_wall_s,
                      "wall_s": [r["run_s"] for r in results],
                      "cpu_s": [r["cpu_s"] for r in results],
                      "driver_cpu_s": [r["driver_cpu_s"] for r in results]}),
          file=sys.stderr)
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    failed += bool(errors)
    return {"correct": not errors and failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def _layer_metrics(tracers, retained, start_s) -> dict:
    """Medians over the traced runs of every per-layer metric."""
    values: dict[str, list[float]] = {}
    for res, tr in tracers:
        rows = tracing.rollup(tr.spans)
        for span, ms in SPAN_METRICS.items():
            for m in ms:
                values.setdefault(f"{span}.{m}", []).append(
                    rows[span][m] if span in rows else 0.0)
        for m in ("jobs", "python_run_s", "python_sent_mb",
                  "python_cpu_s"):
            values.setdefault(f"run.{m}", []).append(
                sum(s["self"][m] for s in tr.spans))
        values.setdefault("run.wall_s", []).append(res["run_s"])
        values.setdefault("run.cpu_s", []).append(res["cpu_s"])
        values.setdefault("run.driver_cpu_s", []).append(
            res["driver_cpu_s"])
        values.setdefault("trace.overhead_s", []).append(tr.overhead_s)
        values.setdefault("trace.coverage", []).append(
            tracing.top_level_wall(tr.spans) / res["run_s"])
    values["run.retained_rdds"] = retained
    values["session.get_spark.wall_s"] = [start_s]
    return {k: {"value": float(statistics.median(values[k])), "unit": u}
            for k, u in per_layer_units().items()}


if __name__ == "__main__":
    sys.exit(main())
