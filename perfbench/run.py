"""Benchmark runner for the docker_etl_spark engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload relational --seed 1 --seconds 15 --trace 0

One process, one SparkSession at ``local[nproc]`` with
``SPARK_GRAFT_CPUS=nproc``. The run

1. generates the workload's inputs from ``--seed`` (the same seed gives
   the same inputs) under ``.perfbench_work/`` in the current directory;
2. sets up once, cold, and reports it as ``setup_s``: the set-up
   starts the JVM and the SparkContext, registers the inputs and runs
   the workload's warm-up, which forks the Python workers;
3. runs whole passes of the workload, at least one, starting another
   only while it is expected to end within ``--seconds``; the action
   floor, the load average and free disk space are recorded before
   every pass;
4. checks every output against its oracle outside the timed region;
5. prints one JSON object as the last line of standard output.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
same passes with a span around every engine call, with the Spark
status-store counters of the call attached, writes the spans to
``.perfbench_work/spans-<workload>-<seed>.json`` and reports the
per-layer metrics. A traced run also runs a short sweep of the layers
its workload does not touch, so that every per-layer metric is
measured in every traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(os.getcwd(), ".perfbench_work")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _prepare_env(work: str) -> int:
    """Import path for the Spark driver and its Python workers, CPU budget,
    and every scratch location inside the work directory."""
    ncpu = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    # Python workers import the engine from pandas/Arrow stages; they
    # inherit PYTHONPATH, not the driver's sys.path.
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    import tempfile

    tempfile.tempdir = tmp
    return ncpu


def _session(work: str):
    from docker_etl_spark.session import get_spark

    spark = get_spark(
        app_name="docker-etl-spark-perfbench",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
            + os.path.join(work, "tmp")
            + " -Dderby.system.home="
            + os.path.join(work, "derby"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def action_floor(spark, reps: int = 3) -> tuple[float, float]:
    """Median wall of a no-op action and of a one-shuffle action."""
    from pyspark.sql import functions as F

    par = spark.sparkContext.defaultParallelism
    noop, shuffle = [], []
    for _ in range(reps):
        t = time.perf_counter()
        _noop(spark.range(par, numPartitions=par))
        noop.append(time.perf_counter() - t)
        t = time.perf_counter()
        _noop(
            spark.range(par * 1000, numPartitions=par)
            .groupBy((F.col("id") % par).alias("k"))
            .count()
        )
        shuffle.append(time.perf_counter() - t)
    return statistics.median(noop), statistics.median(shuffle)


def make_workload(name: str, work: str, seed: int, oracle):
    if name == "relational":
        from relational import Relational

        return Relational(work, seed, oracle)
    if name == "store_lifecycle":
        from stores import StoreLifecycle

        return StoreLifecycle(work, seed, oracle)
    raise SystemExit(f"unknown workload {name!r}")


WORKLOADS = ("relational", "store_lifecycle")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "docker_etl_spark")):
        log(f"engine package docker_etl_spark not found under {ROOT}")
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    ncpu = _prepare_env(work)
    try:
        return _run(args, work, ncpu)
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)


def _stop_spark() -> None:
    """Stop the SparkContext and wait until the JVM it launched (and
    with it the Python worker daemon) has exited."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _run(args, work: str, ncpu: int) -> int:
    from harness import Ctx, quantile
    from oracle import Oracle
    from telemetry import Tracer, host_reading, peak_rss_mb

    oracle = Oracle(threads=ncpu)
    wl = make_workload(args.workload, work, args.seed, oracle)
    wl.prepare()

    # A cold start happens once per process, so the run sets up once.
    t0 = time.perf_counter()
    spark = _session(work)
    wl.setup(spark)
    setup_s = time.perf_counter() - t0
    log(f"setup: {setup_s:.3f} s")

    tracer = Tracer(spark, enabled=bool(args.trace))
    ctx = Ctx(spark, tracer, log)
    diag, pass_walls = [], []
    t_start = time.perf_counter()
    # whole passes only: another pass starts if it is expected to end
    # inside the window
    while not pass_walls or (
        time.perf_counter() - t_start + pass_walls[-1] <= args.seconds
    ):
        noop_s, shuffle_s = action_floor(spark)
        diag.append({"pass": len(pass_walls), "noop_action_s": noop_s,
                     "shuffle_action_s": shuffle_s, **host_reading(work)})
        t = time.perf_counter()
        wl.run_pass(ctx, len(pass_walls))
        pass_walls.append(time.perf_counter() - t)
    measured_s = time.perf_counter() - t_start
    n_pass = len(pass_walls)
    counter_read_s = tracer.overhead_s
    ops = list(ctx.ops)

    wl.check(ctx)
    peak = peak_rss_mb(spark)
    space_amp = wl.space_amp()
    store_stats = getattr(wl, "store_stats", [])
    if args.trace:
        from sweep import sweep

        swept = sweep(args.workload, ctx, work, args.seed, ncpu)
        store_stats = store_stats or swept
    _stop_spark()

    for d in diag:
        log("pass diagnostics: " + json.dumps(d))
    for o in ctx.ops:
        log(f"op {o.op_id:4d} {o.kind:11s} {o.wall_s:8.3f} {'ok' if o.ok else 'FAILED'} {o.label}")
    attempted = len(ctx.ops)
    failed = sum(1 for o in ctx.ops if not o.ok) + ctx.failed_checks
    log(f"{len(ops)} workload ops in {n_pass} passes over {measured_s:.1f} s; "
        f"{attempted} ops in all, {failed} failed ops and checks")

    if args.trace:
        from layers import per_layer_metrics

        os.makedirs(WORK_ROOT, exist_ok=True)
        spans_path = os.path.join(WORK_ROOT, f"spans-{args.workload}-{args.seed}.json")
        with open(spans_path, "w") as fh:
            json.dump({"spans": tracer.dump(), "diagnostics": diag}, fh)
        log(f"spans written to {spans_path}")
        metrics = per_layer_metrics(tracer, pass_walls, diag, store_stats, counter_read_s)
    else:
        def med(kinds):
            v = [o.wall_s for o in ops if o.kind in kinds]
            return statistics.median(v) if v else float("nan")

        walls = [o.wall_s for o in ops]
        maint = [o.wall_s for o in ops if o.kind == "maintenance"]
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (statistics.median(pass_walls), "s"),
            "op_p50_s": (quantile(walls, 0.5), "s"),
            "op_p90_s": (quantile(walls, 0.9), "s"),
            "read_p50_s": (med(("read",)), "s"),
            "write_p50_s": (med(("write",)), "s"),
            "maintenance_s": (sum(maint) / n_pass, "s"),
            "space_amp": (space_amp, "ratio"),
            "peak_rss_mb": (peak, "MiB"),
        }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
