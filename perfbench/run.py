#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run builds its inputs from
``--seed`` under a fresh per-run directory (``.perfbench/`` in the
checkout, removed at exit), starts one local Spark session, sets up and
warms the workload, measures it, checks the outputs outside the timed
region and prints one JSON object as the last stdout line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see README.md). A traced run measures the workload
three times in one session, untraced, traced and untraced again, to
report the tracing overhead.

Exits non-zero without a result line if the engine package is not
beside this directory or the workload cannot be set up.
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
PACKAGE = "beis_orp_data_service_spark"
# import perfbench.* and the engine from the checkout root, never from
# this directory (its module names must not shadow anything)
sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402

def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["search", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_memory() -> str:
    """A quarter of host memory, between 1g and 4g: the session's own
    default (48g) does not fit small hosts."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration, ValueError):
        return "2g"
    return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"


def pin_env(run_dir: str) -> dict[str, str]:
    """Point every piece of engine, Spark and Python scratch state at
    the run directory; returns the extra Spark conf for the session."""
    for d in ("local", "tmp", "ckpt", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(host_cpus()),
        "SPARK_DRIVER_MEMORY": driver_memory(),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_CKPT_DIR": os.path.join(run_dir, "ckpt"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # no hsperfdata file under /tmp: the run writes only in its checkout
        "spark.driver.extraJavaOptions":
            "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def versions() -> dict[str, str]:
    import duckdb
    import pyspark

    return {"pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "python": sys.version.split()[0]}


def measure(args: argparse.Namespace, run_dir: str) -> tuple[dict, dict]:
    """One run: returns (result line, provenance)."""
    from perfbench import common, wl_batch, wl_search

    load_start = common.loadavg()
    conf = pin_env(run_dir)
    tracer = None
    if args.trace:
        from perfbench.tracing import Tracer

        tracer = Tracer(run_dir)
        conf.update(tracer.conf)

    t0 = time.perf_counter()
    from beis_orp_data_service_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    module = {"search": wl_search, "batch": wl_batch}[args.workload]
    try:
        ctx = common.Context(spark, run_dir, args.seed, args.seconds)
        inputs = module.setup(ctx)
        setup_s = time.perf_counter() - t0
        out = module.measure(ctx, inputs)
        runs = [out]
        if tracer is not None:
            # the traced loop sits between two untraced ones, its overhead
            # reference: each loop runs warmer than the one before it
            tracer.install(spark)
            ctx.tracer = tracer
            out = module.measure(ctx, inputs)
            out.layers.update(tracer.stream_layers())
            tracer.uninstall()
            ctx.tracer = None
            runs += [out, module.measure(ctx, inputs)]
        out.layers["jvm.peak_rss_mb"] = common.vm_hwm_mb(jvm_pid)
    finally:
        if tracer is not None:
            tracer.uninstall()
        stop_spark(spark)

    op_ms = common.geomean(out.op_s) * 1000.0
    if tracer is None:
        values = {
            "setup_s": setup_s,
            "op_geomean_ms": op_ms,
            "work_per_s": out.attempted / out.wall_s,
        }
        units = END_TO_END
    else:
        reference_ms = statistics.mean(
            common.geomean(runs[i].op_s) * 1000.0 for i in (0, 2))
        values = layer_values(tracer, out, session_s, op_ms, reference_ms)
        units = PER_LAYER
    # a traced run reports the operations of all its loops
    attempted = sum(o.attempted for o in runs)
    failed = sum(o.failed for o in runs)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units.items()},
    }
    provenance = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": host_cpus(),
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "load_start": load_start, "load_end": common.loadavg(),
        "versions": versions(), "ops_failed_frac": failed / attempted,
        "op_s": [round(x, 3) for x in out.op_s[:100]],
        "problems": [p for o in runs for p in o.problems][:20],
    }
    return result, provenance


def layer_values(tracer, out, session_s: float, op_ms: float,
                 reference_ms: float) -> dict[str, float]:
    """Per-layer values. ``batch`` counts and sums are per pass over its
    query list, so runs with different numbers of passes compare."""
    totals, per_group = tracer.fold(out.measure_start, out.measure_end,
                                    host_cpus())
    passes = out.layers.get("batch.passes", 1)
    values = dict.fromkeys(PER_LAYER, 0.0)
    values["session.get_spark_s"] = session_s
    for k, v in tracer.wrapper_layers().items():
        values[k] = v / passes
    for k, v in totals.items():
        if f"spark.{k}" in values:
            values[f"spark.{k}"] = v if k == "core_busy_frac" else v / passes
    for k, v in out.layers.items():
        if k in values:
            values[k] = v
    for k, n in per_group.items():
        # a stream's micro-batches are tagged "<op>/batch<N>"
        name = f"q.{k[2:].split('/')[0]}.jobs"
        if k.startswith("q:") and name in values:
            values[name] += n / passes
    rows_returned = out.layers.get("search.rows_returned", 0)
    if rows_returned:
        n_req = out.attempted
        values["search.jobs_per_request"] = sum(
            n for k, n in per_group.items() if k.startswith("search:")) / n_req
        values["search.rows_scanned_per_result"] = (
            totals.get("records_read", 0) / rows_returned)
    values["trace.overhead_frac"] = op_ms / reference_ms - 1.0
    return values


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if os.environ.get("PYTHONHASHSEED") != "0":
        # string hashing is seeded per process, so the iteration order of
        # the driver's string sets changes from run to run (Spark already
        # pins it for its Python workers); pinning it here too made
        # batch's op_geomean_ms spread 0.07 instead of 0.14-0.20 in
        # five-run samples
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__), *argv])
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ beside {HERE}; run from a checkout",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(
        ROOT, ".perfbench",
        f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result, provenance = measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run's directory is still there
    print(json.dumps({"provenance": provenance}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
