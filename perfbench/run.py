"""Benchmark entry point: one workload, one seed, one JSON result line.

Run from the repository root::

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 8 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` re-runs the
same workload with spans around every layer call and Spark's event log
on, and prints the per-layer metrics instead. The line before the
result holds the run's details (sizes, sample counts, per-class
latencies and, when tracing, every folded layer metric).

The run owns one Spark session in this process on ``local[<cpus>]``,
keeps its scratch (Spark local dirs, segments, event log) under
``.perfbench_tmp/`` in the working directory, and removes it on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _check_engine_source() -> None:
    """The engine must come from this checkout, not from anywhere else
    on the path."""
    import miru_spark

    here = os.path.realpath(os.path.dirname(miru_spark.__file__))
    if os.path.commonpath([here, os.path.realpath(ROOT)]) != os.path.realpath(ROOT):
        raise ImportError(f"miru_spark imported from {here}, outside {ROOT}")


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    args = _args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; choose from {names}", file=sys.stderr)
        return 2

    # run hygiene: workers import the engine from this checkout, scratch
    # stays inside it, and nothing else on the machine is touched
    work_dir = os.path.join(ROOT, ".perfbench_tmp", f"{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(os.path.join(work_dir, "local"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # the checkout root replaces this script's directory on the path, so
    # perfbench/trace.py cannot shadow the standard library's trace
    sys.path[0] = ROOT

    try:
        _check_engine_source()
        from miru_spark.session import get_spark

        from perfbench import trace, workloads

        setup = workloads.Stopwatch()  # set-up ends where timing starts
        cpus = len(os.sched_getaffinity(0))
        tracer = trace.Tracer(enabled=bool(args.trace))
        trace.install(tracer)
        conf = {"spark.ui.showConsoleProgress": "false"}
        log_dir = os.path.join(work_dir, "eventlog")
        if args.trace:
            os.makedirs(log_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + log_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        spark = tracer.call(
            "session.get_spark",
            get_spark,
            "perfbench",
            master=f"local[{cpus}]",
            extra_conf=conf,
        )
        tracer.attach(spark)
        try:
            res = workloads.WORKLOADS[args.workload](
                spark, tracer, args.seed, args.seconds, work_dir, setup
            )
        finally:
            _stop(spark)

        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": cpus,
            "samples": res.samples,
            **res.detail,
        }
        if args.trace:
            layers = trace.fold(tracer, log_dir)
            for name, (value, _unit) in res.metrics.items():
                layers[f"traced.{name}"] = value
            detail["layers"] = layers
            metrics = {
                m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in bench["per_layer"]
            }
        else:
            metrics = {
                m["name"]: {"value": res.metrics[m["name"]][0], "unit": m["unit"]}
                for m in bench["end_to_end"]
            }
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:
            pass

    print(json.dumps({"perfbench": detail}))
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
