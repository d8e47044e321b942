"""Collector benchmark: one run of one workload.

    python3 perfbench/run.py --workload tcp_avro --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout; it imports ``syslog_kafka_spark`` from
there and keeps its scratch files under ``.perfbench/``. The last line of
standard output is one JSON object: ``correct``, ``attempted`` (lines sent
in the measured phases), ``failed`` (lines or result rows that failed the
output check) and ``metrics``, which holds the end-to-end metrics of
BENCHMARK.json with ``--trace 0`` and its per-layer metrics with
``--trace 1``. The lines before it give the sample counts and the cpus.
The exit code is 0 only when the output check passed.

Workloads: tcp_avro and replay_parse (BENCHMARK.json), and udp_string, run
by hand (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

RUN_LIMIT_S = 170  # a run that is not done by then fails instead of hanging
# The driver JVM's heap is fixed at this size and touched at start. Grown
# lazily, its size followed the garbage collector's resizing, which spread
# the memory figure by a tenth to a fifth between runs; fixed, it is a
# constant that the memory figure leaves out.
DRIVER_MEM = "2g"
TRACE_LAYER_LINES = 20000


def prepare_env(name: str) -> str:
    """Create the run's scratch directory under the checkout and point
    Spark, the JVM and Python's temporary files into it. Must run before
    pyspark starts a JVM."""
    if not os.path.isdir(os.path.join(ROOT, "syslog_kafka_spark")):
        print(f"perfbench: no syslog_kafka_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        raise SystemExit(2)
    from perfbench.workloads import CPUS

    work = os.path.join(ROOT, ".perfbench", name)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "SPARK_SUBMIT_OPTS": (f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} -Djava.io.tmpdir={tmp}"
                              f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData").strip(),
    })
    import tempfile

    tempfile.tempdir = None
    return work


def stop_spark() -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


def _on_alarm(signum, frame):
    raise TimeoutError(f"run not finished after {RUN_LIMIT_S} s")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Collector benchmark: one run of one workload.")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    work = prepare_env(f"{args.workload}-{args.seed}-{os.getpid()}")
    from perfbench.workloads import Run

    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(RUN_LIMIT_S)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    t_run = time.perf_counter()
    try:
        run.run()
        if args.trace:
            from perfbench.gen import dialect_shares
            from perfbench.layers import layer_block

            # tracing adds only its span bookkeeping to the measured phases
            run.layer["trace.overhead_ratio"] = run.info["trace_overhead_s"] / run.info["measure_wall_s"]
            run.layer.update(layer_block(run.spark, args.seed, TRACE_LAYER_LINES,
                                         os.path.join(work, "layers"), run.tracer))
            run.info["layer_dialect_mix"] = dialect_shares(run.gen, TRACE_LAYER_LINES)
            trace_path = os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-seed{args.seed}.json")
            run.tracer.dump(trace_path, {"info": run.info, "end_to_end": run.e2e, "per_layer": run.layer})
            print(f"spans: {trace_path}")
    finally:
        try:
            stop_spark()
        finally:
            signal.alarm(0)
            shutil.rmtree(work, ignore_errors=True)

    metrics, errors = {}, list(run.errors)
    for m in wanted:
        value = (run.layer if args.trace else run.e2e).get(m["name"])
        if value is None or not math.isfinite(value):
            errors.append(f"metric {m['name']} was not measured")
            continue
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    info = {k: v for k, v in run.info.items() if k != "trace_overhead_s"}
    info["run_wall_s"] = round(time.perf_counter() - t_run, 2)
    print(json.dumps(info))
    for e in errors:
        print(f"CHECK FAILED: {e}")
    print(json.dumps({"correct": not errors, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
