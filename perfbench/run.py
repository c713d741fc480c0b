"""The repository benchmark: one command, one process, ``local[nproc]``.

    python3 perfbench/run.py --workload wire_tail --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The benchmark generates seeded inputs,
stages them to files under ``.perfbench_work/``, starts one Spark
session, warms the JVM, then times the workload through the library's
public entry points called with their defaults, and checks every output
against an independent reference.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``).  A traced run also writes its spans and counters to
``perfbench_out/trace-<workload>-<seed>.json`` and prints a per-layer
table on standard error.

The benchmark sets deployment settings only (core count, heap, local
dirs, temp dirs, ``PYTHONPATH`` for Python workers) and no program
option, so a change to a program default shows in the numbers.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

PACKAGE = "nearscan_kafka_streams_spark"
HEAP = "4g"  # fits a 15 GB box shared with other work


def deployment_env(root: str, work: str) -> dict[str, str]:
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
        "TMPDIR": tmp,
    }


def start_spark(tracer, work: str):
    from nearscan_kafka_streams_spark.session import get_spark

    with tracer.span("session.start"):
        spark = get_spark(
            app_name="perfbench",
            extra_conf={
                # deployment only: JVM temp files stay in the checkout
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach_engine(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that ignores stdin EOF
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    t_start = time.monotonic()  # setup_s counts the imports below too
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.ALL))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package in {root}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    settings = deployment_env(root, work)
    os.environ.update(settings)

    from tracing import Tracer

    tracer = Tracer(bool(args.trace), f"{args.workload}-{args.seed}")
    spark = start_spark(tracer, work)
    try:
        ctx = workloads.Context(spark, work, args.seed, args.seconds,
                                tracer, t_start)
        res = workloads.ALL[args.workload](ctx)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: stopped at {time.monotonic() - t_start:.2f}s",
              file=sys.stderr)

    print(json.dumps({"settings": settings, "workload": args.workload,
                      "seed": args.seed, "detail": res.detail}),
          file=sys.stderr)
    if args.trace:
        layers = res.layers
        layers["trace.overhead_s"] = tracer.overhead_s
        tracer.write(
            os.path.join(root, "perfbench_out",
                         f"trace-{args.workload}-{args.seed}.json"),
            {"settings": settings, "layers": layers},
        )
        print_layer_table(args.workload, tracer, layers)
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                   for k, u in workloads.PER_LAYER.items()}
    else:
        metrics = {k: {"value": res.metrics[k], "unit": u}
                   for k, u in workloads.END_TO_END.items()}
    print(json.dumps({"correct": res.correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


def print_layer_table(workload: str, tracer, layers: dict) -> None:
    err = sys.stderr
    print(f"\nper-layer: {workload}  (run {tracer.run_id})", file=err)
    print(f"  {'span':<34}{'calls':>6}{'total_s':>10}{'self_s':>10}", file=err)
    self_s = tracer.self_times()
    names = list(dict.fromkeys(s["name"] for s in tracer.spans))
    for n in names:
        calls = sum(1 for s in tracer.spans if s["name"] == n)
        print(f"  {n:<34}{calls:>6}{tracer.total(n):>10.3f}"
              f"{self_s[n]:>10.3f}", file=err)
    for k in sorted(layers):
        print(f"  {k:<44}{layers[k]:>14.4f}", file=err)
    print(f"  tracing overhead: {tracer.overhead_s:.3f} s", file=err)


if __name__ == "__main__":
    sys.exit(main())
