"""Seeded benchmark for letsearch_spark.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Workloads (see perfbench/README.md for why each exists and its sizes):
``serve`` and ``prep_dedup``. One single-threaded, closed-loop client
drives the package's public API on ``local[nproc]``.

``--trace 0`` measures the end-to-end metrics. ``--trace 1`` runs the
same seed with spans around every call into a layer and reports the
per-layer metrics. The last line of standard output is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``;
the line before it carries every named metric of the workload, the
measured input properties and the check results.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from harness import descendants

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Spark driver heap: the package default (8g) can exhaust a 15 GB host
# once the JVM, its cache and the Python workers are counted; no workload
# here caches more than a few MB
DRIVER_MEMORY = "2g"
# end-to-end metric -> unit; a workload's result maps each slot onto one
# of its named metrics (README.md has the table)
END_TO_END = {
    "setup_s": "s",
    "quality_frac": "fraction",
    "peak_rss_mb": "MB",
}


def start_session(work: str, cores: int):
    from letsearch_spark import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        },
    )
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, session_s


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for every process
    this run started (the JVM's Python workers end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin reaches end of file
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    # the Python workers Spark forks must import the package from this
    # checkout whatever the working directory is
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if not os.path.isfile(os.path.join(ROOT, "letsearch_spark", "__init__.py")):
        sys.exit(f"perfbench: no letsearch_spark package beside {HERE}; run it from a checkout")
    sys.path.insert(0, ROOT)

    from harness import Context, Ops, RssSampler
    from spans import Tracer

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        spark, session_s = start_session(work, cores)
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Context(args, spark, tracer, ROOT, work, session_s, t_start)
        os.makedirs(ctx.out_dir, exist_ok=True)
        ctx.log(f"session started in {session_s:.2f}s")
        try:
            result = WORKLOADS[args.workload](ctx)
        finally:
            tracer.close()
    finally:
        rss.stop()
        if spark is not None:
            stop_session(spark)
            print(f"[perfbench {time.perf_counter() - t_start:7.2f}s] stopped", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)

    ops: Ops = result["ops"]
    correct = all(ctx.checks.values()) and bool(ctx.checks)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "inputs": result["inputs"],
        "checks": ctx.checks,
        "check_notes": ctx.check_notes,
        "failed_frac": ops.total_failed() / max(1, ops.attempted),
        "failed_by_op": ops.failed,
    }
    if args.trace:
        metrics = result["per_layer"]
        detail.update(result["trace_detail"])
    else:
        named = result["named"]
        named["failed_frac"] = (detail["failed_frac"], "fraction")
        named["peak_rss_mb"] = (rss.peak_bytes / 2**20, "MB")
        named["setup_s"] = (result["setup_s"], "s")
        detail["named_metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in named.items()}
        detail["samples"] = {k: len(v) for k, v in ops.lat.items()}
        detail["latencies_ms"] = {k: [round(x * 1e3, 1) for x in v] for k, v in ops.lat.items()}
        slots = dict(result["slots"], setup_s="setup_s", peak_rss_mb="peak_rss_mb")
        detail["slots"] = slots
        metrics = {
            k: {"value": named[slots[k]][0], "unit": unit} for k, unit in END_TO_END.items()
        }
    print(json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": ops.attempted,
                "failed": ops.total_failed(),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
