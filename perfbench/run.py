#!/usr/bin/env python3
"""Run one benchmark workload once and print one JSON result line.

    python3 perfbench/run.py --workload kg_write --seed 1 --seconds 5 --trace 0

Run from the repository root (any working directory works; paths are
resolved from this file). The last line of standard output is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. The
full record of the run (host health, every call, every gate, the detailed
per-operation timings) is written to perfbench/_results/. Everything the
run writes stays under perfbench/, and is removed except that record.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


class Context:
    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(
            HERE, "_work",
            f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
        self.spark = None
        self.spans = None


def _spark_env(ctx) -> dict:
    """Keep every file Spark and its Python workers write under the run's
    work directory, and ship the repository to the workers so the engine's
    UDFs import from any working directory."""
    tmp = os.path.join(ctx.work, "tmp")
    local = os.path.join(ctx.work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    # both JVMs (spark-submit's launcher and the driver): no hsperfdata
    # file under /tmp, temp files under the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    conf = {
        "spark.executorEnv.PYTHONPATH": REPO,
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }

    if ctx.trace:
        log_dir = os.path.join(ctx.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def _load_spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def _failed(call) -> bool:
    return bool(call["error"] or call.get("problems"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, "kernel_memory_spark",
                                       "__init__.py")):
        print(f"engine sources not found under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)

    import host
    import layers
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {workloads.WORKLOADS}")
    spec = _load_spec()
    ctx = Context(args)
    ctx.spans = tracing.Spans()
    os.makedirs(ctx.work, exist_ok=True)
    record = {"workload": ctx.workload, "seed": ctx.seed, "trace": ctx.trace,
              "host": host.host_info(), "host_before": host.probe()}
    try:
        from kernel_memory_spark.session import get_spark

        t0 = time.perf_counter()
        ctx.spark = get_spark(
            app_name=f"perfbench-{ctx.workload}",
            master=f"local[{ctx.nproc}]", shuffle_partitions=2 * ctx.nproc,
            extra_conf=_spark_env(ctx),
        )
        get_spark_s = time.perf_counter() - t0
        wl = workloads.make(ctx)
        t0 = time.perf_counter()
        wl.generate()
        generate_s = time.perf_counter() - t0
        wl.setup()
        rest_s = time.perf_counter() - t0 - generate_s
        setup_s = get_spark_s + generate_s + rest_s

        pass_walls, n = [], 0
        while not pass_walls or sum(pass_walls) < args.seconds:
            t0 = time.perf_counter()
            with ctx.spans.span("pass"):
                wl.run_pass(n)
            pass_walls.append(time.perf_counter() - t0)
            wl.check_pass()
            n += 1
        timed_calls = list(wl.client.calls)
        jvm_pid = ctx.spark.sparkContext._gateway.proc.pid
        peak_rss = host.peak_rss_mb(jvm_pid) + host.peak_rss_mb(os.getpid())

        extra = {}
        if ctx.trace and ctx.workload == workloads.WRITE:
            extra["serial_steps"] = wl.serial_staged_build()
        _stop_session(ctx.spark)
        ctx.spark = None

        calls = wl.client.calls
        e2e = {
            "setup_s": setup_s,
            "pass_wall_s": statistics.median(pass_walls),
            "catalog_bytes_per_input_byte": wl.catalog_bytes / wl.input_bytes,
        }
        details = wl.details()
        details["call_p50_s"] = statistics.median(
            c["wall_s"] for c in timed_calls)
        details["peak_rss_mb"] = peak_rss
        failed = sum(1 for c in calls if _failed(c))
        details["failed_ratio"] = failed / len(calls)
        record.update({
            "setup": {"get_spark_s": get_spark_s, "generate_s": generate_s,
                      "setup_rest_s": rest_s},
            "pass_walls_s": pass_walls, "end_to_end": e2e,
            "details": details, "calls": calls,
        })
        if ctx.trace:
            jobs = tracing.read_event_log(os.path.join(ctx.work, "eventlog"))
            per_layer = layers.per_layer(
                ctx, wl, jobs, timed_calls, pass_walls, get_spark_s, extra)
            per_layer["session.peak_rss_mb"] = peak_rss
            record["per_layer"] = per_layer
            section = "per_layer"
            values = per_layer
        else:
            section = "end_to_end"
            values = e2e
        metrics = {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec[section]
        }
    finally:
        if ctx.spark is not None:
            _stop_session(ctx.spark)
        record["host_after"] = host.probe()
        shutil.rmtree(ctx.work, ignore_errors=True)
        out_dir = os.path.join(HERE, "_results")
        os.makedirs(out_dir, exist_ok=True)
        out = os.path.join(
            out_dir, f"{ctx.workload}-s{ctx.seed}-t{int(ctx.trace)}.json")
        with open(out, "w") as f:
            json.dump(record, f, indent=1, default=str)

    for name in sorted(details):
        print(f"  {name:28s} {details[name]}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(calls),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
