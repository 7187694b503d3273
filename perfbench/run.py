"""Benchmark of the deimos pipeline and the analytic queries.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It starts one Spark session through
`deimos_spark.session.get_spark`, runs the workload, checks its outputs
outside the timed region and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's `end_to_end` list, with
--trace 1 its `per_layer` list. A per-layer metric of a layer the
workload does not touch reads 0. Every run also writes its full record
(host, metrics, problems, and with --trace 1 the spans) to
perfbench/_out/; report.py turns the spans into per-layer self times.
See perfbench/README.md for what each metric means on each workload.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from common import (  # noqa: E402
    SparkJobs, Tracer, cpu_probe_s, cpu_ticks, host_info, peak_rss_mb,
)

TASK_THREADS = 2
WORKLOADS = {
    "pipeline-steady": ("pipeline", "run_steady"),
    "analytic-sf0.1": ("analytic", "run_analytic"),
}


def _stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    try:
        from deimos_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the package is not here ({e}); run from the "
              "root of a checkout", file=sys.stderr)
        return 2

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-"
                        f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Spark's, the JVM's and Python's scratch files stay in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        + os.environ.get("JAVA_TOOL_OPTIONS", "")).strip()
    tempfile.tempdir = None
    # Spark's local task threads (get_spark's local[N]). Two on a 4-vCPU
    # host leave cores for the JIT, the garbage collector, the Python
    # driver and Python workers: with all cores (local[*]) the analytic
    # run-to-run spread was about twice as wide, and at scale 0.1 two
    # threads ran the queries as fast.
    os.environ["SPARK_GRAFT_CPUS"] = str(TASK_THREADS)

    # the host probes are not set-up: their time is left out of session_s
    t_host = time.perf_counter()
    host = host_info(ROOT, args.seed)
    host_s = time.perf_counter() - t_host
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    session_s = time.perf_counter() - T_START - host_s

    tracer = Tracer(enabled=bool(args.trace))
    module, fn = WORKLOADS[args.workload]
    try:
        jobs_at_start = SparkJobs(spark).ids() if args.trace else set()
        res = getattr(importlib.import_module(module), fn)(
            spark, ROOT, work, args.seed, args.seconds, tracer)
        if args.trace:
            res["layer"].update(SparkJobs(spark).totals(jobs_at_start))
        res["e2e"]["setup_s"] += session_s
        res["layer"]["peak_rss_mb"] = peak_rss_mb()
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    res["layer"]["session.get_spark_s"] = session_s
    res["layer"]["ops_failed_ratio"] = res["failed"] / res["attempted"]
    source = res["layer"] if args.trace else res["e2e"]
    metrics = {
        m["name"]: {"value": source.get(m["name"], 0), "unit": m["unit"]}
        for m in wanted
    }
    host["loadavg_after"] = list(os.getloadavg())
    host["cpu_probe_after_s"] = cpu_probe_s()
    steal, total = cpu_ticks()
    before = host.pop("cpu_ticks_before")
    host["cpu_steal_share"] = (steal - before[0]) / max(total - before[1], 1)
    record = {"workload": args.workload, "seconds": args.seconds,
              "trace": args.trace, "host": host, **res}
    if args.trace:
        record["spans"] = tracer.as_records()
    out_dir = os.path.join(HERE, "_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(
            out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
            "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
