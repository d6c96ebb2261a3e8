"""CDC-mirror benchmark: one command, three workloads, checked outputs.

Usage (from the repository root):

    python3 perfbench/run.py                      # all workloads, untraced
    python3 perfbench/run.py --workload pg_wal_eager --seed 3 --seconds 8
    python3 perfbench/run.py --workload hot_lazy_read --trace 1

Each workload is a closed loop with one client on Spark `local[--cpus]`
(default: the host's CPU count). Set-up, warm-up and every correctness check
run outside the timed operations. The last line of standard output is one
JSON object: `correct`, `attempted`, `failed` and `metrics` -- the
end-to-end metrics of BENCHMARK.json, or with `--trace 1` its per-layer
metrics. Earlier lines give the host record, all end-to-end figures and, when
tracing, the per-layer table; `--trace 1` also writes every span to
`.perfbench/trace_<workload>_<seed>.json`. Any correctness mismatch makes the
exit code 1. See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def _isolate_scratch() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # no hsperfdata files: the JVM writes those to /tmp whatever its tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _host_record(spark, cpus: int) -> dict:
    from pyspark.sql import functions as F

    def calibrate() -> float:
        t0 = time.perf_counter()
        spark.range(20_000_000, numPartitions=cpus).select(
            F.bit_xor(F.xxhash64("id"))).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    calibrate()  # warm
    return {
        "nproc": os.cpu_count(),
        "cpus": cpus,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "calibration_s": round(calibrate(), 4),
    }


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except OSError:
        pass
    return (py_kb + jvm_kb) / 1024.0


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    sc = spark.sparkContext
    gw = sc._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the gateway may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _run_one(spark, name: str, args) -> dict:
    from perfbench import metrics, workloads as W
    from perfbench.trace import Tracer

    work = os.path.join(WORK, "data", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = Tracer(spark.sparkContext)
    out = W.Outcome()
    ctx = W.Ctx(spark, tracer, out, args.seed, args.seconds, work,
                phases=(False, True) if args.trace else (False,))
    try:
        W.WORKLOADS[name](ctx, out)
    finally:
        tracer.unwrap_all()
        shutil.rmtree(work, ignore_errors=True)
    res = metrics.summarize(name, out, tracer, W.LAYERS, _peak_rss_mb(spark),
                            args.trace)
    if args.trace:
        path = os.path.join(WORK, f"trace_{name}_{args.seed}.json")
        tracer.dump(path, {"workload": name, "seed": args.seed,
                           "per_layer": res["per_layer_table"]})
        res["trace_file"] = os.path.relpath(path, ROOT)
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all",
                    help="pg_wal_eager | hot_lazy_read | query_mix | all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    args = ap.parse_args(argv)

    _isolate_scratch()
    sys.path.insert(0, ROOT)
    # a checkout without the program fails here, before any result prints
    from peerdb_spark import get_spark

    from perfbench import metrics
    from perfbench.workloads import WORKLOADS

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    for n in names:
        if n not in WORKLOADS:
            ap.error(f"unknown workload {n!r}")

    spark = get_spark("perfbench", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        print("host " + json.dumps(_host_record(spark, args.cpus)), flush=True)
        results = []
        for n in names:
            res = _run_one(spark, n, args)
            metrics.print_report(res)
            results.append(res)
    finally:
        _stop_spark(spark)
    final = metrics.result_line(results, args.trace)
    print(json.dumps(final), flush=True)
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
