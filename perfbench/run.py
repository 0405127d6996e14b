"""Benchmark of the ingestion pipeline and the query inventory.

    python3 perfbench/run.py --workload {ingest,query} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed``
(cached under ``.perfbench/cache``); everything the run writes stays
under ``.perfbench/``. One process, one Spark session on
``local[<cpus>]``, one client issuing calls in a closed loop for
``--seconds`` after set-up and warm-up.

The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is a ``detail`` object: the workload-specific numbers, and with
``--trace 1`` the per-module breakdown.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "data_ingestor_gluejob_script_spark"
DRIVER_MEMORY = "3g"


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _descendants(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                kids = [int(k) for k in f.read().split()]
        except OSError:
            continue
        for k in kids:
            out.append(k)
            out.extend(_descendants(k))
    return out


def _peak_rss_mb() -> float:
    """Sum of ``VmHWM`` over this process and its descendants (the JVM)."""
    total_kb = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def _host_env(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
    }


def main() -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "pipeline.py")):
        print(f"no {PACKAGE} package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2

    sys.path[:0] = [ROOT, HERE]
    import workloads
    from report import end_to_end, per_layer
    from spans import Tracer, attribute, read_event_log

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    cache = os.path.join(base, "cache")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(cache, exist_ok=True)
    os.environ.update(_host_env(work))
    event_dir = os.path.join(work, "events")
    os.makedirs(event_dir)
    load_start = _loadavg()

    from pyspark import SparkContext

    from data_ingestor_gluejob_script_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "true",
            "spark.eventLog.compression.codec": "zstd",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=conf)
        spark.range(1).count()
        start_s = time.perf_counter() - t0
        tracer = Tracer(spark, bool(args.trace))
        res = workloads.Result()
        res.detail["session_start_s"] = start_s
        workloads.WORKLOADS[args.workload](
            spark, work, cache, args.seed, args.seconds, tracer, res)
        res.detail["setup_s"] = res.loop_start - t_start - res.untimed_s
        res.detail["peak_rss_mb"] = _peak_rss_mb()
    finally:
        if spark is not None:
            gateway = SparkContext._gateway
            spark.stop()
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    # the gateway JVM exits when its stdin closes
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
    res.detail["load_1m"] = [load_start, _loadavg()]
    res.detail["op_s"] = res.op_s()
    res.detail["failed_frac"] = res.failed / res.attempted

    if args.trace:
        attribute(tracer.spans, read_event_log(event_dir))
        metrics, breakdown = per_layer(args.workload, res, tracer.spans)
        res.detail.update(breakdown)
    else:
        metrics = end_to_end(res)
    shutil.rmtree(work, ignore_errors=True)
    res.detail = {k: v for k, v in res.detail.items() if not k.startswith("_")}
    print(json.dumps({"detail": {"workload": args.workload, "seed": args.seed,
                                 "trace": args.trace, **res.detail}}))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
