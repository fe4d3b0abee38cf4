#!/usr/bin/env python3
"""Run one benchmark workload at one seed and print its metrics.

    python3 perfbench/run.py --workload ann_serve --seed 1 --seconds 10 \\
        --trace 0

Run from the repository root. Inputs are generated from the seed and
cached under ``.perfbench_cache/``; the engine's outputs go to
``.perfbench_run/``, which is emptied at the start of every run. The last
line of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it is the run's
record: contention stamp, sample counts and any failed checks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_run")
CACHE = os.path.join(ROOT, ".perfbench_cache")
ENGINE = os.path.join(ROOT, "vectordb_explorations_spark")
DRIVER_MEM = "3g"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["ann_serve", "crawl_admit"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _environment() -> None:
    """Process settings that must precede the first engine import: one
    BLAS thread per process, and every scratch file inside the checkout."""
    for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _start_spark(cpus: int):
    from vectordb_explorations_spark.session import get_spark

    java_opts = (f"-XX:-DontCompileHugeMethods -Xms{DRIVER_MEM} "
                 f"-Djava.io.tmpdir={WORK}/tmp -Dderby.system.home={WORK}")
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{cpus}]",
        extra_conf={"spark.driver.extraJavaOptions": java_opts,
                    "spark.sql.warehouse.dir": f"{WORK}/warehouse",
                    "spark.sql.ui.retainedExecutions": "100000"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait."""
    from pyspark import SparkContext

    from perfbench.stamp import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline:
        left = [p for p in descendants(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.time() > deadline - 10:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(ENGINE):
        print(f"perfbench: no engine package at {ENGINE}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    _environment()
    sys.path.insert(0, ROOT)

    from perfbench import workloads
    from perfbench.spans import Tracer
    from perfbench.stamp import Contention, PeakRss

    cpus = os.cpu_count() or 1
    t_start = time.perf_counter()
    contention = Contention()
    rss = PeakRss()
    spark = None
    try:
        spark, session_s = _start_spark(cpus)
        tracer = Tracer(spark if args.trace else None)
        run = workloads.Run(spark, tracer, WORK, CACHE, args.seed,
                            args.seconds, cpus)
        e2e = workloads.WORKLOADS[args.workload](run, session_s)
        if args.trace:
            from vectordb_explorations_spark.plans.explain import (
                cache_footprint)
            cache_bytes = cache_footprint(spark)["total_bytes"]
    finally:
        peak_mb = rss.stop()
        if spark is not None:
            _stop_spark(spark)
    stamp = contention.finish()
    detail = e2e.pop("_detail")

    if args.trace:
        spans_path = os.path.join(
            WORK, f"spans-{args.workload}-{args.seed}.json")
        with open(spans_path, "w") as f:
            json.dump([s.__dict__ for s in tracer.spans], f)
        roots = [s for s in tracer.spans if s.parent is None]
        timed = [s.end - s.start for s in roots if s.slot.startswith("step")]
        metrics = workloads.layer_metrics(run)
        metrics.update({
            "session.start_s": session_s,
            "explain.cache_bytes": cache_bytes,
            "trace.bookkeeping_s": tracer.bookkeeping_s / max(1, len(roots)),
            "trace.op_p50_s": statistics.median(timed) if timed else 0.0,
        })
        units = {}
    else:
        builds = [w for slot, _, w in run.ops if slot.startswith("build")]
        metrics = {
            "setup_s": run.setup_s,
            "peak_rss_mb": peak_mb,
            "build_rows_per_s": (run.rows_per_build * len(builds) / sum(builds)
                                 if builds else 0.0),
            **e2e,
        }
        units = {"setup_s": "s", "peak_rss_mb": "MB",
                 "build_rows_per_s": "1/s", "items_per_s": "1/s",
                 "op_p50_s": "s", "recall": "ratio",
                 "index_bytes_per_input_byte": "ratio"}
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "samples": dict(Counter(slot for slot, _, _ in run.ops)),
        "ops": [[slot, name, round(w, 3)] for slot, name, w in run.ops],
        "detail": detail, "contention": stamp,
        "run_s": round(time.perf_counter() - t_start, 3),
        "peak_mb_by_process": rss.at_peak,
        "session_s": round(session_s, 3),
        "problems": run.problems[:20],
    }
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units.get(k, _unit(k))}
                    for k, v in metrics.items()},
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith((".spark.jobs", ".spark.tasks", "_files",
                      "_partitions")):
        return "count"
    return "ratio"


if __name__ == "__main__":
    sys.exit(main())
