"""One benchmark run of one workload, in its own process.

Started by ``run.py`` inside a fresh process group, with every temp, Spark
local and warehouse directory pointed into a per-run directory. Writes its
result to ``--out`` as JSON and stops the SparkSession, the py4j gateway and
the JVM before it returns.

Timed sections contain only calls into the program. Generating inputs,
running the oracle and comparing outputs happen outside them.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # process start, before the heavy imports

import argparse
import hashlib
import json
import os
import platform
import subprocess
import sys
import traceback
from types import SimpleNamespace

import workloads
from proc import RunCpu, vm_hwm_kb
from spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _source_digest() -> str:
    """sha256 over the program's sources: identifies the code measured when
    the checkout carries no git metadata."""
    h = hashlib.sha256()
    for top in ("crawler_spark", "oracle"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    p = os.path.join(d, name)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


class Run:
    """State shared by the workloads: session, tracer, operation tally."""

    def __init__(self, args, spark, tracer, session_s, cpu):
        self.args = args
        self.cpu = cpu            # the run's CPU clock, proc.RunCpu
        self.spark = spark
        self.tracer = tracer
        self.session_s = session_s
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict = {}       # name -> {value, unit, n}
        self.layer: dict = {}     # name -> value
        self.details: dict = {"timeline": []}

    def mark(self, phase: str) -> None:
        """Seconds since process start at the end of ``phase``."""
        self.details["timeline"].append((phase, round(time.perf_counter() - T_PROCESS, 2)))

    def metric(self, name, value, unit, n) -> None:
        """An end-to-end metric with its sample count."""
        self.e2e[name] = {"value": value, "unit": unit, "n": n}

    def op(self, name: str, ok: bool, why: str = "") -> None:
        """Count one operation; a mismatch or exception fails it."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {why}" if why else name)


def shutdown(spark) -> dict:
    """Stop the session, the py4j gateway and the JVM; wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    t = time.perf_counter()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM's gateway server exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    return {"shutdown_s": time.perf_counter() - t,
            "jvm_exit": None if proc is None else proc.returncode}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", required=True)
    args = ap.parse_args(argv)
    workdir = os.path.dirname(os.path.abspath(args.out))

    from crawler_spark.sparkutils import get_spark

    cores = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    spark = get_spark(f"crawlbench-{args.workload}", cores=cores)
    session_s = time.perf_counter() - t
    # process start to a ready session: this process and the JVM it launched
    cpu = RunCpu()
    startup = SimpleNamespace(wall=time.perf_counter() - T_PROCESS, cpu=cpu())
    tracer = Tracer(args.run_id, spark.sparkContext if args.trace else None)
    run = Run(args, spark, tracer, session_s, cpu)
    run.mark("session")
    result = {"ok": False}
    try:
        workload = workloads.WORKLOADS[args.workload]
        workload(run, workdir, startup)
        jvm_pid = getattr(spark.sparkContext._gateway, "proc", None)
        rss_kb = vm_hwm_kb("self") + (vm_hwm_kb(jvm_pid.pid) if jvm_pid else 0)
        # peak RSS swings with G1 heap sizing by more than the gated metrics'
        # bounds allow, so it is a per-layer number, printed on every run
        run.layer["spark.peak_rss_mb"] = run.details["peak_rss_mb"] = rss_kb / 1024.0
        result = {
            "ok": True,
            "attempted": run.attempted,
            "failed": run.failed,
            "failures": run.failures[:20],
            "e2e": run.e2e,
            "layer": {k: run.layer.get(k, 0.0) for k in workloads.PER_LAYER} if args.trace else {},
            "layer_units": workloads.PER_LAYER if args.trace else {},
            "details": run.details,
            "context": {
                "workload": args.workload,
                "seed": args.seed,
                "seconds": args.seconds,
                "trace": args.trace,
                "nproc": os.cpu_count(),
                "cores_available": cores,
                "master": spark.sparkContext.master,
                "spark": spark.version,
                "java": spark.sparkContext._jvm.System.getProperty("java.version"),
                "python": platform.python_version(),
                "commit": _git_commit(),
                "source_sha256_16": _source_digest(),
                "driver_memory": spark.conf.get("spark.driver.memory"),
            },
        }
        if args.trace:
            result["spans"] = tracer.to_json()
            result["self_times"] = tracer.self_time_table()
    except Exception:
        result = {"ok": False, "error": traceback.format_exc()}
    finally:
        result["shutdown"] = shutdown(spark)
        result["timeline"] = run.details["timeline"] + [
            ("shutdown", round(time.perf_counter() - T_PROCESS, 2))]
        tmp = args.out + ".tmp"
        with open(tmp, "w") as f:
            json.dump(result, f)
        os.replace(tmp, args.out)
    return 0 if result.get("ok") else 1


if __name__ == "__main__":
    sys.exit(main())
