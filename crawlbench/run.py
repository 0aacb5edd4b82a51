"""Crawl-engine benchmark: run one workload and print its metrics.

    python3 crawlbench/run.py --workload crawl-wide --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics untraced (``--trace 0``), the per-layer metrics traced
(``--trace 1``). The lines before it give each metric with its unit and
sample count, and the run's context (seed, cores, versions, commit).
The full record, spans included, is written under
``.crawlbench/results/``.

This process only supervises. The measurement runs in a child process in a
new process group, with its temp, Spark local and warehouse directories in
a per-run directory under ``.crawlbench/runs/``. Whatever happens (normal
end, error, timeout, SIGTERM or SIGINT), the supervisor waits until the
JVM, the py4j gateway and every ``pyspark.daemon`` worker of the run have
exited, kills what is left after a grace period, and removes the per-run
directory before it returns.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
import uuid

from proc import MARKER, marked_pids
from workloads import END_TO_END, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".crawlbench")
DEADLINE_S = 165       # the child is killed after this; the whole run stays under 180 s
GRACE_S = 15           # how long processes get to exit on their own
DRIVER_MEMORY = "3g"


class Terminated(Exception):
    pass


def _on_signal(signum, frame):
    raise Terminated(signal.Signals(signum).name)


def reap(run_id: str, grace: float) -> list[int]:
    """Wait up to ``grace`` seconds for the run's processes to exit, then
    SIGKILL the rest. Returns the pids that had to be killed."""
    t_end = time.monotonic() + grace
    while marked_pids(run_id) and time.monotonic() < t_end:
        time.sleep(0.1)
    killed = marked_pids(run_id)
    for pid in killed:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    t_end = time.monotonic() + 10
    while marked_pids(run_id) and time.monotonic() < t_end:
        time.sleep(0.1)
    return killed


def child_env(run_dir: str, run_id: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env = dict(os.environ)
    env.update({
        MARKER: run_id,
        "PYTHONPATH": os.pathsep.join([ROOT, env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "PYTHONUNBUFFERED": "1",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        # the launcher JVM that spark-submit starts first gets the same options
        "SPARK_LAUNCHER_OPTS": java_opts,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"),
            "--driver-java-options", shlex.quote(java_opts),
            "pyspark-shell",
        ]),
    })
    return env


def supervise(args) -> tuple[int, dict | None, dict]:
    """Run the worker; returns (exit code, worker result, cleanup record)."""
    run_id = uuid.uuid4().hex[:12]
    run_dir = os.path.join(STATE, "runs", run_id)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out", out, "--run-id", run_id]
    cleanup = {"run_id": run_id}
    proc = None
    code = 1
    result = None
    try:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=child_env(run_dir, run_id),
                                stdout=sys.stderr, start_new_session=True)
        try:
            code = proc.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            cleanup["timeout"] = True
        if os.path.exists(out):
            with open(out) as f:
                result = json.load(f)
    except Terminated as e:
        cleanup["terminated"] = str(e)
    finally:
        # ignore further signals until the run is cleaned up
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, signal.SIG_IGN)
        if proc is not None and proc.poll() is None:
            try:
                os.killpg(proc.pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
            try:
                proc.wait(timeout=5)
            except subprocess.TimeoutExpired:
                pass
        cleanup["killed"] = reap(run_id, GRACE_S)
        cleanup["left"] = marked_pids(run_id)
        shutil.rmtree(run_dir, ignore_errors=True)
        cleanup["dir_left"] = os.path.exists(run_dir)
    if "terminated" in cleanup:
        sys.exit(128 + 15)
    return code, result, cleanup


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [d for d in ("crawler_spark", "oracle") if not os.path.isdir(os.path.join(ROOT, d))]
    if missing:
        print(f"crawlbench: the program is not in this checkout (missing {missing})", file=sys.stderr)
        return 2
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, _on_signal)

    code, result, cleanup = supervise(args)
    if result is None or not result.get("ok"):
        print(json.dumps({"crawlbench_error": (result or {}).get("error"),
                          "exit": code, "cleanup": cleanup}), file=sys.stderr)
        return 1
    clean = not (cleanup["killed"] or cleanup["left"] or cleanup["dir_left"])
    failed = result["failed"] + (0 if clean else 1)
    attempted = result["attempted"] + 1  # the clean exit counts as one operation
    correct = failed == 0
    if args.trace:
        metrics = {k: {"value": v, "unit": result["layer_units"][k]}
                   for k, v in result["layer"].items()}
    else:
        metrics = {k: {"value": result["e2e"][k]["value"], "unit": result["e2e"][k]["unit"]}
                   for k in END_TO_END}

    record = {**result, "cleanup": cleanup, "correct": correct,
              "attempted": attempted, "failed_total": failed}
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    path = os.path.join(STATE, "results",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}-{cleanup['run_id']}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)

    ctx = result["context"]
    print(f"# {args.workload} seed={args.seed} {ctx['master']} nproc={ctx['nproc']} "
          f"spark={ctx['spark']} java={ctx['java']} python={ctx['python']} "
          f"commit={ctx['commit']} source={ctx['source_sha256_16']}")
    for name, m in result["e2e"].items():
        print(f"#   {name:<16} {m['value']:12.4f} {m['unit']:<5} n={m['n']}")
    print(f"#   {'failed_frac':<16} {failed / attempted:12.4f} {'ratio':<5} n={attempted}")
    for name, m in result["details"]["wall"].items():
        print(f"#   wall {name:<11} {m['value']:12.4f} {m['unit']:<5} n={m['n']}")
    print(f"#   peak_rss_mb {result['details']['peak_rss_mb']:17.4f} MB    n=1 (JVM + driver)")
    steal = result["details"]["steal_frac"]["steps"]
    print(f"#   host CPU steal during the measured steps: {', '.join(f'{x:.1%}' for x in steal)}")
    if args.trace:
        for row in result["self_times"][:12]:
            print(f"#   span {row['name']:<32} n={row['n']:<3} total={row['total_s']:8.3f}s "
                  f"self={row['self_s']:8.3f}s jobs={row['jobs']} stages={row['stages']}")
    for why in result["failures"]:
        print(f"# FAILED {why}")
    print(f"# record: {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
