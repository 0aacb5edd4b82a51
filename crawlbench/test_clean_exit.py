"""Clean-exit tests of the benchmark harness.

After a finished run, and after a run killed with SIGTERM in the middle of
its crawl, no process of the run (worker, JVM, py4j gateway,
``pyspark.daemon`` workers) and no directory it created may remain. The
check is made the moment ``run.py`` returns, not after a pause.

    python3 -m pytest crawlbench/test_clean_exit.py -q    # about 3 minutes
"""

from __future__ import annotations

import glob
import json
import os
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from proc import marked_pids as _marked  # noqa: E402

ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")
RUNS = os.path.join(ROOT, ".crawlbench", "runs")
# where Spark and the JVM would leave temp files if the run's redirection failed
TEMP_ROOTS = (tempfile.gettempdir(), "/dev/shm")
TEMP_PREFIXES = ("spark", "blockmgr", "pyspark", "hsperfdata", "crawler-spark", "tmp")


def _temp_entries():
    found = set()
    for root in TEMP_ROOTS:
        if os.path.isdir(root):
            found |= {os.path.join(root, n) for n in os.listdir(root)
                      if n.startswith(TEMP_PREFIXES)}
    return found


def _run_dirs():
    return set(os.listdir(RUNS)) if os.path.isdir(RUNS) else set()


def _assert_clean(before_temp, before_runs):
    assert _marked() == []
    assert _run_dirs() <= before_runs
    assert _temp_entries() <= before_temp


def test_finished_run_leaves_nothing():
    assert _marked() == []
    temp, runs = _temp_entries(), _run_dirs()
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", "frontier", "--seed", "5",
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    _assert_clean(temp, runs)
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0


def test_run_killed_mid_crawl_leaves_nothing():
    assert _marked() == []
    temp, runs = _temp_entries(), _run_dirs()
    proc = subprocess.Popen(
        [sys.executable, RUN, "--workload", "crawl-wide", "--seed", "5",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    try:
        # mid-crawl: round 0 is committed, the measured rounds are running
        deadline = time.monotonic() + 170
        while not glob.glob(os.path.join(RUNS, "*", "crawl", "_commits", "commit-000000.json")):
            assert proc.poll() is None, "the run ended before its crawl started"
            assert time.monotonic() < deadline, "the crawl never reached round 0"
            time.sleep(0.2)
        assert _marked(), "no process of the run found while it is running"
        proc.send_signal(signal.SIGTERM)
        out, _ = proc.communicate(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    _assert_clean(temp, runs)
    assert proc.returncode != 0
    assert out.strip() == ""
