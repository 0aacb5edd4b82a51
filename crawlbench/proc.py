"""Reading /proc: the processes of a benchmark run, CPU ticks, peak RSS.

A run's processes are found by an environment marker that ``run.py`` sets
for the worker and that the JVM and its Python daemon and workers inherit.
"""

from __future__ import annotations

import os

MARKER = "CRAWLBENCH_RUN"


def marked_pids(run_id: str | None = None) -> list[int]:
    """Pids carrying the marker of run ``run_id`` (of any run when None)."""
    prefix = f"{MARKER}={run_id}" if run_id else f"{MARKER}="
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/environ", "rb") as f:
                env = f.read().decode(errors="replace").split("\0")
        except OSError:
            continue
        if any(e == prefix or (run_id is None and e.startswith(prefix)) for e in env):
            found.append(int(pid))
    return found


def vm_hwm_kb(pid) -> int:
    """Peak resident set size of a process (``"self"`` for this one)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # JVM thread names, cut to 15


def _stat_ticks(path: str, fields: int) -> int:
    """Sum of the first ``fields`` CPU tick fields (utime, stime, cutime,
    cstime) of a /proc stat file."""
    with open(path) as f:
        rest = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in rest[11:11 + fields])


class RunCpu:
    """CPU seconds used so far by this run's processes (user + system, the
    children they reaped included), less the JVM's JIT compiler threads.

    Wall time grows when the hypervisor steals the CPU; CPU time far less.
    JIT compilation is left out because it is a warm-up cost that keeps
    running for several reps after the first and varies from run to run by
    more than the work being measured. The JVM starts and retires compiler
    threads as its compile queue grows and drains, and a retired thread's
    ticks stay in its process's total, so the last ticks of every compiler
    thread seen are kept and subtracted."""

    def __init__(self):
        self._jit: dict[tuple[int, str], int] = {}

    def __call__(self) -> float:
        ticks = 0
        for pid in marked_pids(os.environ.get(MARKER)):
            try:
                ticks += _stat_ticks(f"/proc/{pid}/stat", 4)
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:  # the process ended while being read
                continue
            for tid in tids:
                try:
                    with open(f"/proc/{pid}/task/{tid}/comm") as f:
                        if f.read().strip() in JIT_THREADS:
                            self._jit[pid, tid] = _stat_ticks(f"/proc/{pid}/task/{tid}/stat", 2)
                except OSError:  # the thread ended while being read
                    continue
        return (ticks - sum(self._jit.values())) / os.sysconf("SC_CLK_TCK")


def host_ticks() -> list[int]:
    """The host's CPU tick counters (/proc/stat, all CPUs)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time the hypervisor stole between two
    ``host_ticks`` readings."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])  # user nice system idle iowait irq softirq steal
    return d[7] / total if total else 0.0
