"""CPU time and resident memory of this process and all its descendants.

Read straight from ``/proc`` (no psutil): the tree is the benchmark's own
driver process, the JVM it launches, and the Python workers the JVM forks.
CPU includes ``cutime``/``cstime``, so time of children that exited and
were reaped inside the tree is kept. Memory is the sum of PSS, so pages the
forked workers share are counted once.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listdir and open
        return None
    # comm may contain spaces; fields restart after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[str]:
    root = str(root or os.getpid())
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = _stat_fields(pid)
            if f is not None:
                children.setdefault(f[1], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """utime+stime+cutime+cstime summed over the tree, in seconds."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def tree_pss_bytes(root: int | None = None) -> int:
    """Resident memory of the tree with shared pages counted once: the sum
    of each process's PSS. Forked Python workers share most of their pages
    with the worker daemon, so a plain RSS sum would count them per worker."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError):
            continue
    return total


class PeakRss:
    """Background sampler of ``tree_pss_bytes``; ``peak`` is the max."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes())
            self._stop.wait(self.period_s)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5.0)


def process_age_s() -> float:
    """Seconds since this process started (``/proc/self/stat`` starttime)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    start_ticks = int(_stat_fields("self")[19])
    return max(0.0, uptime - start_ticks / _TICK)


def _running(pid: str) -> bool:
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"  # a zombie has ended


def wait_gone(pids: list[str], timeout_s: float) -> list[str]:
    """Wait until none of ``pids`` runs; return the ones still running."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _running(p)]
        if alive:
            time.sleep(0.05)
    return alive
