"""Process-tree and host readings from ``/proc`` (Linux).

The Spark driver JVM is a child of the benchmark process and the Python
workers are children of the JVM, so "the Spark process tree" is every
descendant of this process.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is in parentheses and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user+system, including reaped children) of every
    descendant of this process."""
    ticks = 0
    for pid in descendants(os.getpid()):
        f = _stat_fields(pid)
        if f is not None:
            # utime stime cutime cstime are fields 14..17 of stat(5)
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK_TCK


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class RssSampler:
    """Background thread sampling the summed RSS of the Spark process tree
    and of its Python workers every ``interval`` seconds; keeps the peaks.
    Use as a context manager around the measured region."""

    interval = 0.1

    def __init__(self):
        self.tree_peak = 0
        self.python_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        tree = python = 0
        for pid in descendants(os.getpid()):
            rss = _rss_bytes(pid)
            tree += rss
            if _is_python_worker(pid):
                python += rss
        self.tree_peak = max(self.tree_peak, tree)
        self.python_peak = max(self.python_peak, python)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def end_children(jvm, timeout: float = 60.0) -> None:
    """Let the gateway JVM exit (it does when its stdin closes), wait for
    it, and kill whatever else this process started that is still alive."""
    if jvm is not None:
        if jvm.stdin:
            jvm.stdin.close()
        try:
            jvm.wait(timeout)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def host_cpu() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user
    return sum(fields[:8]), fields[7]


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])
