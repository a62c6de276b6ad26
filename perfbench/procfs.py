"""Process-tree readings from /proc (psutil is not available).

The benchmark's process tree is the Python driver, the JVM it launches
and the Python workers the JVM forks. Memory is summed over the tree;
Python-worker CPU is read from the JVM's Python descendants.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # Fields after the parenthesised command name (which may hold spaces).
    return raw[raw.rindex(")") + 2 :].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the machine since boot, in ticks. Steal
    is time a virtual CPU was runnable but the host ran something else."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    st = _stat(os.getpid())
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + int(st[19]) / _TICK


def tree_rss(root: int) -> int:
    """Resident bytes summed over every live process in the tree.

    A child the JVM is spawning (Hadoop's local file system runs ``ls``
    and ``chmod``) shares the JVM's memory until it execs, and still
    shows the JVM's command line; it is skipped, not counted twice."""
    total = 0
    for pid in [root, *descendants(root)]:
        st = _stat(pid)
        if st is None:
            continue
        cmd = _cmdline(pid)
        if os.path.basename(cmd.split(" ", 1)[0]) == "java" and cmd == _cmdline(int(st[1])):
            continue
        total += int(st[21]) * _PAGE
    return total


def python_worker_cpu(jvm_pid: int) -> tuple[float, set[int]]:
    """CPU seconds spent by the JVM's live Python descendants, and their pids.

    Each one counts its own ``utime``/``stime`` and its reaped children's
    ``cutime``/``cstime``: the pyspark daemon's children are the forked
    workers. The JVM's own ``cutime`` is not counted, because it also holds
    the shells that Hadoop's local file system forks; a Python runner the
    JVM launched and has already reaped is therefore missed.
    """
    secs, pids = 0.0, set()
    for pid in descendants(jvm_pid):
        if not os.path.basename(_cmdline(pid).split(" ", 1)[0]).startswith("python"):
            continue
        s = _stat(pid)
        if s is None:
            continue
        pids.add(pid)
        secs += sum(int(x) for x in s[11:15]) / _TICK
    return secs, pids


class RssSampler:
    """Background sampler of the process tree's summed resident memory,
    every 0.1 s; ``peak`` is the largest sum seen, in bytes."""

    def __init__(self, root: int):
        self.root = root
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._sample()

    def _sample(self) -> None:
        self.peak = max(self.peak, tree_rss(self.root))

    def _run(self) -> None:
        while not self._stop.wait(0.1):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
