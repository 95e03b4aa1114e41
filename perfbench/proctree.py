"""CPU time and resident memory of a process tree, read from /proc.

The tree is a root pid plus every descendant: for a Spark run that is
the Python driver, its JVM, the PySpark daemon and its workers. A
child's CPU time stays visible after it exits through the ``cutime``/
``cstime`` fields of the parent that reaped it."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None  # exited between listing and reading
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU-seconds of the tree, including reaped children."""
    total = 0
    for pid in tree_pids(root):
        fields = stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of /proc/<pid>/stat
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def tree_rss_mb(root: int) -> float:
    """Resident memory of the tree, each shared page counted once: the
    sum of proportional set sizes. Plain RSS would count pages a forked
    child shares with its parent twice (PySpark workers fork from one
    daemon; the JVM forks before every exec)."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue  # exited, or not readable
    return kb / 1e3


class PeakRss:
    """Samples the tree's resident memory on a thread, only between
    ``resume`` and ``pause``. One read of a 2 GB JVM's smaps_rollup
    costs ~15 ms of kernel time under the process's memory-map lock, so
    samples are a second apart; each window also gets a sample at its
    start and end."""

    def __init__(self, root: int, interval_s: float = 1.0):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._on = threading.Event()
        self._lock = threading.Lock()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._on.set()  # wake the sampler so that it sees the stop
        self._thread.join()

    def _sample(self) -> None:
        mb = tree_rss_mb(self.root)
        with self._lock:
            self.peak_mb = max(self.peak_mb, mb)

    def resume(self) -> None:
        self._sample()
        self._on.set()

    def pause(self) -> None:
        self._on.clear()
        self._sample()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._on.wait()
            if self._stop.wait(self.interval_s):
                return
            if self._on.is_set():
                self._sample()
