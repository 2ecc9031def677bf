"""CPU time and resident memory of the Spark driver JVM and its Python
workers, read from ``/proc`` (Linux only; no psutil).

The processes measured are the JVM the session launched and the Python
processes below it (PySpark's daemon and its forked workers).  CPU time covers each
process while it lives; a worker that exits between two samples loses the
CPU it used since the earlier sample, so sample around each timed window.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # process exited between listing and reading
        return None


def parse_stat(text: str) -> tuple[int, float]:
    """``/proc/<pid>/stat`` -> (parent pid, user+system CPU seconds).

    The command name (field 2) may hold spaces and parentheses, so fields
    are counted from the last ``)``.
    """
    rest = text[text.rindex(")") + 2:].split()
    # rest[0] is field 3 (state); utime and stime are fields 14 and 15.
    ppid = int(rest[1])
    cpu = (int(rest[11]) + int(rest[12])) / _CLK_TCK
    return ppid, cpu


def parse_statm_rss(text: str) -> int:
    """``/proc/<pid>/statm`` -> resident bytes."""
    return int(text.split()[1]) * _PAGE


def children_map() -> dict[int, list[int]]:
    """parent pid -> child pids, over every process visible in /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        text = _read(f"/proc/{name}/stat")
        if text is None:
            continue
        ppid, _ = parse_stat(text)
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(root: int) -> list[int]:
    """``root`` and all of its descendants."""
    kids = children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def measured(root: int) -> list[int]:
    """``root`` and its Python descendants (PySpark's daemon and workers).

    Other descendants are skipped: the JVM also forks short-lived helpers
    (``jspawnhelper`` for shell commands), and a child sampled between
    fork and exec shares the whole JVM's pages, which would count the JVM
    twice."""
    out = []
    for pid in tree(root):
        comm = _read(f"/proc/{pid}/comm")
        if pid == root or (comm is not None and comm.startswith("python")):
            out.append(pid)
    return out


def sample(root: int) -> tuple[float, int]:
    """(CPU seconds, resident bytes) summed over ``measured(root)``."""
    cpu, rss = 0.0, 0
    for pid in measured(root):
        stat, statm = _read(f"/proc/{pid}/stat"), _read(f"/proc/{pid}/statm")
        if stat is None or statm is None:
            continue
        cpu += parse_stat(stat)[1]
        rss += parse_statm_rss(statm)
    return cpu, rss


def jvm_pid(spark) -> int:
    """Process id of the session's driver JVM."""
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


class PeakRss:
    """Background sampler of the summed resident memory of ``measured(root)``;
    ``peak`` is the largest sum seen.  Use as a context manager."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, sample(self.root)[1])
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, sample(self.root)[1])
