"""CPU, memory and box facts read from ``/proc`` (psutil is not a dependency).

The measured tree is every descendant of this Python process: the Spark
driver JVM launched by PySpark, the ``pyspark.daemon`` and its Python
workers. CPU time of workers that already exited is counted through their
parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os
import platform
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """utime+stime+cutime+cstime of the descendant tree, in seconds."""
    total = 0
    for pid in descendants() if pids is None else pids:
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class RssSampler:
    """Samples the RSS of the descendant tree in a background thread and
    keeps three peaks: the JVM's (``peak_jvm``), the sum over every other
    descendant — the Python daemon and its workers — (``peak_python``), and
    the largest single Python process (``peak_worker``, restarted by
    ``lap()``). The tree is re-listed every ``relist`` samples so Python
    workers started mid-run are seen."""

    def __init__(self, interval: float = 0.05, relist: int = 10):
        self.interval = interval
        self.relist = relist
        self.peak_jvm = self.peak_python = self.peak_worker = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        jvm: list[int] = []
        python: list[int] = []
        i = 0
        while not self._stop.is_set():
            if i % self.relist == 0:
                pids = descendants()
                jvm = [p for p in pids if _is_jvm(p)]
                python = [p for p in pids if p not in jvm]
            i += 1
            self.peak_jvm = max(self.peak_jvm, sum(map(_rss_bytes, jvm)))
            rss = [_rss_bytes(p) for p in python]
            self.peak_python = max(self.peak_python, sum(rss))
            self.peak_worker = max(self.peak_worker, max(rss, default=0))
            self._stop.wait(self.interval)

    def lap(self) -> int:
        """``peak_worker`` since the last lap; starts a new one."""
        peak, self.peak_worker = self.peak_worker, 0
        return peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cores() -> int:
    """CPUs this process may run on: the affinity mask, else nproc."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def box() -> dict:
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kib = int(f.readline().split()[1])
    return {
        "nproc": cores(),
        "cpu_count": os.cpu_count(),
        "mem_total_mib": mem_kib // 1024,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "loadavg_start": loadavg(),
    }
