"""Host context and the client's process tree (the JVM and its Python workers).

CPU and RSS are read from /proc for the descendants of this process, so the
JVM that pyspark launches and the Python workers it forks are counted, and the
client interpreter itself is not. A worker that exits is reaped by its parent,
whose cutime/cstime then carry its CPU, so summing utime+stime+cutime+cstime
over the live tree loses nothing between two reads.

RSS counts only the JVM and the Python processes. The JVM also spawns short
helper processes (file-status commands of the Hadoop local file system); while
one is being spawned it shares the JVM's address space, and its RSS would
count the JVM a second time.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _descendants(root: int) -> dict[int, tuple[int, str, int, int]]:
    """{pid: (ppid, comm, cpu_ticks, rss_pages)} for every live descendant of
    `root`."""
    children: dict[int, list[int]] = {}
    stats: dict[int, tuple[int, str, int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                data = f.read()
        except OSError:
            continue  # exited while we listed /proc
        # fields after "(comm)": state ppid ... utime(14) stime cutime cstime ... rss(24)
        rest = data[data.rindex(")") + 2 :].split()
        pid = int(name)
        ppid = int(rest[1])
        comm = data[data.index("(") + 1 : data.rindex(")")]
        children.setdefault(ppid, []).append(pid)
        stats[pid] = (ppid, comm, sum(int(x) for x in rest[11:15]), int(rest[21]))
    out: dict[int, tuple[int, str, int, int]] = {}
    todo = list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = stats[pid]
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User+sys CPU seconds of all descendants, including reaped ones."""
    return sum(t for _, _, t, _ in _descendants(os.getpid()).values()) / _CLK


class PeakRss:
    """Samples the tree's total RSS on a thread; `peak_mb` is the largest sum
    and `at_peak` splits it between the JVM (this process's child) and the
    Python workers below it."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.at_peak: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        root = os.getpid()
        jvm = workers = 0
        n = 0
        for ppid, comm, _, rss in _descendants(root).values():
            if ppid == root:
                jvm += rss
            elif comm.startswith("python"):
                workers += rss
            else:
                continue
            n += 1
        total = (jvm + workers) * _PAGE / 2**20
        if total > self.peak_mb:
            self.peak_mb = total
            self.at_peak = {"jvm_mb": jvm * _PAGE / 2**20,
                            "workers_mb": workers * _PAGE / 2**20, "processes": n}

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def wait_tree_gone(timeout_s: float = 30.0) -> None:
    """Wait for every descendant to exit; SIGKILL what is left at the deadline."""
    deadline = time.monotonic() + timeout_s
    while (left := _descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while _descendants(os.getpid()) and time.monotonic() < deadline + 10:
        time.sleep(0.2)


def mem_available_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024
    return -1.0


def git_sha(root: str) -> str | None:
    """HEAD of `root` read from .git, or None outside a git checkout."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        name = ref[5:]
        loose = os.path.join(root, ".git", name)
        if os.path.exists(loose):
            with open(loose) as f:
                return f.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + name):
                    return line.split()[0]
    except OSError:
        pass
    return None


def host_context(root: str) -> dict:
    """Cores, memory, load and versions; steal/iowait are added per run."""
    import duckdb
    import pyarrow
    import pyspark

    from bench import _loadavg

    return {
        "affinity_cores": len(os.sched_getaffinity(0)),
        "mem_available_mb": round(mem_available_mb(), 1),
        "loadavg_1m": _loadavg(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "git_sha": git_sha(root),
    }
