"""CPU and memory accounting for the benchmark's process tree.

The tree is this Python driver, the Spark JVM it launched and the PySpark
daemon with its Python workers. Two facts shape the design:

- The PySpark daemon sets ``SIGCHLD`` to ``SIG_IGN``, so the kernel reaps
  exited workers itself and never adds their CPU time to the daemon's
  ``cutime``. Summing ``/proc`` over the live tree at two instants
  therefore loses every worker that exits in between, and worse, drops
  that worker's whole lifetime CPU from the second sum.
- A worker's ``/proc/<pid>/stat`` holds its CPU time only while it lives.

So a sampler thread reads ``utime + stime`` of every process in the tree
every ``INTERVAL`` seconds and keeps, per process, the last value it saw.
CPU over a window is the sum of per-process growth, where a process born
inside the window starts from zero. A worker that exits loses at most the
CPU it used after its last sample. The same tick sums resident memory
over the tree and keeps the peak.

JVM garbage-collection time comes from the GC MXBeans through py4j.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
#: seconds between two samples
INTERVAL = 0.05


def read_stat(pid: int) -> tuple[str, int, float, int, int] | None:
    """(comm, ppid, cpu_s, starttime, rss_bytes) from /proc/<pid>/stat, or
    None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name sits in parentheses and may hold spaces
    close = raw.rindex(b")")
    comm = raw[raw.index(b"(") + 1 : close].decode(errors="replace")
    rest = raw[close + 2 :].split()
    ppid = int(rest[1])
    cpu = (int(rest[11]) + int(rest[12])) / _CLK  # utime + stime
    return comm, ppid, cpu, int(rest[19]), int(rest[21]) * _PAGE


def tree_stats(root: int) -> dict[tuple[int, int], tuple[float, int, str]]:
    """Every live process under ``root`` (inclusive), keyed by
    (pid, starttime) so a reused pid is a new process: (cpu_s, rss, comm)."""
    stats = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = read_stat(int(name))
        if st is None:
            continue
        comm, ppid, cpu, start, rss = st
        pid = int(name)
        stats[pid] = (cpu, start, rss, comm)
        children.setdefault(ppid, []).append(pid)
    out = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid not in stats:
            continue
        cpu, start, rss, comm = stats[pid]
        out[(pid, start)] = (cpu, rss, comm)
        todo.extend(children.get(pid, ()))
    return out


class TreeSampler:
    """Background sampler of CPU and resident memory over this process
    and its descendants.

    Use as a context manager. Python workers are the Python processes
    below this one (the PySpark daemon and the workers it forks).
    """

    def __init__(self):
        self.root = os.getpid()
        self._lock = threading.Lock()
        self._cpu: dict[tuple[int, int], float] = {}
        self._is_worker: dict[tuple[int, int], bool] = {}
        self._peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        """Take one sample now (the thread calls this every tick)."""
        snap = tree_stats(self.root)
        rss = sum(v[1] for v in snap.values())
        with self._lock:
            for key, (cpu, _, comm) in snap.items():
                # re-read every tick: the JVM starts as a launcher script
                self._is_worker[key] = key[0] != self.root and comm.startswith("python")
                self._cpu[key] = cpu
            self._peak_rss = max(self._peak_rss, rss)

    def _run(self) -> None:
        while not self._stop.wait(INTERVAL):
            self.sample()

    def __enter__(self) -> "TreeSampler":
        self.sample()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def totals(self) -> tuple[float, float]:
        """Sample now; return the CPU seconds the tree has used since the
        sampler started, in total and by Python workers. Exited processes
        keep their last sampled value, so differences of two calls are
        the CPU used in between."""
        self.sample()
        with self._lock:
            total = sum(self._cpu.values())
            workers = sum(c for k, c in self._cpu.items() if self._is_worker[k])
        return total, workers

    def worker_cpu_s(self) -> float:
        return self.totals()[1]

    def reset_peak_rss(self) -> None:
        self.sample()
        with self._lock:
            self._peak_rss = 0
        self.sample()

    @property
    def peak_rss_mb(self) -> float:
        with self._lock:
            return self._peak_rss / 2**20


def jvm_gc_seconds(spark) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


def busy_cpu(seconds: float) -> float:
    """Spin on this thread until it has used ``seconds`` of CPU; returns
    the CPU time used. A known load for testing the accounting."""
    t0 = time.thread_time()
    x = 0
    while time.thread_time() - t0 < seconds:
        x += 1
    return time.thread_time() - t0
