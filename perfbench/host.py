"""Host-derived resources, and process-tree memory and CPU time read
from ``/proc``.

psutil is not a dependency of the project, so the resident memory and
CPU time of the driver JVM plus its Python workers are read straight from
``/proc/<pid>/{statm,smaps_rollup,stat}`` for every descendant of this
process.
"""

from __future__ import annotations

import os
import threading
import time

PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def host_resources() -> dict:
    """Spark resources sized from the host: ``local[nproc]``, ``nproc``
    shuffle partitions and a driver heap of 30 % of ``MemTotal``
    (at least 1 GiB), leaving the rest to Python workers and page cache."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    mem_gib = mem_kb / 2**20
    return {
        "nproc": nproc,
        "mem_total_gib": round(mem_gib, 2),
        "master": f"local[{nproc}]",
        "shuffle_partitions": nproc,
        "driver_memory": f"{max(1, int(mem_gib * 0.3))}g",
    }


def bandwidth_window() -> dict:
    """One memory-bandwidth probe (1 vs 4 streaming processes), recorded
    as a label of the window the run measured in. Never waited on."""
    import numpy  # noqa: F401  (imported once here, inherited by the forked probe workers)
    from scaling_autoretry import probe

    one_proc, eff4 = probe(4)
    return {"probe_1p": one_proc, "probe_eff4": eff4}


def cpu_jiffies() -> dict[str, int]:
    """Host-wide iowait and steal ticks from ``/proc/stat``; their change
    over a run labels the window (time lost to the disk or the hypervisor)."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return {"iowait": vals[4], "steal": vals[7]}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended between listdir and open
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process not yet reaped is not."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def _walk(root: int):
    """``(pid, depth, in_workers)`` for ``root`` (depth 0) and every live
    descendant; ``in_workers`` marks the Python worker daemon and the
    workers it forks."""
    kids, todo = _children(), [(root, 0, False)]
    while todo:
        pid, depth, in_workers = todo.pop()
        in_workers = in_workers or _is_python_worker(pid)
        yield pid, depth, in_workers
        todo.extend((kid, depth + 1, in_workers) for kid in kids.get(pid, ()))


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    return [pid for pid, _, _ in _walk(root)]


def tree_cpu_s(root: int) -> tuple[float, float]:
    """CPU seconds used by ``root`` and its descendants, and by the Python
    worker daemon's subtree alone: user + system time of every live
    process plus what each has reaped from its ended children. Time the
    hypervisor steals is not in it."""
    total = workers = 0
    for pid, _, in_workers in _walk(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while the tree was walked
        ticks = sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
        total += ticks
        workers += ticks if in_workers else 0
    hz = os.sysconf("SC_CLK_TCK")
    return total / hz, workers / hz


def tree_resident_bytes(root: int) -> int:
    """Resident bytes of the driver (``root``), the JVM it launched and the
    Python worker tree. The Python workers are forked from one daemon and
    share its pages, so they are summed as proportional set size, which
    counts a shared page once. The driver and the JVM share nothing with
    each other, so their RSS is read from ``statm``, which costs nothing,
    where ``smaps_rollup`` walks the page tables of a multi-GB heap on
    every sample. Other descendants are the short commands the JVM spawns
    (``chmod`` for each file it writes); between spawn and exec such a
    child shares the JVM's memory and its RSS reads as the JVM's, so they
    are left out."""
    total = 0
    for pid, depth, in_workers in _walk(root):
        if not in_workers and depth > 1:
            continue
        try:
            if in_workers:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += 1024 * next(
                        int(line.split()[1]) for line in f if line.startswith("Pss:")
                    )
            else:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * PAGE_BYTES
        except (OSError, StopIteration):
            pass  # the process ended while the tree was walked
    return total


class PeakRss:
    """Samples the resident memory of this process tree on a thread until
    stopped. ``cpu_s`` is the CPU time the sampling thread itself has used,
    so that it can be taken out of a CPU-time measurement of the tree."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_resident_bytes(me))
            self.cpu_s = time.thread_time()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total
