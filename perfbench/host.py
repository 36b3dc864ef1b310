"""Host sizing, provenance and process-tree resource sampling.

Everything here is measured from outside the engine: core count and
memory come from the scheduler affinity mask and ``/proc/meminfo``,
CPU time and RSS from ``/proc/<pid>`` of this process and every
descendant (the Spark JVM and its Python workers).
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import threading
import time

import numpy as np

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_shape() -> dict:
    """Cores from the affinity mask, driver heap from MemAvailable.

    The heap takes a quarter of available memory, between 1 and 2 GiB:
    the workloads are small, and the machine may be shared."""
    cores = len(os.sched_getaffinity(0))
    avail_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    heap_gb = max(1, min(2, avail_kb // (4 << 20)))
    return {
        "cores": cores,
        "mem_available_gb": round(avail_kb / (1 << 20), 1),
        "heap": f"{heap_gb}g",
    }


def host_probe(seconds: float = 0.6) -> dict:
    """memcpy and first-touch bandwidth (GB/s) and single-thread
    interpreter speed (million loop steps/s) of this host right now.

    Host speed drifts between days and neighbours; a run's figures are
    only comparable to another's taken at a similar probe."""
    n = 32 << 20
    src = np.ones(n, dtype=np.uint8)
    dst = np.empty_like(src)
    copies, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds / 3:
        np.copyto(dst, src)
        copies += 1
    memcpy = copies * n / (time.perf_counter() - t0) / 1e9
    touched, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds / 3:
        buf = np.empty(n, dtype=np.uint8)
        buf[::_PAGE] = 1  # one write per page: the fault path, not the copy
        touched += n
        del buf
    first_touch = touched / (time.perf_counter() - t0) / 1e9
    steps, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds / 3:
        for _ in range(100_000):
            pass
        steps += 100_000
    py = steps / (time.perf_counter() - t0) / 1e6
    return {"memcpy_gbps": round(memcpy, 2), "first_touch_gbps": round(first_touch, 2),
            "py_msteps_per_s": round(py, 1)}


def provenance(root: str) -> dict:
    """git sha when the tree is a git checkout, plus a digest of the
    engine sources (always available, also in an exported tree)."""
    sha = None
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            sha = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            sha = None
    h = hashlib.sha256()
    pkg = os.path.join(root, "crawler_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return {"git_sha": sha, "source_sha256": h.hexdigest()[:16]}


def _tree_pids(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root_pid: int | None = None) -> float:
    """user+sys CPU seconds of a process tree, reaped children included."""
    total = 0
    for pid in _tree_pids(root_pid or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK


def tree_rss_mb(root_pid: int | None = None) -> float:
    """Proportional set size of a process tree: pages shared between
    the forked Python workers count once, not once per worker."""
    total_kb = 0
    for pid in _tree_pids(root_pid or os.getpid()):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def vm_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM, over all its
    CPUs (the steal column of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK


def less_steal(wall_s: float, steal_s: float, cores: int) -> float:
    """Wall time with the VM's stolen CPU time taken out, as a section
    that keeps every core busy loses it: ``steal_s / cores``.

    On a shared VM the hypervisor takes CPU from the guest in bursts
    that last minutes; a user on a quiet host does not wait for it.
    Work on one core (the driver's critical path) loses more than that
    share, so this takes out only part of a burst."""
    return wall_s - steal_s / cores


class TreeSampler:
    """Peak memory (PSS) of the process tree, sampled on a background
    thread while a ``with`` block runs; the tree's CPU and the VM's
    steal (see ``less_steal``) are read at entry and exit."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_rss_mb = 0.0
        self.cpu_s = 0.0
        self.steal_s = 0.0
        self._stop = threading.Event()

    def _loop(self):
        while not self._stop.wait(self.interval_s):
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb())

    def __enter__(self):
        self._cpu0 = tree_cpu_s()
        self._steal0 = vm_steal_s()
        self.peak_rss_mb = tree_rss_mb()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb())
        self.cpu_s = tree_cpu_s() - self._cpu0
        self.steal_s = vm_steal_s() - self._steal0
        return False

