"""Host probes: process-tree CPU time and resident memory, host facts.

Everything here reads ``/proc`` from outside the engine, so the figures
cover the driver process, the JVM it launches and the Python workers the
JVM forks, without any help from the program under test.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, including reaped children.

    Python workers that exit are reaped by their parent inside the tree,
    so their time moves into that parent's ``cutime``/``cstime`` and
    stays counted.
    """
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat: utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def tree_mem_mb(root: int) -> float:
    """Resident memory of the tree. Python processes count their PSS:
    each shared page is split among the processes mapping it, so forked
    workers sharing their parent's pages are not counted once per
    worker, as RSS would. The JVM shares little and counts its RSS,
    which is cheap to read; PSS would walk all of its page tables."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                is_jvm = f.read().strip() == "java"
            if is_jvm:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
                continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass  # exited between listing and reading
    return total / 1e6


class PeakMemory:
    """Samples the tree's resident memory on a daemon thread, the only
    writer of ``peak_mb``: the highest sample while it runs."""

    def __init__(self, root: int, interval_s: float = 0.5):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_mem_mb(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    """Driver heap for a local master: a quarter of RAM, at most 4 GiB.

    The engine's own default is 24g, which lets the JVM grow past what a
    15 GB host holds; the benchmark passes this through the engine's
    ``HSIP_DRIVER_MEM`` setting instead.
    """
    gib = mem_total_bytes() / 2**30
    return f"{max(1, min(4, int(gib / 4)))}g"


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def facts() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return {
        "time": round(time.time(), 3),
        "nproc": nproc(),
        "mem_total_mb": round(mem_total_bytes() / 1e6),
        "loadavg": load,
        # CPU time the hypervisor gave to other guests, since boot: a
        # run whose start and end differ by much here ran on a host busy
        # with something else, and its timings say more about that
        "steal_s": int(cpu[8]) / _TICK,
    }
