"""Process-tree CPU and memory, and the host facts recorded with each run.

Everything here reads ``/proc`` directly.  A process's CPU is
``utime + stime + cutime + cstime``: the ``c`` fields hold the CPU of its
children that have exited and been reaped, so Python workers that come and
go under the Spark daemon stay counted in the daemon's total.  The tree is
split into three roles: the benchmark's own Python process (``driver``),
the Spark JVM (``jvm``), and the Python processes the JVM starts
(``pyworker``).
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")
ROLES = ("driver", "jvm", "pyworker")


def _read_stat(pid: int) -> tuple[str, int, list[str]] | None:
    """(comm, ppid, fields after comm) of one process, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    head, _, tail = raw.rpartition(")")
    comm = head.partition("(")[2]
    fields = tail.split()
    # fields[0] is the state; fields[1] the ppid
    return comm, int(fields[1]), fields


def _all_stats() -> dict[int, tuple[str, int, list[str]]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def tree(root: int | None = None) -> dict[int, tuple[str, str, list[str]]]:
    """pid -> (role, comm, stat fields) for ``root`` and its descendants."""
    root = os.getpid() if root is None else root
    stats = _all_stats()
    if root not in stats:
        return {}
    children: dict[int, list[int]] = {}
    for pid, (_comm, ppid, _f) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out = {}
    todo = [(root, "driver")]
    while todo:
        pid, role = todo.pop()
        comm, _ppid, fields = stats[pid]
        if pid != root and comm.startswith("java"):
            role = "jvm"
        elif role == "jvm" and not comm.startswith("java"):
            role = "pyworker"
        out[pid] = (role, comm, fields)
        todo.extend((c, role) for c in children.get(pid, ()))
    return out


def tree_cpu(root: int | None = None) -> dict[str, float]:
    """CPU seconds so far, per role, of the live tree under ``root``."""
    out = dict.fromkeys(ROLES, 0.0)
    for role, _comm, f in tree(root).values():
        # stat fields 14-17 (1-based) are utime stime cutime cstime; after
        # dropping pid and comm they sit at indices 11-14
        out[role] += sum(int(x) for x in f[11:15]) / CLK_TCK
    return out


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {r: max(0.0, after[r] - before[r]) for r in ROLES}


def tree_rss_mb(root: int | None = None) -> float:
    # stat field 24 (rss, pages) -> index 21 after pid and comm
    return sum(int(f[21]) for _r, _c, f in tree(root).values()) * PAGE_BYTES / 1e6


class RssSampler:
    """Background thread keeping the peak resident set of the tree."""

    def __init__(self, interval_s: float = 0.25, root: int | None = None):
        self.interval_s = interval_s
        self.root = root
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb


def host_cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user nice system idle
    iowait irq softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return 100.0 * delta[7] / total if total > 0 else 0.0


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def environment() -> dict:
    """Host facts at run start; ``steal_pct`` is filled in at run end."""
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": list(os.getloadavg()),
        "mem_total_mb": round(mem_total_mb(), 1),
        "spark_local_dirs": os.environ.get("SPARK_LOCAL_DIRS"),
        "driver_memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "unix_time_start": time.time(),
    }


def wait_gone(pids, timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive (zombies count as gone);
    returns the ones still alive at the deadline."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive:
        alive = [p for p in alive if (st := _read_stat(p)) is not None and st[2][0] != "Z"]
        if not alive or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    return alive
