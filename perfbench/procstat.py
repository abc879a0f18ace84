"""Process-tree and host sampling from ``/proc``.

The engine runs as three kinds of process: this Python client, the Spark
JVM it launches, and the Python worker daemon with its forked workers.
``TreeSampler`` polls the whole tree rooted at this process on a
background thread and keeps:

- CPU seconds (user + sys, including reaped children) per process kind,
  so CPU of workers that exit between polls still counts through the
  daemon that reaped them;
- peak summed RSS;
- the Python workers started in the window: processes forked by the
  worker daemon (a Python process whose parent is Python) whose start
  time falls after the window began.  A worker that lives less than one
  poll period is not seen.

``host_snapshot`` reads the contention telemetry (load average,
``/proc/stat`` busy and steal jiffies, CPU count) that lets a co-tenant
burst be told apart from a regression.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """(ppid, cpu_s including reaped children, rss_bytes, start time in
    clock ticks since boot) or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    fields = raw[raw.rfind(")") + 2 :].split()
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    rss = int(fields[21]) * _PAGE
    return ppid, cpu, rss, int(fields[19])


def _uptime_ticks() -> float:
    with open("/proc/uptime") as f:
        return float(f.read().split()[0]) * _TICK


def _kind(pid: int, root: int) -> str:
    if pid == root:
        return "client"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return "other"
    if "java" in cmd.split(" ", 1)[0]:
        return "jvm"
    if "python" in cmd:
        return "python"
    return "other"


def descendants(root: int) -> list[int]:
    """PIDs of every live process below ``root``."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                parent[int(name)] = st[0]
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def tree_cpu(root: int) -> float:
    """User + sys CPU seconds of ``root`` and every live process below
    it, reaped children included."""
    total = 0.0
    for pid in [root] + descendants(root):
        st = _stat(pid)
        if st:
            total += st[1]
    return total


class TreeSampler:
    """Poll the process tree below ``root`` every ``period`` seconds.

    Tree CPU at an instant is the sum over live processes of user + sys
    time including reaped children; a worker reaped by the daemon moves
    its CPU into the daemon's count, so the window delta loses nothing.
    """

    def __init__(self, root: int | None = None, period: float = 0.2):
        self.root = root or os.getpid()
        self.period = period
        self._kinds: dict[int, str] = {}
        self._cpu: dict[int, float] = {}
        self._base: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._t0_ticks = 0.0
        self.worker_pids: set[int] = set()
        self.peak_rss = 0

    def _poll(self) -> None:
        rss, cpu, stats = 0, {}, {}
        for pid in [self.root] + descendants(self.root):
            st = _stat(pid)
            if st is None:
                continue
            if self._kinds.get(pid, "other") == "other":
                # re-read until the exec settles (spark-submit -> java)
                self._kinds[pid] = _kind(pid, self.root)
            stats[pid] = st
            cpu[pid] = st[1]
            rss += st[2]
        for pid, (ppid, _, _, started) in stats.items():
            if (
                self._kinds[pid] == "python"
                and self._kinds.get(ppid) == "python"
                and started >= self._t0_ticks
            ):
                self.worker_pids.add(pid)
        self._cpu = cpu
        self.peak_rss = max(self.peak_rss, rss)

    def cpu_by_kind(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for pid, cpu in self._cpu.items():
            kind = self._kinds.get(pid, "other")
            out[kind] = out.get(kind, 0.0) + cpu
        return out

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self._poll()

    def start(self) -> None:
        self._t0_ticks = float("inf")
        self._poll()
        self._base = self.cpu_by_kind()
        self._t0_ticks = _uptime_ticks()
        self.peak_rss = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> dict:
        """Stop polling; return the window's CPU by process kind, peak
        RSS and the number of Python workers started in the window."""
        self._stop.set()
        if self._thread:
            self._thread.join()
        self._poll()
        now = self.cpu_by_kind()
        cpu = {
            k: max(now.get(k, 0.0) - self._base.get(k, 0.0), 0.0)
            for k in set(now) | set(self._base)
        }
        return {
            "cpu_s": cpu,
            "cpu_total_s": sum(cpu.values()),
            "peak_rss_mb": self.peak_rss / 1e6,
            "python_worker_starts": len(self.worker_pids),
        }


def _proc_stat():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    total = sum(vals[:8])
    idle = vals[3] + vals[4]
    return total - idle, vals[7], total


def host_snapshot() -> dict:
    return {
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "nproc": len(os.sched_getaffinity(0)),
        "proc_stat": _proc_stat(),
    }


def host_window(start: dict, end: dict) -> dict:
    """Contention telemetry over a window between two snapshots."""
    b0, s0, t0 = start["proc_stat"]
    b1, s1, t1 = end["proc_stat"]
    dt = max(t1 - t0, 1)
    return {
        "nproc": end["nproc"],
        "loadavg_start": start["loadavg"],
        "loadavg_end": end["loadavg"],
        "cpu_busy_pct": round(100.0 * (b1 - b0) / dt, 1),
        "cpu_steal_pct": round(100.0 * (s1 - s0) / dt, 2),
    }
