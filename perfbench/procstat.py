"""Host and process-tree counters read from /proc.

Two views, both taken from outside the engine:

- the host: jiffies per state from the first line of ``/proc/stat``, so a
  timed region can report how much of the machine's time was stolen by
  the hypervisor or spent waiting on disk, plus the load average;
- the process tree rooted at the benchmark: the driver JVM that
  pyspark launches and the Python workers the JVM forks. CPU seconds come
  from ``utime + stime + cutime + cstime`` summed over the live tree, so
  a worker that exits and is reaped inside the region still counts
  through its parent's ``cutime``. Resident memory is the summed PSS
  (proportional set size), sampled by a background thread: the Python
  workers are forked from one daemon and share most of their pages, so
  a sum of RSS would count those pages once per worker and swing with
  the number of workers alive at the sample.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_HOST_FIELDS = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")


def host_jiffies() -> dict[str, int]:
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return {k: int(v) for k, v in zip(_HOST_FIELDS, parts[1:])}


def host_delta(before: dict[str, int], after: dict[str, int]) -> dict[str, float]:
    """Steal and iowait shares of all CPU time between two readings."""
    d = {k: after[k] - before[k] for k in _HOST_FIELDS}
    total = sum(d.values()) or 1
    return {
        "steal_frac": d["steal"] / total,
        "iowait_frac": d["iowait"] / total,
        "busy_frac": (total - d["idle"] - d["iowait"]) / total,
        "elapsed_cpu_s": total / _CLK,
    }


def _read_stat(pid: int) -> tuple[int, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    fields = raw[raw.rindex(")") + 2 :].split()
    return int(fields[1]), fields


def tree(root: int | None = None) -> dict[int, list[str]]:
    """stat fields of ``root`` and every live descendant."""
    root = os.getpid() if root is None else root
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        got = _read_stat(int(name))
        if got is None:
            continue
        ppid, fields = got
        stats[int(name)] = fields
        children.setdefault(ppid, []).append(int(name))
    out: dict[int, list[str]] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(procs: dict[int, list[str]]) -> float:
    # fields (0-based after comm): 11 utime, 12 stime, 13 cutime, 14 cstime
    return sum(sum(int(f[i]) for i in (11, 12, 13, 14)) for f in procs.values()) / _CLK


def _pss_kb(pid: int, fields: list[str]) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return int(fields[21]) * _PAGE // 1024  # RSS when PSS is unreadable


def tree_mem_mb(procs: dict[int, list[str]]) -> dict[str, float]:
    """Summed PSS (MB) per command name."""
    out: dict[str, float] = {}
    for pid, fields in procs.items():
        comm = _comm(pid)
        out[comm] = out.get(comm, 0.0) + _pss_kb(pid, fields) / 1024
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class TreeMeter:
    """CPU seconds and peak resident memory of the process tree over a
    region.

    ``start()`` reads the tree's CPU total and launches a sampler that
    tracks the peak of the summed PSS every ``interval`` seconds; ``stop()`` reads the CPU
    total again, joins the sampler and returns the region's figures
    together with the host's steal/iowait deltas and the load average at
    start."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_rss_mb = 0.0
        self.peak_by_comm: dict[str, float] = {}

    def _observe(self, procs) -> None:
        by_comm = tree_mem_mb(procs)
        total = sum(by_comm.values())
        if total > self.peak_rss_mb:
            self.peak_rss_mb, self.peak_by_comm = total, by_comm

    def _sample(self) -> None:
        while not self._stop.wait(self.interval):
            self._observe(tree())

    def start(self) -> "TreeMeter":
        self.load_avg = os.getloadavg()
        self.host0 = host_jiffies()
        procs = tree()
        self.cpu0 = tree_cpu_s(procs)
        self._observe(procs)
        self.t0 = time.monotonic()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> dict:
        wall = time.monotonic() - self.t0
        procs = tree()
        cpu = tree_cpu_s(procs) - self.cpu0
        host = host_delta(self.host0, host_jiffies())
        self._stop.set()
        self._thread.join()
        self._observe(procs)
        return {
            "wall_s": wall,
            "cpu_s": cpu,
            "peak_rss_mb": self.peak_rss_mb,
            "peak_by_comm_mb": self.peak_by_comm,
            "n_procs": len(procs),
            "host": {**host, "load_avg_1m_at_start": self.load_avg[0]},
        }


def _alive(pids) -> list[int]:
    """The pids that have not ended. A zombie has ended; one that is
    our own child is reaped on the way."""
    me = os.getpid()
    left = []
    for pid in pids:
        got = _read_stat(pid)
        if got is None:
            continue
        ppid, fields = got
        if fields[0] == "Z":
            if ppid == me:
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            continue
        left.append(pid)
    return left


def wait_ended(pids, timeout: float = 60.0) -> list[int]:
    """Wait until every pid in ``pids`` has ended; SIGKILL the ones still
    running after ``timeout`` and wait for them. Returns the pids killed."""
    deadline = time.monotonic() + timeout
    while (left := _alive(pids)) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while _alive(left):
        time.sleep(0.1)
    return left
