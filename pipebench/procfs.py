"""Linux /proc readers: CPU and RSS of a process tree, and host CPU time.

The measured process tree is the Spark driver Python, the JVM it
launches and the Python workers the JVM forks. CPU is split by role so
that a change to the Python-UDF boundary shows separately from engine
time. Each tick lives in exactly one place: a live process's
utime+stime, or, once a child is reaped, its parent's cutime+cstime, so
summing both over the tree never double counts.
"""

from __future__ import annotations

import os
import threading
from typing import NamedTuple

_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


class Proc(NamedTuple):
    ppid: int
    ticks: int  # CPU ticks, reaped children included
    rss_pages: int
    comm: str
    pgid: int
    state: str


def _process_table() -> dict[int, Proc]:
    """pid -> its fields from ``/proc/<pid>/stat``."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        comm = s[s.index("(") + 1 : s.rindex(")")]
        fields = s[s.rindex(")") + 2 :].split()
        ticks = sum(int(fields[i]) for i in (11, 12, 13, 14))
        table[int(d)] = Proc(int(fields[1]), ticks, int(fields[21]), comm, int(fields[2]), fields[0])
    return table


def group_alive(pgid: int) -> list[int]:
    """Pids of the process group's members that have not exited."""
    return [pid for pid, p in _process_table().items() if p.pgid == pgid and p.state != "Z"]


def _descendants(table, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, p in table.items():
        kids.setdefault(p.ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        if p in table:
            out.append(p)
        stack.extend(kids.get(p, []))
    return out


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                s = f.read()
        except OSError:
            continue
        if "CompilerThre" in s[s.index("(") + 1 : s.rindex(")")]:
            fields = s[s.rindex(")") + 2 :].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def _roles(table, root: int) -> dict[int, str]:
    """pid -> role for the tree under ``root``: ``driver_py`` (root),
    ``jvm`` (its ``java`` child), ``pyworker`` (Python processes below
    the JVM) and ``helper`` (short-lived commands the JVM spawns)."""
    roles = {}
    for pid in _descendants(table, root):
        ppid, comm = table[pid].ppid, table[pid].comm
        if pid == root:
            roles[pid] = "driver_py"
        elif ppid == root and comm == "java":
            roles[pid] = "jvm"
        elif comm.startswith("python"):
            roles[pid] = "pyworker" if roles.get(ppid) in ("jvm", "pyworker") else "driver_py"
        else:
            roles[pid] = "helper"
    return roles


def cpu_split(root: int | None = None) -> dict[str, float]:
    """Cumulative CPU-seconds of the tree under ``root`` by role. The
    JVM's JIT compiler threads are split out of ``jvm`` as ``jit``;
    helpers count as ``jvm``, which reaps them."""
    root = os.getpid() if root is None else root
    table = _process_table()
    split = {"driver_py": 0.0, "jvm": 0.0, "jit": 0.0, "pyworker": 0.0}
    for pid, role in _roles(table, root).items():
        split["jvm" if role == "helper" else role] += table[pid].ticks / _TCK
        if role == "jvm":
            jit = _jit_ticks(pid) / _TCK
            split["jit"] += jit
            split["jvm"] -= jit
    return split


def tree_rss_bytes(root: int | None = None) -> int:
    """RSS of the driver, the JVM and the Python workers. Helpers are
    left out: a child spawned with vfork shares the JVM's memory until
    it execs, and would count that memory twice."""
    root = os.getpid() if root is None else root
    table = _process_table()
    pages = sum(table[p].rss_pages for p, role in _roles(table, root).items() if role != "helper")
    return pages * _PAGE


def host_ticks() -> dict[str, float]:
    """Host-wide CPU seconds from the aggregate /proc/stat line.
    ``busy`` excludes steal: time the hypervisor gave to another guest
    is not work done here (the repo's ``hostacct.busy_secs`` counts it
    as busy)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, idle, iowait, irq, softirq, steal = v
    return {
        "busy": (user + nice + system + irq + softirq) / _TCK,
        "steal": steal / _TCK,
        "total": sum(v) / _TCK,
    }


def steal_frac(h0: dict, h1: dict) -> float:
    """Share of all CPU time between two ``host_ticks`` that was stolen."""
    return (h1["steal"] - h0["steal"]) / max(h1["total"] - h0["total"], 1e-9)


def host_diagnostics(h0: dict, h1: dict, own_cpu_s: float, cores: int) -> dict:
    """Steal share of all CPU time, and the share of the cores' capacity
    that processes outside our tree used, between two ``host_ticks``."""
    # all-state ticks summed over every core: cores x wall
    total = max(h1["total"] - h0["total"], 1e-9)
    ext = max(0.0, (h1["busy"] - h0["busy"]) - own_cpu_s)
    return {"steal_frac": steal_frac(h0, h1), "ext_frac": ext / total, "cores": cores}


class RssSampler:
    """Background thread that keeps the peak RSS of a process tree."""

    def __init__(self, root: int | None = None, interval_s: float = 0.1):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            rss = tree_rss_bytes(self.root)
            with self._lock:
                self.peak = max(self.peak, rss)

    def reset(self) -> None:
        with self._lock:
            self.peak = tree_rss_bytes(self.root)

    def read(self) -> int:
        with self._lock:
            return max(self.peak, tree_rss_bytes(self.root))
