"""Host CPU accounting for contention-aware benchmarking (Linux
/proc). The sandbox host is shared; co-tenant bursts can hit MID-pass
and are invisible to 1-min loadavg sampled at pass edges. These
helpers measure, per timed section, how much CPU on a given core set
was burned by processes OUTSIDE our own process tree — the mechanical
contamination signal bench.py and tools/cluster_bench.py use to
exclude or flag contended timings (kernel threads contribute <2% on
this box; co-tenant bursts measure 20%+)."""

from __future__ import annotations

import os

_TCK = os.sysconf("SC_CLK_TCK")


def busy_secs(cores: int | None = None) -> float:
    """Total non-idle CPU seconds accumulated on cores [0, cores) —
    all cores when None — by EVERYTHING on the host, from /proc/stat
    per-cpu lines (user nice system idle iowait irq softirq steal;
    busy = total − idle − iowait)."""
    busy = 0
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu") and len(line) > 3 and line[3].isdigit():
                parts = line.split()
                if cores is None or int(parts[0][3:]) < cores:
                    v = [int(x) for x in parts[1:9]]
                    busy += sum(v) - v[3] - v[4]
    return busy / _TCK


def tree_cpu_secs(root: int | None = None) -> float:
    """CPU seconds consumed by a whole process tree (for a Spark
    driver: python + JVM + Python UDF workers). Each tick lives in
    exactly one place — a live descendant's utime+stime, or, once the
    child is reaped, the parent's cutime+cstime — so summing both over
    the subtree is double-count-free across samples."""
    root = os.getpid() if root is None else root
    info: dict[int, int] = {}
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        fields = s[s.rindex(")") + 2 :].split()
        ppid = int(fields[1])
        info[int(d)] = sum(int(fields[i]) for i in (11, 12, 13, 14))
        kids.setdefault(ppid, []).append(int(d))
    total, stack = 0, [root]
    while stack:
        p = stack.pop()
        total += info.get(p, 0)
        stack.extend(kids.get(p, []))
    return total / _TCK


class SectionMeter:
    """Meter a timed section: ``ext_frac`` = fraction of the section's
    core budget consumed by external processes, ``self_util`` = our
    own tree's utilization of that budget."""

    def __init__(self, cores: int | None = None):
        self.cores = cores or os.cpu_count() or 1

    def start(self) -> None:
        import time

        self._busy0 = busy_secs(self.cores)
        self._tree0 = tree_cpu_secs()
        self._t0 = time.time()

    def stop(self) -> dict:
        import time

        wall = max(time.time() - self._t0, 1e-9)
        self_cpu = tree_cpu_secs() - self._tree0
        ext = max(0.0, (busy_secs(self.cores) - self._busy0) - self_cpu)
        budget = self.cores * wall
        return {
            "sec": wall,
            "ext_frac": round(ext / budget, 4),
            "self_util": round(self_cpu / budget, 3),
            # exact (unrounded) CPU-seconds of our own process tree —
            # regression-triage consumers need this, not a value
            # reconstructed from the 3-decimal self_util
            "self_cpu_secs": self_cpu,
        }
