"""Host and process-tree readings from /proc: steal, CPU split, peak RSS."""

from __future__ import annotations

import os

_HZ = os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    """Host-wide jiffies from the first line of /proc/stat:
    user, nice, system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return list(map(int, f.readline().split()[1:9]))


def host_fracs(before: list[int], after: list[int]) -> dict[str, float]:
    d = [b - a for a, b in zip(before, after)]
    total = max(sum(d), 1)
    return {"steal": d[7] / total, "idle": d[3] / total}


def _procs() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, own CPU seconds) for every live process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        rest = raw[raw.rindex(")") + 2 :].split()
        out[int(entry)] = (int(rest[1]), comm, (int(rest[11]) + int(rest[12])) / _HZ)
    return out


def alive(pid: int) -> bool:
    """Whether ``pid`` still runs: not gone and not a zombie. A zombie child
    of this process is reaped."""
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:  # not a child of this process
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] not in "ZX"


def descendants(pid: int) -> list[int]:
    """Live descendants of ``pid`` (children first)."""
    procs = _procs()
    kids: dict[int, list[int]] = {}
    for p, (ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(p)
    out, stack = [], list(kids.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def tree_cpu(pid: int) -> dict[str, float]:
    """CPU seconds of this process tree split by side: ``driver`` (this
    Python process), ``jvm`` (the Spark JVM) and ``python`` (the Python
    worker processes the JVM forks)."""
    procs = _procs()
    out = {"driver": procs.get(pid, (0, "", 0.0))[2], "jvm": 0.0, "python": 0.0}
    for p in descendants(pid):
        if p not in procs:
            continue
        _, comm, cpu = procs[p]
        if comm == "java":
            out["jvm"] += cpu
        elif comm.startswith("python"):
            out["python"] += cpu
    return out


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of each live process's peak resident set (VmHWM) over this
    process and its descendants: the JVM, its Python workers and the
    driver."""
    total_kb = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def jvm_times(spark) -> dict[str, float]:
    """Seconds the Spark JVM has spent compiling (JIT) and collecting
    garbage since it started, from its management beans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return {
        "jit": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
        "gc": gc / 1e3,
    }
