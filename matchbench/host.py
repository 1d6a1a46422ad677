"""Host diagnostics read from /proc: CPU steal, CPU used outside the
benchmark's own process tree, and resident memory per process role.

A run whose timed window overlapped a steal streak or a busy neighbour is
identifiable from these numbers alone, without re-running it.
"""

from __future__ import annotations

import os


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # process exited between listing and reading
        return None


def cpu_jiffies() -> dict[str, int]:
    """Aggregate /proc/stat counters (all CPUs)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    vals += [0] * (8 - len(vals))
    user, nice, system, idle, iowait, irq, softirq, steal = vals[:8]
    return {
        "total": sum(vals[:8]),
        "busy": user + nice + system + irq + softirq,
        "steal": steal,
    }


def _processes() -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, utime+stime+cutime+cstime jiffies, comm)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        stat = _read(f"/proc/{name}/stat")
        if stat is None:
            continue
        # comm may contain spaces; fields resume after the last ')'
        comm = stat[stat.find("(") + 1:stat.rfind(")")]
        fields = stat[stat.rfind(")") + 2:].split()
        ppid = int(fields[1])
        cpu = sum(int(x) for x in fields[11:15])
        out[int(name)] = (ppid, cpu, comm)
    return out


def process_tree(root: int | None = None) -> dict[int, tuple[int, int, str]]:
    """The root process and all of its descendants."""
    procs = _processes()
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    tree, stack = {}, [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            tree[pid] = procs[pid]
            stack.extend(children.get(pid, ()))
    return tree


def tree_jiffies() -> int:
    return sum(cpu for _, cpu, _ in process_tree().values())


class Window:
    """CPU accounting between ``start()`` and ``stop()``."""

    def start(self) -> None:
        self._cpu0 = cpu_jiffies()
        self._tree0 = tree_jiffies()

    def stop(self) -> dict[str, float]:
        cpu1 = cpu_jiffies()
        tree1 = tree_jiffies()
        total = max(1, cpu1["total"] - self._cpu0["total"])
        busy = cpu1["busy"] - self._cpu0["busy"]
        outside = max(0, busy - (tree1 - self._tree0))
        return {
            "steal_pct": 100.0 * (cpu1["steal"] - self._cpu0["steal"]) / total,
            "outside_cpu_pct": 100.0 * outside / total,
            "busy_cpu_pct": 100.0 * busy / total,
        }


def steal_pct(cpu0: dict[str, int], cpu1: dict[str, int]) -> float:
    return 100.0 * (cpu1["steal"] - cpu0["steal"]) / max(1, cpu1["total"] - cpu0["total"])


def _rss_mb(pid: int) -> float:
    status = _read(f"/proc/{pid}/status") or ""
    for line in status.splitlines():
        if line.startswith("VmRSS:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def rss_by_role() -> dict[str, float]:
    """Resident MB of this driver process, the JVM it launched, and the
    Python workers the JVM runs (summed)."""
    me = os.getpid()
    out = {"driver": _rss_mb(me), "jvm": 0.0, "workers": 0.0}
    for pid, (_, _, comm) in process_tree().items():
        if pid == me:
            continue
        if comm == "java":
            out["jvm"] += _rss_mb(pid)
        elif comm.startswith("python"):
            out["workers"] += _rss_mb(pid)
    return out
