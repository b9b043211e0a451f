"""Host and process statistics from /proc for the benchmark."""

from __future__ import annotations

import os


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def proc_stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_stats(before: list[int]) -> dict[str, float]:
    """Host sys% and steal% since ``before`` and the 1-min load average."""
    d = [b - a for a, b in zip(before, proc_stat())]
    total = max(sum(d), 1)
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {
        "host.sys_pct": 100.0 * d[2] / total,
        "host.steal_pct": 100.0 * (d[7] if len(d) > 7 else 0) / total,
        "host.loadavg_1m": load1,
    }


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass
    return kb / 1024


def descendants(pid: int) -> set[int]:
    """Every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def not_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, the fields after it) of a /proc stat file."""
    with open(path) as f:
        d = f.read()
    return d[d.index("(") + 1:d.rindex(")")], d.rsplit(")", 1)[1].split()


def cpu_sample(pid: int, jvm: int) -> tuple[int, dict[int, int]]:
    """CPU clock ticks used so far by ``pid`` and every process below it
    (the JVM and the Python workers, children already reaped included),
    and the ticks of each live JIT compiler thread of the ``jvm``. The
    kernel leaves out time the hypervisor took from the VM (steal)."""
    total = 0
    for p in (pid, *descendants(pid)):
        try:
            total += sum(int(x) for x in _stat(f"/proc/{p}/stat")[1][11:15])  # utime stime cutime cstime
        except OSError:
            continue  # exited since the listing: its parent has reaped it or will
    jit: dict[int, int] = {}
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            name, f = _stat(f"/proc/{jvm}/task/{tid}/stat")
        except OSError:
            continue
        if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            jit[int(tid)] = int(f[11]) + int(f[12])
    return total, jit


def cpu_between(a: tuple[int, dict[int, int]], b: tuple[int, dict[int, int]]) -> tuple[float, float]:
    """(CPU seconds, the part of them spent on JIT compilation) from
    sample ``a`` to sample ``b``. A compiler thread that exits in between
    drops out of the second figure; the JVM stops only idle compiler
    threads, so that is small."""
    jit = sum(v - a[1].get(tid, 0) for tid, v in b[1].items())
    return (b[0] - a[0]) / _TICK, jit / _TICK
