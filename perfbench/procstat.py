"""Host and process counters read from /proc (Linux only).

CPU is read as clock ticks from /proc/<pid>/stat; memory as the peak
resident set (VmHWM) from /proc/<pid>/status. The benchmark reads these
before and after its timed window, so every figure is a delta over the
window unless named as a peak.
"""

from __future__ import annotations

import os

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) ticks of the whole host from the first /proc/stat line.

    The total sums only fields user..steal (0-7): guest and guest_nice
    are already counted inside user and nice, so adding them would
    inflate the denominator and understate the steal share."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return sum(vals), vals[7]


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        text = f.read()
    # the command name may hold spaces; fields resume after its ')'
    return text[text.rindex(")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(entry))[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def own_cpu_s(pid: int) -> float:
    """User + system CPU of one process (all its threads)."""
    f = _stat_fields(pid)
    return (int(f[11]) + int(f[12])) * TICK_S


def tree_cpu_s(pid: int) -> float:
    """CPU of every live descendant of `pid` plus the CPU of descendants
    already reaped (cutime/cstime), so the total only grows even when
    Spark's Python workers exit inside the window."""
    total = 0
    f = _stat_fields(pid)
    total += int(f[13]) + int(f[14])
    for p in descendants(pid):
        try:
            g = _stat_fields(p)
        except OSError:
            continue
        total += int(g[11]) + int(g[12]) + int(g[13]) + int(g[14])
    return total * TICK_S


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set, in MiB."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def calibration_ms(reps: int = 5) -> float:
    """Median time of a fixed pure-Python loop: a probe of how fast this
    host runs one core right now, for telling host drift from program
    change."""
    import time

    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        times.append(1000.0 * (time.perf_counter() - t0))
    return sorted(times)[reps // 2]
