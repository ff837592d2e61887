"""CPU time and peak memory of this process and everything it started,
read from /proc.

The Spark JVM is a child of the driver Python process and Python workers
are children of the JVM, so the process tree under ``os.getpid()`` is the
whole program.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name (field 2) may hold spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2:].split()


def process_age_s() -> float:
    """Seconds since this process started (10 ms ticks)."""
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    # field 22 (starttime, in ticks since boot) sits at 19 here
    return up - int(_stat(os.getpid())[19]) / _TICK


def tree_pids() -> list[int]:
    """This process and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds() -> float:
    """User + system CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            # fields 14-17 (utime, stime, cutime, cstime) sit at 11..14 here
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def peak_rss_mb() -> float:
    """Summed VmHWM (peak resident set) of the tree, in MiB."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024
