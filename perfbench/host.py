"""What the host did during a run, read from ``/proc``.

- ``sample``: cumulative CPU steal seconds (all CPUs) and the 1-minute load.
- ``tree_cpu_s``: user plus system CPU seconds of a process and all its
  descendants (this process, the driver JVM, Spark's Python workers). On a
  virtual machine the kernel leaves stolen time out of these counters, so
  they do not grow when the host takes the CPUs away.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def sample() -> tuple[float, float]:
    """Cumulative CPU steal seconds (all CPUs) and the 1-minute load."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8]) / _TICK
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return steal, load1


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended
        return None
    # Fields after the command name, which may hold spaces: state is [0],
    # ppid [1], utime [11], stime [12], cutime [13], cstime [14].
    return raw[raw.rindex(")") + 2:].split()


def tree_cpu_s(roots: list[int]) -> float:
    """User plus system CPU seconds of ``roots`` and every live descendant,
    with the reaped children of each (so a worker that exits keeps counting,
    in its parent's total)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)] = int(st[1])
    members = set(roots)
    grew = True
    while grew:
        kids = {p for p, pp in parent.items() if pp in members and p not in members}
        members |= kids
        grew = bool(kids)
    total = 0
    for pid in members:
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK
