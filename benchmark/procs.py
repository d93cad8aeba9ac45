"""Process-tree readings from ``/proc``: CPU seconds and peak RSS.

CPU of a tree counts each live process's own time plus the time of
children it has already reaped (``cutime``/``cstime``), so a worker
that exits mid-pass still counts once.
"""

from __future__ import annotations

import os

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # f[1] = ppid; f[11..14] = utime, stime, cutime, cstime
    return comm, int(f[1]), sum(int(x) for x in f[11:15]) / _CLK


def _table() -> dict[int, tuple[str, int, float]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def _descendants(table: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def snapshot(roots: dict[str, int | None]) -> dict[str, float]:
    """CPU seconds of each named process tree, from one /proc pass."""
    table = _table()
    return {
        name: sum(table[p][2] for p in _descendants(table, root)) if root else 0.0
        for name, root in roots.items()
    }


def python_workers_cpu(jvm_pid: int | None) -> float:
    """CPU seconds of the Python worker processes the JVM started."""
    if not jvm_pid:
        return 0.0
    table = _table()
    return sum(
        table[p][2]
        for p in _descendants(table, jvm_pid)
        if p != jvm_pid and table[p][0].startswith("python")
    )


def find_descendant(root: int, comm: str) -> int | None:
    table = _table()
    return next((p for p in _descendants(table, root) if table[p][0] == comm), None)


def vm_hwm_mb(pid: int | None) -> float:
    """Peak resident set size of ``pid`` in MB (VmHWM)."""
    if not pid:
        return 0.0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
