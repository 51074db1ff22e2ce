"""CPU and memory counters of a process tree, read from /proc.

The tree is this Python driver, the JVM it launched and the Python
workers the JVM forks. CPU includes ``cutime``/``cstime``, so workers
already reaped by their parent still count. Memory is each live
process's ``VmHWM`` (its own high-water mark), so no sampling is needed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")


@dataclass
class Proc:
    pid: int
    kind: str  # "python" (this driver), "jvm" or "worker"
    cpu_ms: float  # own + reaped children
    hwm_mb: float


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # the process ended between listing and reading
        return None


def _stat(pid: int) -> tuple[int, str, float] | None:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # after comm: state, ppid, ... utime, stime, cutime, cstime at 11..14
    ppid = int(f[1])
    ticks = sum(int(x) for x in f[11:15])
    return ppid, comm, ticks * _TICK_MS


def _hwm_mb(pid: int) -> float:
    raw = _read(f"/proc/{pid}/status") or ""
    for line in raw.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def tree(root: int | None = None) -> list[Proc]:
    """Every live process under ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    info: dict[int, tuple[int, str, float]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                info[int(name)] = st
    members, frontier = {root}, [root]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _, _) in info.items():
            if ppid == parent and pid not in members:
                members.add(pid)
                frontier.append(pid)
    out = []
    for pid in sorted(members):
        if pid not in info:
            continue
        _, comm, cpu = info[pid]
        if pid == root:
            kind = "python"
        elif comm == "java":
            kind = "jvm"
        elif comm.startswith("python"):
            kind = "worker"
        else:
            kind = "other"
        out.append(Proc(pid, kind, cpu, _hwm_mb(pid)))
    return out


def by_kind(procs: list[Proc], attr: str) -> dict[str, float]:
    """Sum one attribute per process kind, plus a ``total``."""
    out: dict[str, float] = {"python": 0.0, "jvm": 0.0, "worker": 0.0, "other": 0.0}
    for p in procs:
        out[p.kind] += getattr(p, attr)
    out["total"] = sum(out[k] for k in ("python", "jvm", "worker", "other"))
    return out


def descendants(root: int | None = None) -> list[int]:
    """Live pids under ``root``, excluding ``root`` itself."""
    root = os.getpid() if root is None else root
    return [p.pid for p in tree(root) if p.pid != root]
