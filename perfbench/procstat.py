"""Process-tree CPU and RSS from ``/proc`` (psutil is not installed).

The tree is this process and all its descendants. Each process is put
in one role: ``driver`` (this Python process), ``jvm`` (the Spark JVM),
``pyworker`` (Python processes under the JVM: the pyspark daemon and its
workers) or ``other`` (launcher shells and the short-lived commands the
JVM forks). CPU time counts the children a process has reaped
(``cutime``/``cstime``), so a worker that exits inside a window still
has its CPU charged to the daemon that reaped it.

RSS leaves out ``other``: a process the JVM has just forked shares all
of the JVM's pages until it execs, and counting it would add a second
copy of the JVM to the peak.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
ROLES = ("driver", "jvm", "pyworker", "other")


def _read_stat(pid: int):
    """(comm, state, ppid, cpu_s, rss_bytes) of one process, or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm sits in parentheses and may itself hold spaces or ')'
    lp, rp = raw.index("("), raw.rindex(")")
    comm = raw[lp + 1:rp]
    rest = raw[rp + 2:].split()
    # rest[0] is field 3 (state); fields 14-17 are utime, stime,
    # cutime, cstime and field 24 is rss in pages
    ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
    return comm, rest[0], int(rest[1]), ticks / _TICK, int(rest[21]) * _PAGE


def _all_procs() -> dict:
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                procs[int(name)] = st
    return procs


def _tree(root: int, procs: dict) -> list[tuple[int, str]]:
    """(pid, role) of ``root`` and every descendant."""
    children: dict[int, list[int]] = {}
    for pid, st in procs.items():
        children.setdefault(st[2], []).append(pid)
    out, stack = [], [(root, "driver")]
    while stack:
        pid, role = stack.pop()
        st = procs.get(pid)
        if st is None:
            continue
        if pid != root:
            if st[0] == "java" and role == "driver":
                role = "jvm"
            elif role in ("jvm", "pyworker") and st[0].startswith("python"):
                role = "pyworker"
            else:
                role = "other"
        out.append((pid, role))
        stack.extend((c, role) for c in children.get(pid, ()))
    return out


def snapshot(root: int | None = None) -> dict:
    """Per-role ``{"cpu_s", "rss_b"}`` summed over the tree under ``root``."""
    procs = _all_procs()
    out = {r: {"cpu_s": 0.0, "rss_b": 0} for r in ROLES}
    for pid, role in _tree(os.getpid() if root is None else root, procs):
        out[role]["cpu_s"] += procs[pid][3]
        out[role]["rss_b"] += procs[pid][4]
    return out


def descendants() -> list[int]:
    """Pids of every live process under this one."""
    me = os.getpid()
    return [p for p, _r in _tree(me, _all_procs()) if p != me]


class Sampler:
    """Background RSS sampler: per-role and total peaks while running."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_total_b = 0
        self.peak_b = {r: 0 for r in ROLES}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        snap = snapshot()
        self.peak_total_b = max(
            self.peak_total_b,
            sum(v["rss_b"] for r, v in snap.items() if r != "other"),
        )
        for r in ROLES:
            self.peak_b[r] = max(self.peak_b[r], snap[r]["rss_b"])

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "Sampler":
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def cpu_by_role(before: dict, after: dict) -> dict:
    return {r: after[r]["cpu_s"] - before[r]["cpu_s"] for r in ROLES}


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until every pid has exited; returns those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.05)
    return alive


def _alive(pid: int) -> bool:
    # a zombie has exited; only its parent's wait() is missing
    st = _read_stat(pid)
    return st is not None and st[1] != "Z"


def machine_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from ``/proc/stat``: steal is
    time the hypervisor ran something else while a vCPU wanted to run."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)
