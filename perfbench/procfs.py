"""Process-tree CPU time and memory from ``/proc`` (Linux only).

The benchmark's own process is the Spark driver; the JVM it launches
and the Python workers the JVM forks are its descendants, so the tree
rooted at ``os.getpid()`` is everything a query costs on this host.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU of the live tree, including reaped children
    (``cutime``/``cstime``: short-lived Python workers)."""
    total = 0
    for pid in descendants(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def _status_kb(pid: int, key: str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return float(line.split()[1])
    except OSError:
        pass
    return 0.0


def peak_rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmHWM") / 1024.0


def rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmRSS") / 1024.0


def java_pid(root: int) -> int | None:
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def reap(pids: list[int], timeout: float = 30.0) -> None:
    """Wait for ``pids`` to exit; SIGTERM, then SIGKILL, the stragglers."""

    def alive() -> list[int]:
        # a zombie (state Z) has ended; its parent reaps it
        return [p for p in pids if (st := _stat(p)) is not None and st[0] != "Z"]

    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for p in alive() if sig else ():
            try:
                os.kill(p, sig)
            except OSError:
                pass
        deadline = time.monotonic() + (timeout if sig is None else 5.0)
        while alive() and time.monotonic() < deadline:
            time.sleep(0.05)
        if not alive():
            return
