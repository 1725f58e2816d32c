"""Child-process bookkeeping for one benchmark run (Linux /proc).

The benchmark process marks itself a *child subreaper*, so a Python
worker orphaned when its JVM exits is re-parented to the benchmark
instead of to init. Every process the run started is then a descendant
of the benchmark until it has been reaped, which makes "nothing is left
running" checkable: :func:`descendants` must be empty after
:func:`stop_all`.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _status(pid: int) -> dict[str, str]:
    """Fields of /proc/<pid>/status; empty once the process is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            return dict(line.rstrip("\n").split(":\t", 1) for line in f if ":\t" in line)
    except (FileNotFoundError, ProcessLookupError):
        return {}


def descendants(root: int | None = None) -> list[int]:
    """Live (non-zombie) descendants of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _status(int(name))
        if st and not st.get("State", "").startswith("Z"):
            children.setdefault(int(st["PPid"]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the kernel's per-process peak resident set (VmHWM)."""
    kb = 0
    for pid in pids:
        hwm = _status(pid).get("VmHWM")
        if hwm:
            kb += int(hwm.split()[0])
    return kb / 1024.0


def cpu_jiffies() -> list[int]:
    """Host-wide CPU time counters (first line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_fraction(before: list[int], after: list[int]) -> float:
    """Share of host CPU time the hypervisor gave to other guests
    between two :func:`cpu_jiffies` readings."""
    total = sum(after) - sum(before)
    return (after[7] - before[7]) / total if total else 0.0


def _reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_all(grace_s: float = 20.0) -> int:
    """Wait up to ``grace_s`` for every descendant to exit on its own,
    then SIGTERM and finally SIGKILL the rest, reaping each. Returns how
    many had to be signalled; raises if any survives SIGKILL."""
    deadline = time.monotonic() + grace_s
    while descendants() and time.monotonic() < deadline:
        _reap_zombies()
        time.sleep(0.1)
    signalled = set()
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        left = descendants()
        for pid in left:
            signalled.add(pid)
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while descendants() and time.monotonic() < deadline:
            _reap_zombies()
            time.sleep(0.1)
    _reap_zombies()
    left = descendants()
    if left:
        raise RuntimeError(f"processes still alive after SIGKILL: {left}")
    return len(signalled)
