"""Process-tree accounting and reaping from /proc (Linux only).

The benchmark's Spark driver is a Python process whose descendants are
the JVM it launched, ``pyspark.daemon`` (which moves itself into its own
process group) and the forked Python workers. CPU and memory are summed
over that tree, and cleanup walks the tree rather than one process group.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Orphaned descendants are re-parented to this process, not to init,
    so they stay reachable for reaping."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Live descendants of `root` (excluding it), parents before children."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_ticks(root: int) -> dict[tuple[int, str], int]:
    """Per process of the tree, keyed by (pid, start time): utime + stime
    + the times of children it has reaped."""
    out = {}
    for pid in [root, *descendants(root)]:
        st = _stat(pid)
        if st is not None:
            out[(pid, st[19])] = sum(int(x) for x in st[11:15])
    return out


def cpu_seconds_between(before: dict, after: dict) -> float:
    """CPU the tree used between two `cpu_ticks` snapshots. A process that
    exits in between drops out; what it used after `before` is lost unless
    a member of the tree reaped it, but it never subtracts its lifetime."""
    return sum(t - before.get(k, 0) for k, t in after.items()) / _CLK


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def rss_bytes(root: int) -> int:
    """Summed RSS of the tree. A child of the JVM that still runs the JVM
    image is a vfork()ed helper before its exec(); it shares the JVM's
    pages, so it is skipped rather than counted twice."""
    total = 0
    for pid in [root, *descendants(root)]:
        st = _stat(pid)
        if st is None:
            continue
        exe = _exe(pid)
        if exe.endswith("/java") and _exe(int(st[1])) == exe:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the tree's summed RSS on a thread while active."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self.root, self.interval_s = root, interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> PeakRss:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return


def kill_tree(root: int, wait_s: float = 0.0, grace_s: float = 5.0,
              keep: frozenset[int] = frozenset()) -> list[int]:
    """Stop every descendant of `root` not in `keep`: let them exit on
    their own for `wait_s`, then SIGTERM, then after `grace_s` SIGKILL;
    reap as we go.

    Returns the pids still alive at the end (empty on success). Needs
    `become_subreaper()` in `root` so processes orphaned mid-way stay in
    the tree.
    """
    deadline = time.monotonic() + wait_s
    sig = None
    while True:
        pids = descendants(root)
        _reap()
        pids = [p for p in pids if p not in keep and _alive(p)]
        if not pids:
            return []
        if time.monotonic() > deadline:
            if sig == signal.SIGKILL:
                return pids
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            deadline = time.monotonic() + grace_s
        for p in pids if sig is not None else ():
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
