"""CPU time and resident memory of the benchmark's process tree, from /proc.

The tree is this process (the driver: Flask app, engine, py4j client), its
JVM child and the JVM's Python workers. Processes named in ``exclude`` (the
``_bulk`` receiver) and their descendants are left out. CPU includes the
reaped children of each process, so a worker that exited is still counted
by the process that waited for it.
"""

from __future__ import annotations

import itertools
import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name sits in parentheses and may itself hold spaces
    return raw[raw.rfind(")") + 2:].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class ProcessTree:
    """Snapshots of the tree rooted at ``root`` (default: this process)."""

    def __init__(self, root: int | None = None, exclude: tuple[int, ...] = ()):
        self.root = root or os.getpid()
        self.exclude = set(exclude)

    def members(self) -> dict[int, list[str]]:
        """pid -> /proc stat fields (after the name) for the live tree."""
        stats: dict[int, list[str]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, st in stats.items():
            children.setdefault(int(st[1]), []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in self.exclude or pid not in stats:
                continue
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
        return out

    def cpu_by_role(self) -> dict[str, float]:
        """CPU seconds so far, split into ``jvm``, ``driver`` and ``workers``."""
        out = {"jvm": 0.0, "driver": 0.0, "workers": 0.0}
        for pid, st in self.members().items():
            # utime, stime, cutime, cstime: fields 14-17 of /proc/pid/stat
            secs = sum(int(x) for x in st[11:15]) / _TICK
            if pid == self.root:
                role = "driver"
            elif "java" in _cmdline(pid).split(" ", 1)[0]:
                role = "jvm"
            else:
                role = "workers"
            out[role] += secs
        return out


class PeakRss:
    """Background sampler of the tree's summed RSS; ``peak`` is the maximum
    seen between ``start()`` and ``stop()``. Each sample reads only the
    known members' ``statm``; the membership is refreshed every
    ``refresh`` samples, so the sampler costs the driver little time."""

    def __init__(self, tree: ProcessTree, interval_s: float = 0.2, refresh: int = 10):
        self.tree = tree
        self.interval_s = interval_s
        self.refresh = refresh
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    @staticmethod
    def _rss(pids) -> int:
        total = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1])
            except OSError:
                continue
        return total * _PAGE

    def _run(self) -> None:
        pids: list[int] = []
        for i in itertools.count():
            if i % self.refresh == 0:
                pids = list(self.tree.members())
            self.peak = max(self.peak, self._rss(pids))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self._rss(self.tree.members()))
        return self.peak


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): a Python worker whose JVM has exited is
    re-parented here rather than to init, so ``stop_children`` can wait
    for it too."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_children(grace_s: float = 30.0) -> None:
    """Wait until every process this one started has ended and been reaped.
    A child still running after ``grace_s`` seconds is sent SIGTERM, and
    SIGKILL five seconds later. With ``become_subreaper`` this covers the
    JVM's own children as well: they are re-parented here before the JVM
    can be reaped, so no child left means no descendant left."""
    import signal
    import time

    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() >= deadline:
            for pid in ProcessTree().members():
                if pid != os.getpid():
                    try:
                        os.kill(pid, sig)
                    except OSError:
                        pass
            sig, deadline = signal.SIGKILL, time.monotonic() + 5
        time.sleep(0.02)
