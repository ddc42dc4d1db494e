"""CPU time and resident memory of this process and all its descendants
(driver Python, the JVM, Python workers), read from /proc."""

from __future__ import annotations

import itertools
import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    return data[data.rindex(")") + 2 :].split()


def tree(root: int | None = None) -> list[int]:
    """`root` (default: this process) and every live descendant."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> dict[int, float]:
    """User+system time per process, including reaped children."""
    out = {}
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
            out[pid] = sum(int(x) for x in st[11:15]) / _TICK
    return out


def tree_cpu() -> float:
    """User+system CPU seconds of this process and its descendants."""
    return sum(cpu_seconds(tree()).values())


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def memory_members(pids: list[int]) -> list[int]:
    """The processes whose memory counts: the root, the JVM it launched and
    Python processes. Other children of the JVM are spawn helpers that share
    its address space until they exec, so their RSS would count it twice."""
    root = pids[0]
    out = [root]
    for pid in pids[1:]:
        st = _stat(pid)
        exe = _exe(pid)
        if exe.startswith("python") or (exe == "java" and st is not None and int(st[1]) == root):
            out.append(pid)
    return out


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in memory_members(pids):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / (1024 * 1024)


class TreeMonitor:
    """Samples the process tree's total RSS on a background thread and
    keeps the peak."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_rss_mb = 0.0

    def start(self) -> None:
        self.peak_rss_mb = rss_mb(tree())
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        # the /proc scan that finds the tree is the costly part: redo it
        # once every eight samples
        pids: list[int] = []
        for i in itertools.count():
            if self._stop.wait(self._interval):
                return
            if i % 8 == 0:
                pids = tree()
            self.peak_rss_mb = max(self.peak_rss_mb, rss_mb(pids))

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
