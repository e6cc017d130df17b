"""Process-tree observations from /proc: memory, Python-worker CPU, host load
and CPU steal.

A :class:`ProcSampler` thread walks the descendants of the benchmark process
(its JVM, the JVM's Python daemon and the workers the daemon forks) every
``interval`` seconds and keeps the peak of their summed resident memory and
the CPU ticks of every Python process below the JVM.
"""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(") ", 1)[1].split()
    except (OSError, IndexError):
        return None


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError):
        return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"python" in f.read().split(b"\0", 1)[0]
    except OSError:
        return False


def descendants(root: int) -> dict[int, int]:
    """pid -> parent pid for every live descendant of ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(int(st[1]), []).append(int(name))
    out, frontier = {}, [root]
    while frontier:
        p = frontier.pop()
        for child in children.get(p, []):
            out[child] = p
            frontier.append(child)
    return out


def runnable_processes() -> int:
    """Processes other than this one in state R or D (host load context)."""
    n, me = 0, str(os.getpid())
    for name in os.listdir("/proc"):
        if name.isdigit() and name != me:
            st = _stat(int(name))
            n += bool(st and st[0] in "RD")
    return n


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, over all CPUs, from the
    ``cpu`` line of /proc/stat.  Steal is time the hypervisor gave another
    guest while this one had work; guest time is already inside user time."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def host_context() -> dict:
    steal, total = cpu_ticks()
    return {
        "loadavg": list(os.getloadavg()),
        "runnable_procs": runnable_processes(),
        "cpu_steal_ticks": steal,
        "cpu_total_ticks": total,
    }


def steal_share(before: dict, after: dict) -> float:
    """Share of the host's CPU time between two :func:`host_context` calls
    that the hypervisor stole."""
    total = after["cpu_total_ticks"] - before["cpu_total_ticks"]
    return (after["cpu_steal_ticks"] - before["cpu_steal_ticks"]) / total if total else 0.0


class ProcSampler:
    """Background sampler of the benchmark's process tree."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.root = os.getpid()
        self.peak_rss = 0
        self._ticks: dict[int, int] = {}  # live python pid -> CPU ticks
        self._toplevel: set[int] = set()  # python pids whose parent is not python
        self._window: dict[int, int] | None = None  # pid -> ticks at begin()
        self._last: dict[int, int] = {}  # pid -> last ticks seen in the window
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> ProcSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        tree = descendants(self.root)
        rss = _rss(self.root) + sum(_rss(p) for p in tree)
        pythons = {p for p in tree if _is_python(p)}
        ticks, top = {}, set()
        for p in pythons:
            st = _stat(p)
            if not st:
                continue
            # utime, stime, and for a top-level python process (the daemon)
            # also the cutime and cstime of the workers it has reaped
            if tree[p] not in pythons:
                top.add(p)
            ticks[p] = sum(int(x) for x in st[11 : 15 if p in top else 13])
        with self._lock:
            self.peak_rss = max(self.peak_rss, rss)
            self._ticks = ticks
            self._toplevel |= top
            if self._window is not None:
                self._last.update(ticks)

    def begin(self) -> None:
        """Open a window for :meth:`end`."""
        self.sample()
        with self._lock:
            self._window = dict(self._ticks)
            self._last = dict(self._ticks)

    def end(self) -> tuple[float, int]:
        """CPU seconds of Python processes since :meth:`begin`, and the
        number of Python processes seen.  A worker that exited in between is
        counted through its daemon's reaped-children time, so its own samples
        are dropped and its share from before the window taken off."""
        self.sample()
        with self._lock:
            before, live = self._window or {}, self._ticks
            total = 0
            for p, last in self._last.items():
                if p in live or p in self._toplevel:
                    total += last - before.get(p, 0)
                else:
                    total -= before.get(p, 0)
            self._window = None
            return total / TICK, len(self._last)
