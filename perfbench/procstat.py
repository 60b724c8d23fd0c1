"""CPU time and resident memory of a process tree, read from ``/proc``.

The benchmark's driver process starts the JVM, the JVM starts the PySpark
daemon and the daemon forks Python workers. Summing ``utime + stime`` over
the processes that happen to be children of the driver *now* loses every
worker that already exited or was re-parented, which undercounts a UDF-heavy
pass several times over. The sampler therefore keys every process it has
ever seen by ``(pid, starttime)`` and keeps its last CPU reading after it
leaves the tree; a process stays a member after its parent changes, and its
own descendants are followed through it.

A process that starts and exits between two samples is missed; the
background thread samples every ``interval_s`` to keep that window small.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class ProcStat:
    pid: int
    comm: str
    state: str
    ppid: int
    cpu_ticks: int  # utime + stime of the process itself
    starttime: int
    rss_pages: int


def parse_stat(text: str) -> ProcStat:
    """Parse one ``/proc/<pid>/stat`` line. ``comm`` may hold spaces and
    parentheses, so the fields are split after the LAST ``)``."""
    lp, rp = text.index("("), text.rindex(")")
    rest = text[rp + 2 :].split()
    return ProcStat(
        pid=int(text[:lp]),
        comm=text[lp + 1 : rp],
        state=rest[0],
        ppid=int(rest[1]),
        cpu_ticks=int(rest[11]) + int(rest[12]),
        starttime=int(rest[19]),
        rss_pages=int(rest[21]),
    )


def read_all(proc: str = "/proc") -> dict[int, ProcStat]:
    out: dict[int, ProcStat] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc, name, "stat")) as fh:
                st = parse_stat(fh.read())
        except (FileNotFoundError, ProcessLookupError, ValueError, IndexError):
            continue  # exited between listdir and open, or unreadable
        out[st.pid] = st
    return out


def role_of(st: ProcStat, root_pid: int) -> str:
    """driver = the benchmark process, jvm = Spark's JVM, pyworkers = the
    PySpark daemon and its forked workers (everything else in the tree)."""
    if st.pid == root_pid:
        return "driver"
    if st.comm == "java":
        return "jvm"
    return "pyworkers"


class TreeSampler:
    """Cumulative CPU seconds and current/peak RSS of the tree rooted at
    ``root_pid``. ``sample()`` is safe to call from any thread."""

    def __init__(self, root_pid: int | None = None, proc: str = "/proc",
                 interval_s: float = 0.1):
        self.root_pid = root_pid if root_pid is not None else os.getpid()
        self.proc = proc
        self.interval_s = interval_s
        self._lock = threading.Lock()
        self._members: dict[tuple[int, int], int] = {}  # key -> last cpu ticks
        self._roles: dict[tuple[int, int], str] = {}
        self._live: set[tuple[int, int]] = set()
        self.peak_rss_mb: dict[str, float] = {}
        self.peak_total_rss_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> float:
        """Refresh the tree; returns cumulative CPU seconds so far."""
        procs = read_all(self.proc)
        children: dict[int, list[int]] = {}
        for st in procs.values():
            children.setdefault(st.ppid, []).append(st.pid)
        with self._lock:
            # start from the root and from every still-alive member: a member
            # re-parented away from the tree (to init or a subreaper) keeps
            # counting, and so do the processes it starts afterwards
            frontier = [self.root_pid] + [
                pid for (pid, start) in self._live
                if pid in procs and procs[pid].starttime == start
            ]
            seen: set[int] = set()
            while frontier:
                pid = frontier.pop()
                if pid in seen or pid not in procs:
                    continue
                seen.add(pid)
                frontier.extend(children.get(pid, ()))
            live: set[tuple[int, int]] = set()
            rss = {"driver": 0.0, "jvm": 0.0, "pyworkers": 0.0}
            for pid in seen:
                st = procs[pid]
                key = (pid, st.starttime)
                self._members[key] = max(self._members.get(key, 0), st.cpu_ticks)
                # a process can exec (spark-submit becomes java): the latest
                # name decides its role
                self._roles[key] = role_of(st, self.root_pid)
                if st.state == "Z":
                    continue  # exited, waiting to be reaped: CPU final, no RSS
                live.add(key)
                rss[role_of(st, self.root_pid)] += st.rss_pages * PAGE_BYTES / 2**20
            self._live = live
            for role, mb in rss.items():
                self.peak_rss_mb[role] = max(self.peak_rss_mb.get(role, 0.0), mb)
            self.peak_total_rss_mb = max(self.peak_total_rss_mb, sum(rss.values()))
            return sum(self._members.values()) / CLK_TCK

    def cpu_by_role(self) -> dict[str, float]:
        """Cumulative CPU seconds per role, as of the last sample."""
        out = {"driver": 0.0, "jvm": 0.0, "pyworkers": 0.0}
        with self._lock:
            for key, ticks in self._members.items():
                out[self._roles[key]] += ticks / CLK_TCK
        return out

    def reset_peaks(self) -> None:
        with self._lock:
            self.peak_rss_mb = {}
            self.peak_total_rss_mb = 0.0

    def live_pids(self) -> list[int]:
        with self._lock:
            return [pid for pid, _ in self._live if pid != self.root_pid]

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread = threading.Thread(target=self._loop, name="procstat", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def cpu_steal(proc: str = "/proc") -> tuple[int, int]:
    """(steal ticks, all ticks) of the whole host since boot."""
    with open(os.path.join(proc, "stat")) as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def wait_tree_gone(sampler: TreeSampler, timeout_s: float = 20.0) -> list[int]:
    """Wait until no descendant of the sampler's root is alive; SIGKILL what
    is left after ``timeout_s``. Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        sampler.sample()
        if not sampler.live_pids():
            return []
        time.sleep(0.2)
    left = sampler.live_pids()
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    for _ in range(50):
        sampler.sample()
        if not sampler.live_pids():
            break
        time.sleep(0.1)
    return left
