"""CPU and resident-memory readings of the benchmark's own process tree.

Everything is read from ``/proc/<pid>/stat`` of this process and its
descendants (the Spark JVM and the Python workers it forks), so a
co-tenant's processes never count.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, int, float, int] | None:
    """(comm, ppid, cpu seconds incl. reaped children, rss bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    comm = s[s.index("(") + 1 : s.rindex(")")]
    fields = s[s.rindex(")") + 2 :].split()
    # fields[0] is stat field 3 (state): utime..cstime are fields 14-17, rss 24
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return comm, int(fields[1]), cpu, int(fields[21]) * _PAGE


def tree(root: int | None = None) -> dict[int, tuple[str, float, int]]:
    """pid → (comm, cpu seconds, rss bytes) for ``root`` and its descendants."""
    root = os.getpid() if root is None else root
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_c, ppid, _cpu, _rss) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            comm, _ppid, cpu, rss = stats[pid]
            out[pid] = (comm, cpu, rss)
            todo.extend(children.get(pid, ()))
    return out


def cpu_by_role(root: int | None = None) -> dict[str, float]:
    """CPU seconds so far, split into this Python process, the JVM and the
    Python workers (every other descendant)."""
    root = os.getpid() if root is None else root
    out = {"python": 0.0, "jvm": 0.0, "workers": 0.0}
    for pid, (comm, cpu, _rss) in tree(root).items():
        role = "python" if pid == root else "jvm" if comm == "java" else "workers"
        out[role] += cpu
    return out


class RssSampler:
    """Background sampler of the combined RSS of this Python process and the JVM."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        root = os.getpid()
        total = sum(
            rss for pid, (comm, _cpu, rss) in tree(root).items() if pid == root or comm == "java"
        )
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
