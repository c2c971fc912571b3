"""Memory and CPU time of a process tree, read from /proc.

The benchmark's process tree is the Python driver, the JVM it launches and
the JVM's Python workers. The sampler walks the tree from a root pid on
each sample, so workers started mid-run are counted from their first
sample on.

Memory is the proportional set size (PSS, from ``smaps_rollup``): a page
shared by n processes counts 1/n in each, so the Python workers forked from
one daemon are not counted several times over. Where ``smaps_rollup`` is
missing the resident set size from ``statm`` stands in.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _read_stat(proc: str, pid: int) -> tuple[int, float, str] | None:
    """(ppid, cpu seconds, command name) of one process, or None if it has
    gone."""
    try:
        with open(f"{proc}/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    close = raw.rindex(")")
    fields = raw[close + 2 :].split()
    ppid = int(fields[1])
    utime, stime = int(fields[11]), int(fields[12])
    return ppid, (utime + stime) / _TICK, raw[raw.index("(") + 1 : close]


def _read_mem(proc: str, pid: int) -> int:
    """PSS bytes of one process (RSS where PSS is unavailable); 0 if gone."""
    try:
        with open(f"{proc}/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    try:
        with open(f"{proc}/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """root and every live descendant of it."""
    parent: dict[int, int] = {}
    for name in os.listdir(proc):
        if name.isdigit():
            st = _read_stat(proc, int(name))
            if st is not None:
                parent[int(name)] = st[0]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_mem_by_command(root: int, proc: str = "/proc") -> dict[str, int]:
    """Memory of the tree summed per command name."""
    out: dict[str, int] = {}
    for p in tree_pids(root, proc):
        st = _read_stat(proc, p)
        if st is not None:
            out[st[2]] = out.get(st[2], 0) + _read_mem(proc, p)
    return out


def tree_cpu_seconds(root: int, proc: str = "/proc") -> float:
    """User + system CPU seconds of the live tree's processes."""
    total = 0.0
    for p in tree_pids(root, proc):
        st = _read_stat(proc, p)
        if st is not None:
            total += st[1]
    return total


def host_cpu_ticks(proc: str = "/proc") -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole host since boot: the share of
    two readings' difference tells how much CPU the hypervisor took away
    from this machine in between."""
    with open(f"{proc}/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


class MemSampler:
    """Background thread recording the tree's peak memory every
    ``interval`` seconds until stopped. Use as a context manager."""

    def __init__(self, root: int | None = None, interval: float = 0.5, proc: str = "/proc"):
        self.root = root if root is not None else os.getpid()
        self.interval = interval
        self.proc = proc
        self.peak_bytes = 0
        self.peak_parts: dict[str, int] = {}
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="mem-sampler", daemon=True)

    def sample(self) -> int:
        parts = tree_mem_by_command(self.root, self.proc)
        total = sum(parts.values())
        if total > self.peak_bytes:
            self.peak_bytes, self.peak_parts = total, parts
        self.samples += 1
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)
