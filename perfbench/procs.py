"""CPU seconds and resident memory of a process tree, read from /proc.

A sampling thread walks the descendants of this process (the JVM, the
PySpark daemon and its Python workers) every 0.1 s, and reads their
memory every fifth time: one PSS read walks the page tables of the
whole pre-touched JVM heap, ~40 ms of a core, so reading it at every
sample would take a tenth of a 4-core machine from the run it measures.
A window's CPU is the growth of user + system time of every process seen
in it; a process that exits loses at most one interval of CPU. Peak
memory is the largest sum over the tree, at one sample, of each
process's proportional set size (PSS): pages shared between the PySpark
daemon and the workers it forks are counted once, not once per worker.
"""

from __future__ import annotations

import os
import threading

_TCK = os.sysconf("SC_CLK_TCK")


def _pss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited since it was listed
        pass
    return 0


def _read_all() -> dict[int, tuple[int, int, float]]:
    """pid -> (ppid, start ticks, cpu seconds)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        rest = stat[stat.rfind(")") + 2 :].split()
        out[int(name)] = (
            int(rest[1]),
            int(rest[19]),
            (int(rest[11]) + int(rest[12])) / _TCK,
        )
    return out


def tree(root: int, memory: bool = True) -> dict[tuple[int, int], tuple[float, int]]:
    """(pid, start) -> (cpu seconds, PSS bytes) for ``root`` and its
    descendants; PSS is 0 unless ``memory``."""
    procs = _read_all()
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            _ppid, start, cpu = procs[pid]
            out[pid, start] = (cpu, _pss(pid) if memory else 0)
            todo.extend(children.get(pid, ()))
    return out


class TreeSampler:
    interval = 0.1  # seconds between samples
    memory_every = 5  # samples per memory read

    def __init__(self):
        self.root = os.getpid()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._base: dict = {}
        self._last: dict = {}
        self._peak = 0
        self._count = 0
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> TreeSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _sample(self, memory: bool = True) -> None:
        snap = tree(self.root, memory)
        with self._lock:
            for key, (cpu, _mem) in snap.items():
                self._last[key] = cpu
            self._peak = max(self._peak, sum(mem for _cpu, mem in snap.values()))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._count += 1
            self._sample(self._count % self.memory_every == 0)

    def begin(self) -> None:
        snap = tree(self.root)
        with self._lock:
            self._base = {k: cpu for k, (cpu, _mem) in snap.items()}
            self._last = dict(self._base)
            self._peak = sum(mem for _cpu, mem in snap.values())

    def end(self) -> tuple[float, float]:
        """(cpu seconds, peak PSS in MiB) since ``begin``."""
        self._sample()
        with self._lock:
            cpu = sum(v - self._base.get(k, 0.0) for k, v in self._last.items())
            return cpu, self._peak / 2**20
