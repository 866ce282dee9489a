"""Process-tree CPU/RSS and host noise probes read from /proc."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int, exclude: frozenset[int] = frozenset()) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in exclude:
            continue
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _pss(p: int) -> int:
    with open(f"/proc/{p}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_usage(root: int, exclude: frozenset[int] = frozenset(), memory: bool = False) -> tuple[float, int]:
    """(user+system CPU seconds incl. reaped children, memory bytes) of
    the process tree under ``root``, skipping the subtrees in
    ``exclude``. Memory is proportional set size, so the pages forked
    Python workers share with their daemon count once; the JVM shares
    nothing and its smaps walk is slow, so it counts its RSS."""
    cpu, mem = 0, 0
    for p in tree_pids(root, exclude):
        try:
            with open(f"/proc/{p}/stat") as f:
                comm, rest = f.read().rsplit(")", 1)
            # utime stime cutime cstime = fields 14..17 of stat(5)
            cpu += sum(int(x) for x in rest.split()[11:15])
            if not memory:
                continue
            if comm.endswith("(java"):
                with open(f"/proc/{p}/statm") as f:
                    mem += int(f.read().split()[1]) * _PAGE
            else:
                mem += _pss(p)
        except (OSError, IndexError, ValueError):
            continue
    return cpu / _TICK, mem


def host_cpu() -> tuple[int, int]:
    """(steal ticks, total ticks) of the whole host since boot."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


class Sampler:
    """Background sampler of the tree's peak memory, host steal share
    and load."""

    def __init__(self, root: int, exclude: frozenset[int] = frozenset(), period: float = 0.5):
        self.root, self.exclude, self.period = root, exclude, period
        self.peak_mem = 0
        self.loads: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mem = max(self.peak_mem, tree_usage(self.root, self.exclude, memory=True)[1])
            with open("/proc/loadavg") as f:
                self.loads.append(float(f.read().split()[0]))
            self._stop.wait(self.period)

    def __enter__(self) -> "Sampler":
        self._steal0 = host_cpu()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        s1, t1 = host_cpu()
        s0, t0 = self._steal0
        self.steal_frac = (s1 - s0) / max(1, t1 - t0)
        self.load1 = sum(self.loads) / max(1, len(self.loads))


def du_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.lstat(os.path.join(d, fn)).st_size
            except OSError:
                pass
    return total
