"""Process-tree accounting read straight from ``/proc`` (psutil is not
available): memory and CPU time of the driver Python process, the JVM it
launches and the JVM's Python workers.

Memory is the proportional set size (PSS): resident pages, with each page
shared between processes divided among them. The pyspark daemon forks its
workers, and a just-forked worker shares all of its pages with the daemon;
summed RSS would count those pages twice and jump with every fork.

CPU time of a process that has already exited is not lost: once its parent
reaps it, the kernel adds it to the parent's ``cutime``/``cstime``, so the
tree total sums utime + stime + cutime + cstime over the live processes.
"""

from __future__ import annotations

import contextlib
import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int):
    """(comm, ppid, cpu_ticks incl. reaped children) or None."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii",
                  errors="replace") as f:
            data = f.read()
    except OSError:          # exited between listdir and open
        return None
    lp, rp = data.index("("), data.rindex(")")
    rest = data[rp + 2:].split()
    # rest[i] is field i + 3 of proc(5): ppid=4, utime..cstime=14..17
    return data[lp + 1:rp], int(rest[1]), sum(int(x) for x in rest[11:15])


def pss_bytes(pid: int) -> int:
    """Proportional set size of ``pid`` (0 once it has exited)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree(root: int) -> list:
    """[(pid, role, cpu_ticks)] for ``root`` and its descendants.
    role: 'driver' (root), 'jvm' (a java process), 'workers' (any process
    below a JVM: the pyspark daemon and its forked workers) or 'other'."""
    stats = {}
    children: dict = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(st[1], []).append(int(name))
    if root not in stats:
        return []
    out = []
    stack = [(root, "driver")]
    while stack:
        pid, role = stack.pop()
        comm, _, ticks = stats[pid]
        if pid != root:
            role = "jvm" if comm == "java" else role
        out.append((pid, role, ticks))
        below = "workers" if role in ("jvm", "workers") else "other"
        stack.extend((c, below) for c in children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """CPU seconds used so far by ``root``'s tree, reaped children included."""
    return sum(t for _, _, t in tree(root)) / _TICK


class Sampler:
    """One background thread that samples the tree's PSS while a window is
    open (``with sampler.window(): ...``) and keeps the peaks, in bytes, of
    the whole tree, the JVM and the summed Python workers."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak = {"total": 0, "jvm": 0, "workers": 0}
        self._lock = threading.Lock()
        self._open = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._open.set()
        self._thread.join(timeout=5)

    @contextlib.contextmanager
    def window(self):
        self._open.set()
        try:
            yield
        finally:
            self._open.clear()
            self.sample()     # the last state of the window counts too

    def sample(self) -> None:
        sums = {"total": 0, "jvm": 0, "workers": 0}
        for pid, role, _ in tree(self.root):
            pss = pss_bytes(pid)
            sums["total"] += pss
            if role in sums:
                sums[role] += pss
        with self._lock:     # the window's closing sample races the thread
            for k, v in sums.items():
                self.peak[k] = max(self.peak[k], v)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._open.wait()
            if self._stop.is_set():
                return
            self.sample()
            self._stop.wait(self.interval_s)
