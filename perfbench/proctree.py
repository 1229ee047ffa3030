"""Process-tree CPU and worker-memory sampling from ``/proc``.

The benchmark's process tree is its own Python process, the JVM it launches,
the PySpark daemon the JVM starts and the Python workers the daemon
forks. CPU of the tree is the sum of ``utime + stime + cutime +
cstime`` over every live member: a child that exited and was reaped by
a parent inside the tree has its whole CPU time folded into that
parent's ``cutime``/``cstime``, so a delta between two readings counts
short-lived workers too.

Worker memory is ``VmHWM`` (peak resident set) of the PySpark daemon
and its forked workers only; the JVM is left out on purpose, since its
resident size follows the heap's GC ergonomics rather than the work.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
WORKER_MARKERS = (b"pyspark.daemon", b"pyspark.worker")


def _read_stat(proc: str, pid: int) -> tuple[int, int] | None:
    """(ppid, utime+stime+cutime+cstime ticks), or None if gone."""
    try:
        with open(f"{proc}/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) is parenthesised and may hold spaces or ')'
    fields = raw[raw.rindex(b")") + 2 :].split()
    # fields[0] is state (stat field 3); utime..cstime are fields 14-17
    return int(fields[1]), sum(int(x) for x in fields[11:15])


class ProcTree:
    """Read-only view of the process tree under ``root``.

    ``proc`` is the procfs mount; tests point it at a fabricated tree.
    """

    def __init__(self, root: int | None = None, proc: str = "/proc"):
        self.root = os.getpid() if root is None else root
        self.proc = proc

    def _stats(self) -> dict[int, tuple[int, int]]:
        out = {}
        for name in os.listdir(self.proc):
            if name.isdigit():
                st = _read_stat(self.proc, int(name))
                if st is not None:
                    out[int(name)] = st
        return out

    def members(self) -> dict[int, int]:
        """{pid: cpu ticks} for root and all its descendants."""
        stats = self._stats()
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats and pid not in out:
                out[pid] = stats[pid][1]
                todo.extend(children.get(pid, ()))
        return out

    def cpu_seconds(self) -> float:
        """CPU consumed so far by the tree, reaped children included."""
        return sum(self.members().values()) / _CLK_TCK

    def _cmdline(self, pid: int) -> bytes:
        try:
            with open(f"{self.proc}/{pid}/cmdline", "rb") as f:
                return f.read()
        except OSError:
            return b""

    def worker_pids(self) -> list[int]:
        return [
            pid
            for pid in self.members()
            if any(m in self._cmdline(pid) for m in WORKER_MARKERS)
        ]

    def hwm_kb(self, pid: int) -> int:
        try:
            with open(f"{self.proc}/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def reset_worker_hwm(self) -> None:
        """Restart each live worker's VmHWM from its current RSS (the
        kernel's ``clear_refs`` value 5), so a later peak reflects only
        what ran after this call."""
        for pid in self.worker_pids():
            try:
                with open(f"{self.proc}/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass


class WorkerPeakSampler:
    """Background thread keeping the highest worker VmHWM seen since the
    last ``restart``.

    Workers are reused across tasks, so their own high-water marks carry
    the peak between samples; sampling only has to catch workers before
    they exit. Use as a context manager around the measured region and
    call ``restart`` where each measured piece begins.
    """

    def __init__(self, tree: ProcTree, interval_s: float = 0.5):
        self.tree = tree
        self.interval_s = interval_s
        self.peak_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        with self._lock:
            for pid in self.tree.worker_pids():
                self.peak_kb = max(self.peak_kb, self.tree.hwm_kb(pid))

    def restart(self) -> None:
        """Forget the peak so far: the next one counts only what runs
        after this call."""
        with self._lock:
            self.tree.reset_worker_hwm()
            self.peak_kb = 0

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "WorkerPeakSampler":
        self.restart()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
