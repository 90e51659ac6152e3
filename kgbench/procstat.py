"""/proc process-tree sampler: CPU seconds and peak RSS of this process and
every descendant (the Spark JVM, the pyspark daemon and its workers).

A pass's CPU cost is the difference of two ``cpu_seconds()`` readings. Each
live process contributes utime+stime plus cutime+cstime, the time of
children it has already reaped, so a worker that exits during the pass is
still counted once (by its parent) and never twice.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, int] | None:
    """(comm, ppid, cpu ticks incl. reaped children) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is field 3 (state): ppid=4, utime..cstime=14..17
    return comm, int(fields[1]), sum(int(x) for x in fields[11:15])


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcTree:
    """Descendants of ``root`` (default: this process), re-listed per sample."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self.peak_py_workers_kb = 0
        self.peak_jvm_kb = 0

    def _tree(self) -> dict[int, tuple[str, int, int]]:
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    procs[int(name)] = st
        keep = {self.root}
        changed = True
        while changed:
            changed = False
            for pid, (_, ppid, _) in procs.items():
                if ppid in keep and pid not in keep:
                    keep.add(pid)
                    changed = True
        return {pid: procs[pid] for pid in keep if pid in procs}

    def cpu_seconds(self) -> float:
        return sum(t for _, _, t in self._tree().values()) / _TICK

    def sample_memory(self) -> None:
        """Update the peaks: JVM VmHWM, and the summed VmHWM of the pyspark
        workers (python processes whose parent is a python process under
        the JVM, i.e. the daemon's forks)."""
        tree = self._tree()
        jvms = [p for p, (comm, _, _) in tree.items() if comm == "java"]
        self.peak_jvm_kb = max([self.peak_jvm_kb] + [_hwm_kb(p) for p in jvms])
        daemons = {p for p, (comm, ppid, _) in tree.items()
                   if ppid in jvms and comm.startswith("python")}
        workers = [p for p, (comm, ppid, _) in tree.items() if ppid in daemons]
        self.peak_py_workers_kb = max(self.peak_py_workers_kb,
                                      sum(_hwm_kb(p) for p in workers))

    def children_alive(self) -> list[int]:
        return [p for p in self._tree() if p != self.root]
