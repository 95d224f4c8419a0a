"""CPU and memory of a process tree: CPU and the Python processes'
memory read from /proc (psutil is not needed), the JVM's heap in use read
from the JVM itself.

A process's CPU is ``utime + stime`` plus ``cutime + cstime``, the time of
children it has already reaped. Summing both over the live tree counts
every process once: a child that exits moves its time into its parent's
``cutime``. Processes are grouped by role: the root (this Python driver),
the JVM (``java``), and everything else below the root, which under
pyspark is the Python worker daemon and its forked workers.

The JVM's JIT compiler threads are split out as their own role, ``jit``:
in a run of a few minutes HotSpot is still compiling, and that compile
time is a warm-up cost a long-lived executor amortises, not a cost of the
docs in a pass. It is measured, and left out of ``total``. Per-thread
subtraction needs the compiler threads to live as long as the JVM: start
it with ``-XX:-UseDynamicNumberOfCompilerThreads``.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
ROLES = ("driver", "jvm", "workers")
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _read_stat(pid: int) -> tuple[int, str, int, int] | None:
    """(ppid, comm, cpu ticks incl. reaped children, rss pages), or None
    when the process has gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm is parenthesised and may hold spaces: split at the last ')'
    head, _, tail = raw.rpartition(")")
    comm = head.partition("(")[2]
    fields = tail.split()
    # fields[0] is the state (stat field 3); utime is stat field 14
    ppid = int(fields[1])
    ticks = int(fields[11]) + int(fields[12]) + int(fields[13]) + int(fields[14])
    return ppid, comm, ticks, int(fields[21])


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JIT compiler threads of JVM `pid`."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue
        head, _, tail = raw.rpartition(")")
        if head.partition("(")[2].startswith(JIT_THREADS):
            fields = tail.split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def tree(root: int | None = None) -> dict[int, tuple[str, int, int]]:
    """{pid: (role, cpu ticks, rss pages)} for `root` and its descendants."""
    root = os.getpid() if root is None else root
    procs: dict[int, tuple[int, str, int, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, tuple[str, int, int]] = {}
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid not in procs:
            continue
        _ppid, comm, ticks, rss = procs[pid]
        role = "driver" if pid == root else ("jvm" if comm == "java" else "workers")
        out[pid] = (role, ticks, rss)
        stack.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int | None = None) -> dict[str, float]:
    """CPU-seconds used so far by the tree, per role, by the JVM's JIT
    compiler threads (``jit``, not in ``jvm``), and in ``total`` (every
    role but ``jit``)."""
    by_role = dict.fromkeys(ROLES, 0)
    jit = 0
    for pid, (role, ticks, _rss) in tree(root).items():
        if role == "jvm":
            j = _jit_ticks(pid)
            jit += j
            ticks -= j
        by_role[role] += ticks
    out = {r: t / CLK_TCK for r, t in by_role.items()}
    out["jit"] = jit / CLK_TCK
    out["total"] = sum(by_role.values()) / CLK_TCK
    return out


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in after}


def _pss_bytes(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def resident_by_role(root: int | None = None) -> dict[str, int]:
    """Resident bytes of the tree per role, and process counts. Each
    process counts its proportional set size (PSS): pages it shares, such
    as those a forked Python worker shares with its daemon, are split
    among the sharers instead of counted once per process. Falls back to
    RSS where smaps_rollup is unavailable."""
    out = dict.fromkeys(ROLES, 0)
    for pid, (role, _ticks, rss) in tree(root).items():
        pss = _pss_bytes(pid)
        out[role] += rss * PAGE if pss is None else pss
        out[f"n_{role}"] = out.get(f"n_{role}", 0) + 1
    return out


class PeakRss:
    """Samples the summed resident memory (see resident_by_role) of the
    tree's processes in `roles` on a background thread between ``start()``
    and ``stop()``; ``stop()`` returns the peak in bytes."""

    def __init__(
        self, interval_s: float = 0.5, root: int | None = None, roles: tuple[str, ...] = ROLES
    ):
        self._interval = interval_s
        self._root = root
        self._roles = roles
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak = 0
        self.at_peak: dict[str, int] = {}

    def _sample(self) -> None:
        by_role = resident_by_role(self._root)
        total = sum(by_role[r] for r in self._roles)
        if total > self.peak:
            self.peak, self.at_peak = total, by_role

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self._interval):
                return

    def start(self) -> PeakRss:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self._sample()
        return self.peak


class JvmHeap:
    """The JVM's heap in use over one pass, read through the py4j gateway.

    Counts the pools that hold what outlives a young collection (the old
    generation and the survivor spaces), not eden: eden's fill level says
    when the next young collection comes, not what a pass keeps. Persisted
    stages, broadcast tables and large (humongous) buffers all land in the
    old generation. ``reset()`` collects the heap (System.gc) and resets
    the pools' peak counters, so every pass starts from the same live set;
    ``peak()`` is the sum of the pools' peaks since then, in bytes.
    """

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._system = jvm.java.lang.System
        self._pools = [
            p
            for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
            if p.getType().name() == "HEAP" and "Eden" not in p.getName()
        ]

    def reset(self) -> None:
        self._system.gc()
        for p in self._pools:
            p.resetPeakUsage()

    def peak(self) -> int:
        return sum(p.getPeakUsage().getUsed() for p in self._pools)
