"""Host sizing, run metadata, the process-tree memory sampler and the\nclean-up of every process a run starts."""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb() -> int:
    """An eighth of the host's memory, within [1, 4] GiB: local mode runs
    the executors inside the driver JVM, and the host is shared."""
    return max(1024, min(4096, mem_total_mb() // 8))


def _spin(seconds: float) -> int:
    end = time.time() + seconds
    x = n = 0
    while time.time() < end:
        for _ in range(10000):
            x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        n += 10000
    return n


def _spin_total(workers: int, seconds: float) -> int:
    """Spin in ``workers`` forked children at once; their total count.
    Plain forks and pipes: a multiprocessing queue would start a
    resource-tracker process that outlives the benchmark.  Call it before
    the process starts any thread."""
    children = []
    for _ in range(workers):
        r, w = os.pipe()
        pid = os.fork()
        if pid == 0:
            try:
                os.close(r)
                os.write(w, str(_spin(seconds)).encode())
            finally:
                os._exit(0)
        os.close(w)
        children.append((pid, r))
    total = 0
    for pid, r in children:
        with os.fdopen(r, "rb") as f:
            total += int(f.read() or 0)
        os.waitpid(pid, 0)
    return total


def available_core_ratio(n: int, seconds: float = 0.3) -> float:
    """spin(n) / (n * spin(1)): the share of the n advertised cores this
    process can use right now (bench.py's contention probe).  Recorded
    as metadata only; no run is ever dropped for it."""
    one = _spin_total(1, seconds)
    return _spin_total(n, seconds) / (n * one) if one else 0.0


def cpu_times() -> list[int]:
    """The host's aggregate CPU time counters from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time between two cpu_times() readings that
    the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return d[7] / total if total else 0.0


def metadata() -> dict:
    n = cores()
    return {
        "nproc": n,
        "mem_total_mb": mem_total_mb(),
        "driver_mem_mb": driver_mem_mb(),
        "loadavg_1m": os.getloadavg()[0],
        "avail_core_ratio": round(available_core_ratio(n), 3),
    }


def _pss(pid: int) -> int:
    """Proportional resident bytes of one process: a page shared by n
    processes counts 1/n in each.  The Python workers are forks of one
    daemon, and a JVM child between fork and exec is a copy of the JVM,
    so summing plain RSS would count their shared pages several times."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    raise ValueError(f"no Pss in /proc/{pid}/smaps_rollup")


def _tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its live
    descendants, plus the descendants they have reaped."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return total / TICK


def _tree_rss(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants, shared pages
    counted once."""
    total = 0
    for pid in _tree(root):
        try:
            total += _pss(pid)
        except (OSError, ValueError):
            pass  # the process ended
    return total


class RssSampler:
    """Peak resident memory of a process and all its descendants (the
    driver JVM and the Python workers), polled from /proc."""

    def __init__(self, pid: int, interval: float = 0.5):
        self.pid, self.interval = pid, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss(self.pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process the parent of any descendant whose own parent
    ends, so that it can reap them all.  The PySpark daemon leaves the
    worker's process group (setpgid) and outlives a killed JVM."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _session_members(sid: int) -> list[int]:
    """The processes of session ``sid``, zombies included."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(fields[3]) == sid:
            out.append(int(name))
    return out


def _reap() -> None:
    """Collect every child of this process that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _kill_until_gone(pids_of, what: str, timeout: float) -> None:
    """SIGKILL the processes ``pids_of()`` names, reap them, and repeat
    until it names none."""
    end = time.time() + timeout
    while True:
        pids = pids_of()
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        _reap()
        if not pids:
            return
        if time.time() > end:
            raise RuntimeError(f"{what} {pids} survive SIGKILL")
        time.sleep(0.05)


def kill_session(sid: int, timeout: float = 30.0) -> None:
    """SIGKILL every process of session ``sid`` and wait until none is
    left.  A worker started with ``start_new_session`` leads its session,
    and the JVM, the PySpark daemon and the Python workers all stay in it
    whatever process group they move to."""
    _kill_until_gone(lambda: _session_members(sid),
                     f"processes of session {sid}", timeout)


def kill_descendants(timeout: float = 30.0) -> None:
    """SIGKILL every descendant of this process and reap them all."""
    me = os.getpid()
    _kill_until_gone(lambda: [pid for pid in _tree(me) if pid != me],
                     "descendants", timeout)
