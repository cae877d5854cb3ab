"""Host sizing, host record and peak-RSS sampling.

The program's own session defaults (``local[32]``, a pinned 32g heap)
cannot start on a small host, so the benchmark sizes the launch from
the host it finds and passes the result through the program's existing
environment variables (``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_HEAP_PIN``).
"""

from __future__ import annotations

import os
import threading
import time

HEAP_SHARE = 0.25  # of MemAvailable at start
HEAP_CAP_MB = 4096
HEAP_FLOOR_MB = 1024


def _meminfo() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            out[key] = int(rest.split()[0])  # kB
    return out


def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return sum(fields[:8]), steal


def host_record(window_s: float = 0.25) -> dict:
    """nproc, MemAvailable, load and steal % over a short window."""
    t0, s0 = _cpu_ticks()
    time.sleep(window_s)
    t1, s1 = _cpu_ticks()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_available_mb": _meminfo()["MemAvailable"] // 1024,
        "load_1m": os.getloadavg()[0],
        "steal_pct": 100.0 * (s1 - s0) / max(t1 - t0, 1),
    }


def size_launch(cpus: int | None = None) -> dict[str, str]:
    """Environment for the program's session factory, sized to this host.

    Cores come from the CPU affinity mask, the heap from a capped share
    of MemAvailable; the heap is never pinned (``SPARK_GRAFT_HEAP_PIN=0``)
    so the JVM does not pre-touch memory the host may not have."""
    ncpu = cpus or len(os.sched_getaffinity(0))
    avail_mb = _meminfo()["MemAvailable"] // 1024
    # whole 512 MB steps, so small swings in MemAvailable keep the heap
    heap_mb = max(HEAP_FLOOR_MB, min(HEAP_CAP_MB, int(avail_mb * HEAP_SHARE) // 512 * 512))
    return {
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_GRAFT_HEAP_PIN": "0",
        "heap": f"{heap_mb}m",
    }


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, ()):
            out.append(c)
            todo.append(c)
    return out


def _is_python(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")).startswith("python")
    except OSError:
        return False


class RssSampler:
    """Peak RSS of the driver JVM plus its Python workers.

    The JVM's own peak is its VmHWM, read at the end. Python workers come
    and go, so their summed RSS is sampled on a timer and the largest sum
    is kept."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.25) -> None:
        self._jvm = jvm_pid
        self._interval = interval_s
        self._workers_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        # Python workers only: a process the JVM is spawning shares the
        # JVM's pages until it execs, and would count them twice
        kb = sum(_status_kb(p, "VmRSS") for p in descendants(self._jvm)
                 if _is_python(p))
        self._workers_peak_kb = max(self._workers_peak_kb, kb)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> dict[str, float]:
        """Stop sampling; return the peaks in MB (``total`` is the metric)."""
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        jvm_kb = _status_kb(self._jvm, "VmHWM")
        return {
            "jvm_mb": jvm_kb / 1024.0,
            "workers_mb": self._workers_peak_kb / 1024.0,
            "total": (jvm_kb + self._workers_peak_kb) / 1024.0,
        }


class StderrWatch:
    """Route this process's stderr, and that of every child started while
    it is open (the JVM included), through a pipe that forwards each line
    and counts uncaught exceptions in streaming threads, which the JVM
    reports only there."""

    PATTERN = b'Exception in thread "stream execution thread'

    def __init__(self) -> None:
        self.lines: list[str] = []
        self._saved = os.dup(2)
        r, w = os.pipe()
        os.dup2(w, 2)
        os.close(w)
        self._r = r
        self._thread = threading.Thread(target=self._pump, daemon=True)
        self._thread.start()

    def _pump(self) -> None:
        with os.fdopen(self._r, "rb") as f:
            for line in f:
                os.write(self._saved, line)
                if self.PATTERN in line:
                    self.lines.append(line.decode(errors="replace").strip())

    def close(self) -> None:
        """Restore stderr; wait briefly for children to release the pipe."""
        import sys

        sys.stderr.flush()
        os.dup2(self._saved, 2)
        self._thread.join(timeout=10)
