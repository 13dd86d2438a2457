"""Host facts and resource sampling read from /proc."""

from __future__ import annotations

import array
import os
import platform
import statistics
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")


def process_start_monotonic() -> float:
    """``time.monotonic()`` reading at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.monotonic() - (uptime - start_ticks / _HZ)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # process ended while we listed it
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def peak_resident_bytes(pid: int) -> int:
    """The kernel's high-water mark of ``pid``'s resident set (VmHWM);
    0 when the process has ended."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass  # process ended while we read it
    return 0


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and its descendants, children
    that already ended and were reaped included. Time stolen by the
    hypervisor is not in it."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                # utime stime cutime cstime: fields 14-17 of stat(5)
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, ValueError, IndexError):
            continue  # process ended while we read it
    return ticks / _HZ


#: thread-name prefixes of HotSpot's JIT compiler threads, as the kernel
#: truncates them (15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_cpu_s(root: int) -> float:
    """CPU seconds used so far by the JIT compiler threads of the JVMs
    under ``root``. The JVM must keep those threads alive
    (``-XX:-UseDynamicNumberOfCompilerThreads``), or the time of one
    that ended is lost here while it stays in ``tree_cpu_s``."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue  # process ended while we listed it
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            name = stat[stat.index("(") + 1 : stat.rindex(")")]
            if name.startswith(JIT_THREADS):
                ticks += sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:13])
    return ticks / _HZ


_CAL_KEYS = [f"k{(i * 2654435761) % 1000003}" for i in range(4000)]
_CAL_TABLE_LEN = 4 * 2**20  # 32 MB of int64, past the caches a core gets
_CAL_INDEX = [(i * 2654435761) % _CAL_TABLE_LEN for i in range(20000)]


def calibration_unit_s(table: array.array) -> float:
    """CPU seconds this thread takes for a fixed piece of work: a dict
    build and two sorts (interpreter-bound) and 20k scattered reads of
    ``table`` (memory-bound)."""
    t0 = time.thread_time()
    rank = {k: i for i, k in enumerate(_CAL_KEYS)}
    sorted(_CAL_KEYS, key=rank.__getitem__)
    sorted(_CAL_KEYS)
    total = 0
    for i in _CAL_INDEX:
        total += table[i]
    return time.thread_time() - t0


class SpeedSampler:
    """Times the calibration unit every ``interval_s`` on a background
    thread while an iteration runs. Co-tenants that share the host's
    cores and caches slow the unit down as they slow the benchmark's
    own threads, so the median unit time tracks the host's speed over
    the iteration. (The benchmark's own threads slow it too, by about
    the same from one run of the same code to the next.) ``cpu_s`` is
    the sampler's own CPU time, to be taken out of the iteration's.

    ``unit_s`` is the mean, not the median: a vCPU runs the unit about
    twice as fast while its SMT sibling is idle as while it is busy, so
    the timings fall in two clusters whose median jumps from one to the
    other, while their mean follows the share of time spent in each."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.table = array.array("q", bytes(8 * _CAL_TABLE_LEN))
        self.samples: list[float] = []
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="speed-sampler", daemon=True)

    def _run(self) -> None:
        t0 = time.thread_time()
        tid = threading.get_native_id()
        cpus = sorted(os.sched_getaffinity(0))
        k = 0
        while not self._stop.wait(self.interval_s):
            # one vCPU after another, as the benchmark's threads spread over all of them
            os.sched_setaffinity(tid, {cpus[k % len(cpus)]})
            k += 1
            self.samples.append(calibration_unit_s(self.table))
        self.cpu_s = time.thread_time() - t0

    def __enter__(self) -> "SpeedSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def unit_s(self) -> float:
        return statistics.fmean(self.samples) if self.samples else calibration_unit_s(self.table)


class RssSampler:
    """Peak resident memory of this process and all of its descendants
    (JVM, Python workers): a background thread lists the tree and keeps
    each process's kernel high-water mark, so a short spike between two
    samples is not missed. The peak is the sum of the per-process
    peaks, an upper bound of any one moment's total."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.hwm: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            for pid in tree_pids(root):
                self.hwm[pid] = max(self.hwm.get(pid, 0), peak_resident_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return sum(self.hwm.values()) / 2**20


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user/nice
    return sum(fields[:8]), fields[7]


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def host_record() -> dict:
    import pandas
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "cores": len(os.sched_getaffinity(0)),
        "ram_mb": round(mem_kb / 1024),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
    }
