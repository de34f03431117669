"""Summaries of repeated timings, and host counters read from ``/proc``."""

from __future__ import annotations

import os
import statistics
import threading


def summarize(values: list[float]) -> dict:
    """Median, first and third quartile (``statistics.quantiles``, n=4) and
    sample count.  With fewer than two samples the quartiles equal the
    median."""
    if not values:
        raise ValueError("no samples")
    med = statistics.median(values)
    if len(values) < 2:
        return {"median": med, "q1": med, "q3": med, "n": len(values)}
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "n": len(values)}


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat`` (jiffies per state)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two
    ``cpu_times()`` readings (field 8 of the ``cpu`` line)."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return delta[7] / total if total > 0 else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows its closing paren
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_mb(pids: list[int]) -> float:
    """Summed resident memory of ``pids``, each page shared between them
    (a forked worker's copy-on-write pages) counted once: the sum of
    their proportional set sizes."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def heap_peak_mb(jvm) -> float:
    """The Spark JVM's heap high-water mark: the peak bytes used of each
    heap memory pool, summed (an upper bound of the heap in use at any
    one time)."""
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    used = sum(
        p.getPeakUsage().getUsed() for p in pools if p.getType().name() == "HEAP"
    )
    return used / (1024.0 * 1024.0)


class RssSampler:
    """Background thread that samples the summed resident memory of every
    process this one started (the Spark JVM and its Python workers) and
    keeps the high-water mark."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb(descendants(me)))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
