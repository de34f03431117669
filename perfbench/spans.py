"""Spans around the benchmark's calls into each layer, and the Spark stages
that ran inside them.

A span records its name, its parent, its start and end time, and the range
of Spark stage ids handed out while it was open.  The driver runs one job
at a time, so the stages a span caused are exactly the ids in
``[stage_lo, stage_hi)``; a span's *self* stages exclude those of its child
spans, just as its self time excludes their time.

Spans go only around calls that run Spark actions: a lazy call returns a
plan in microseconds and its cost shows up wherever the plan is forced.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field
from typing import Callable, Iterator, Optional


@dataclass
class Span:
    name: str
    parent: Optional[int]
    start: float
    end: float = 0.0
    stage_lo: int = 0
    stage_hi: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory.  ``next_stage_id`` returns the id the next
    Spark stage will get; it is read at every span boundary."""

    def __init__(self, next_stage_id: Callable[[], int]) -> None:
        self.next_stage_id = next_stage_id
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        parent = self._open[-1] if self._open else None
        idx = len(self.spans)
        s = Span(name, parent, 0.0, stage_lo=self.next_stage_id())
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._open.append(idx)
        s.start = time.perf_counter()
        try:
            yield
        finally:
            s.end = time.perf_counter()
            s.stage_hi = self.next_stage_id()
            self._open.pop()

    def wrap(self, owner, attr: str, name: str) -> Callable[[], None]:
        """Replace ``owner.attr`` with a version that runs inside a span;
        returns the function that puts the original back."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, original)


def no_span(name: str) -> contextlib.nullcontext:
    """The span factory of an untraced iteration."""
    return contextlib.nullcontext()


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds each span name spent outside its child spans, summed over
    every span of that name.  Children of one span never overlap (the
    driver is serial), so the self time is the duration minus the
    children's durations."""
    out: dict[str, float] = {}
    for s in spans:
        own = s.duration - sum(spans[c].duration for c in s.children)
        out[s.name] = out.get(s.name, 0.0) + own
    return out


def span_self_stage_ids(spans: list[Span]) -> list[list[int]]:
    """Stage ids each span caused outside its child spans, by span."""
    out = []
    for s in spans:
        ids = set(range(s.stage_lo, s.stage_hi))
        for c in s.children:
            ids -= set(range(spans[c].stage_lo, spans[c].stage_hi))
        out.append(sorted(ids))
    return out


def self_stage_ids(spans: list[Span]) -> dict[str, list[int]]:
    """Stage ids each span name caused outside its child spans."""
    out: dict[str, list[int]] = {}
    for s, ids in zip(spans, span_self_stage_ids(spans)):
        out.setdefault(s.name, []).extend(ids)
    return out


STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "shuffleReadBytes",
    "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
)


def stage_totals(stages: dict[int, dict], ids: list[int]) -> dict[str, float]:
    """Scheduler metrics summed over the given stage ids.  Ids the status
    store does not hold (skipped or never run) count for nothing."""
    present = [stages[i] for i in ids if i in stages]
    tot = {f: sum(s[f] for s in present) for f in STAGE_FIELDS}
    mb = 1024.0 * 1024.0
    return {
        "stages": len(present),
        "tasks": tot["numTasks"],
        "executor_run_s": tot["executorRunTime"] / 1e3,
        "executor_cpu_s": tot["executorCpuTime"] / 1e9,
        "shuffle_read_mb": tot["shuffleReadBytes"] / mb,
        "shuffle_write_mb": tot["shuffleWriteBytes"] / mb,
        "spill_mb": (tot["memoryBytesSpilled"] + tot["diskBytesSpilled"]) / mb,
    }


class SparkStages:
    """Reads stage and job ids and per-stage metrics from the driver's
    status store (it is kept with ``spark.ui.enabled=false`` too)."""

    def __init__(self, sc) -> None:
        self._jsc = sc._jsc.sc()
        self._gateway = sc._gateway
        self._jvm = sc._jvm

    def next_stage_id(self) -> int:
        return int(self._jsc.dagScheduler().nextStageId())

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def completed(self, lo: int, hi: int) -> dict[int, dict]:
        """Metrics of every completed stage with ``lo <= id < hi`` (latest
        attempt)."""
        ArrayList = self._jvm.java.util.ArrayList
        statuses = ArrayList()
        statuses.add(self._jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE)
        seq = self._jsc.statusStore().stageList(
            statuses, False, False, self._gateway.new_array(self._jvm.double, 0),
            ArrayList(),
        )
        out: dict[int, dict] = {}
        for i in range(seq.size()):
            st = seq.apply(i)
            sid = st.stageId()
            if lo <= sid < hi:
                out[sid] = {f: getattr(st, f)() for f in STAGE_FIELDS}
        return out
