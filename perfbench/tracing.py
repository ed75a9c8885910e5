"""Spans around the benchmark's calls into the package, measured from
outside, plus Spark job/stage/task counts per operation.

A span has a name, a layer, start and end (``perf_counter`` seconds), a
parent span and an operation id.  Spans stay in memory and are written once
when the run ends.  A layer's self time is the time of its spans minus the
time of their child spans, so nested calls are not counted twice.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    op: str | None
    parent: int | None
    start: float
    end: float

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 1

    @contextmanager
    def span(self, layer: str, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=self._next,
            name=name,
            layer=layer,
            op=op if op is not None else (parent.op if parent else None),
            parent=parent.id if parent else None,
            start=time.perf_counter(),
            end=0.0,
        )
        self._next += 1
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per layer spent in that layer's own spans, children excluded."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] += s.dur
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += s.dur - child_time[s.id]
    return dict(out)


class ExecCounter:
    """Jobs, stages and tasks launched under a job group, read from the
    driver's status store after the fact.  Groups are matched by prefix
    because ``run_one_query`` appends a random suffix to the name it is
    given."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._seen: set[int] = set()
        self.by_group: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0])

    def harvest(self) -> None:
        """Fold every finished job not yet seen into ``by_group``.  The
        store keeps only the last ``spark.ui.retainedJobs`` jobs, so call
        this at least once per pass."""
        time.sleep(0.2)  # the listener bus delivers job ends asynchronously
        it = self._sc._jsc.sc().statusStore().jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            jid = j.jobId()
            if jid in self._seen or str(j.status()) == "RUNNING":
                continue
            self._seen.add(jid)
            grp = j.jobGroup()
            if grp.isEmpty():
                continue
            c = self.by_group[grp.get()]
            c[0] += 1
            c[1] += j.numCompletedStages()
            c[2] += j.numCompletedTasks()

    def for_prefix(self, prefix: str) -> tuple[int, int, int]:
        jobs = stages = tasks = 0
        for grp, (j, s, t) in self.by_group.items():
            if grp.startswith(prefix):
                jobs, stages, tasks = jobs + j, stages + s, tasks + t
        return jobs, stages, tasks


@contextmanager
def job_group(spark, gid: str):
    sc = spark.sparkContext
    sc.setJobGroup(gid, gid, interruptOnCancel=False)
    try:
        yield
    finally:
        sc.setJobGroup("", "", interruptOnCancel=False)
