"""In-memory spans recorded around calls into the package, from outside it.

A traced op forces each layer's DataFrame with a ``noop`` sink in pipeline
order, so each span measures a *prefix* of the plan. A span may name the
span of the previous prefix as its ``base``; the layer's self time is its
prefix time minus the base's. It is negative when the later plan lets
Catalyst skip work the base had to do (a pushed-down filter, a pruned
column). The package itself carries no tracing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    base: int | None
    op: int | None
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str, base: Span | None = None) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans), name=name, parent=parent,
            base=None if base is None else base.id, op=self.op,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_time(self, s: Span) -> float:
        return s.dur - (self.spans[s.base].dur if s.base is not None else 0.0)

    def op_totals(self, op: int) -> dict[str, float]:
        """Self times (``<name>_s``) and counts of the layer spans nested under
        op ``op``'s top-level span, summed by name."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s.op != op or s.parent is None:
                continue
            out[f"{s.name}_s"] = out.get(f"{s.name}_s", 0.0) + self.self_time(s)
            for k, v in s.counts.items():
                out[k] = out.get(k, 0.0) + v
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def force(df: DataFrame, **aggs: Column) -> dict[str, float]:
    """Run the whole plan of ``df``, discard the rows and return its row
    count ``n`` plus any extra aggregates, all observed in the same pass
    (so every prefix pays the same observation cost)."""
    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("n"), *(c.alias(k) for k, c in aggs.items()))
    observed.write.format("noop").mode("overwrite").save()
    return dict(obs.get)


def job_counts(sc: SparkContext, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) that ran under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return jobs, stages, tasks
