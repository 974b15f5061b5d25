"""Spans around engine calls, attributed to Spark jobs and stages.

Each span gets its own Spark job group, so a call's jobs never mix with an
earlier call's. The engine also launches jobs from its own helper threads,
which do not inherit the group; a job with no group that was submitted
inside a span's interval is attributed to that span too. That is exact
here because the benchmark is a single closed-loop client: no other call is
in flight.

Spans are kept in memory. `resolve` reads the status store once, after the
listener bus has caught up, outside every timed region.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Spark's listener bus delivers job and stage events asynchronously.
LISTENER_LAG_S = 1.5


@dataclass
class Span:
    layer: str
    group: str
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    job_cover_s: float = 0.0  # union of the jobs' submission→completion

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def driver_s(self) -> float:
        return max(0.0, self.wall_s - self.job_cover_s)


def _opt(o):
    """Scala Option -> value or None."""
    return o.get() if o.isDefined() else None


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Records spans when enabled; a no-op context otherwise (the default,
    which needs no session)."""

    def __init__(self, spark=None, enabled: bool = False):
        self.sc = spark.sparkContext if enabled else None
        self.enabled = enabled
        self.spans: list[Span] = []
        self.evicted_jobs = 0
        self.overhead_s = 0.0  # time spent setting and clearing job groups
        self._ids = itertools.count()

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        sp = Span(layer, f"perfbench-{next(self._ids)}", time.time())
        self.sc.setJobGroup(sp.group, layer)
        self.overhead_s += time.perf_counter() - t
        try:
            yield sp
        finally:
            sp.end = time.time()
            t = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t
            self.spans.append(sp)

    def resolve(self) -> None:
        """Attach jobs and stage metrics to every recorded span."""
        if not self.spans:
            return
        time.sleep(LISTENER_LAG_S)
        store = self.sc._jsc.sc().statusStore()
        by_group: dict[str, list[int]] = {}
        ungrouped: list[tuple[int, float]] = []
        jobs = {}
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            jid = int(j.jobId())
            sub = _opt(j.submissionTime())
            done = _opt(j.completionTime())
            if sub is None:
                continue
            t0 = sub.getTime() / 1000.0
            t1 = done.getTime() / 1000.0 if done is not None else t0
            stage_ids = [int(x) for x in j.stageIds().toList().mkString(",").split(",") if x]
            jobs[jid] = (t0, t1, stage_ids)
            g = _opt(j.jobGroup())
            if g is None:
                ungrouped.append((jid, t0))
            else:
                by_group.setdefault(g, []).append(jid)
        # job ids are dense from 0: any id missing from the store was evicted
        self.evicted_jobs = (max(jobs) + 1 - len(jobs)) if jobs else 0
        for sp in self.spans:
            ids = set(by_group.get(sp.group, []))
            ids.update(j for j, t0 in ungrouped if sp.start <= t0 <= sp.end)
            sp.jobs = sorted(ids)
            sp.job_cover_s = _union_len([jobs[j][:2] for j in sp.jobs])
            for jid in sp.jobs:
                for sid in jobs[jid][2]:
                    self._add_stage(store, sp, sid)

    def _add_stage(self, store, sp: Span, sid: int) -> None:
        from py4j.protocol import Py4JJavaError

        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:
            return  # skipped stage (its shuffle output was reused)
        if str(st.status()) == "SKIPPED":
            return
        sp.executor_run_s += st.executorRunTime() / 1000.0
        sp.executor_cpu_s += st.executorCpuTime() / 1e9
        sp.shuffle_write_mb += st.shuffleWriteBytes() / 1e6

    def by_layer(self, layer: str) -> list[Span]:
        return [s for s in self.spans if s.layer == layer]
