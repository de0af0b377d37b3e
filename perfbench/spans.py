"""Traced-run plumbing: an in-memory span recorder and Spark task metrics.

Spans are recorded from the benchmark's own files only: around each
public engine call, and around each pipeline stage through the public
``on_stage_start(stage)`` hook. A stage span runs from its hook call to
the next hook call, or to the return of ``DedupPipeline.run``.

Spark jobs are attributed to whichever span was open when they ran: at
each span boundary the benchmark diffs the job ids of the job group
(``statusTracker().getJobIdsForGroup``). Per-stage task metrics come
from Spark's status store, which is kept with the UI off.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    trace_id: int = 0
    jobs: list[int] = field(default_factory=list)
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class SpanRecorder:
    """Spans kept in memory and written out once, at the end of the run.

    ``job_ids`` returns every Spark job id of the tracked job groups so
    far; the jobs that appear between a span's open and close belong to
    it (or to its open child, which closes first)."""

    def __init__(self, job_ids=None):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._job_ids = job_ids
        self._seen: set[int] = set(job_ids()) if job_ids else set()
        self.trace_id = 0

    def _claim_jobs(self) -> list[int]:
        if self._job_ids is None:
            return []
        now = set(self._job_ids())
        new = sorted(now - self._seen)
        self._seen |= now
        return new

    def open(self, name: str) -> int:
        if self._stack:
            self.spans[self._stack[-1]].jobs += self._claim_jobs()
        else:
            self._claim_jobs()  # jobs outside every span stay unattributed
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            Span(name, time.monotonic(), parent=parent, trace_id=self.trace_id)
        )
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> Span:
        if self._stack[-1] != idx:
            raise RuntimeError("spans must close innermost first")
        span = self.spans[idx]
        span.jobs += self._claim_jobs()
        span.end = time.monotonic()
        self._stack.pop()
        return span

    @contextmanager
    def span(self, name: str):
        idx = self.open(name)
        try:
            yield self.spans[idx]
        finally:
            self.close(idx)

    def stage_hook(self, prefix: str):
        """An ``on_stage_start`` callback that closes the previous stage
        span and opens the next one; ``finish_stages`` closes the last."""
        state = {"idx": None}

        def hook(stage: str) -> None:
            if state["idx"] is not None:
                self.close(state["idx"])
            state["idx"] = self.open(f"{prefix}{stage}")

        def finish() -> None:
            if state["idx"] is not None:
                self.close(state["idx"])
                state["idx"] = None

        return hook, finish

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Span duration minus the part its children cover (children are
        sequential, so their durations add)."""
        return self.spans[idx].duration - sum(c.duration for c in self.children(idx))

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


@dataclass
class TaskTotals:
    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    task_skew: float = 0.0  # max/median task time of the heaviest stage


class SparkTaskMetrics:
    """Reads per-stage task metrics of finished jobs from the status store."""

    _MB = 1024.0 * 1024.0

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        self._empty = self.sc._jvm.java.util.ArrayList()

    def for_jobs(self, job_ids: list[int]) -> TaskTotals:
        out = TaskTotals(jobs=len(job_ids))
        heaviest = -1.0
        tracker = self.sc.statusTracker()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                seq = self._store.stageData(
                    sid, False, self._empty, False, self._no_quantiles
                )
                for k in range(seq.size()):
                    sd = seq.apply(k)
                    if str(sd.status()) != "COMPLETE":
                        continue  # skipped: its output was reused
                    run_s = sd.executorRunTime() / 1000.0
                    out.tasks += sd.numCompleteTasks()
                    out.run_s += run_s
                    out.cpu_s += sd.executorCpuTime() / 1e9
                    out.shuffle_read_mb += sd.shuffleReadBytes() / self._MB
                    out.shuffle_write_mb += sd.shuffleWriteBytes() / self._MB
                    out.spill_mb += (
                        sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    ) / self._MB
                    if run_s > heaviest:
                        heaviest = run_s
                        out.task_skew = self._skew(sid, sd.attemptId())
        return out

    def _skew(self, stage_id: int, attempt: int) -> float:
        summ = self._store.taskSummary(stage_id, attempt, self._quantiles)
        if not summ.isDefined():
            return 0.0
        rt = summ.get().executorRunTime()
        med, mx = rt.apply(0), rt.apply(1)
        return mx / med if med > 0 else 1.0


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0
