"""Layer counters read from Spark's status store, and the span tracer.

Both observe the program from outside: they diff the Spark application's
``AppStatusStore`` around a call, and the tracer wraps the program's
public functions by name without changing any program file.

The status store is populated even with ``spark.ui.enabled=false``.
Jobs and stages are counted by id range (ids are allocated from one
counter per application), never by list length, and a range with a
missing id means the store's retention limits (``spark.ui.retainedJobs``
/ ``spark.ui.retainedStages``) dropped an entry the count needs: that
raises ``CounterGap`` instead of under-counting.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import asdict, dataclass, field

MB = 1024.0 * 1024.0


class CounterGap(RuntimeError):
    """The status store no longer holds a job or stage a diff needs."""


@dataclass
class Mark:
    job: int  # highest job id seen, -1 before the first job
    stage: int  # highest stage id seen, -1 before the first stage


@dataclass
class Counts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    exec_run_s: float = 0.0


class StatusCounters:
    """Snapshot and diff of the job/stage counters of one SparkContext."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def _drain(self) -> None:
        # job/stage end events reach the store through the listener bus;
        # wait for it so a just-finished action is fully counted.
        self._jsc.listenerBus().waitUntilEmpty()

    def _job(self, job_id: int):
        try:
            return self._store.job(job_id)
        except Exception as exc:  # py4j wraps NoSuchElementException
            raise CounterGap(f"job {job_id} is not in the status store") from exc

    def _stage(self, stage_id: int):
        try:
            return self._store.lastStageAttempt(stage_id)
        except Exception as exc:
            raise CounterGap(f"stage {stage_id} is not in the status store") from exc

    @staticmethod
    def _stage_ids(job) -> list[int]:
        ids = job.stageIds()
        return [ids.apply(i) for i in range(ids.size())]

    def mark(self) -> Mark:
        self._drain()
        # every job, whatever its job group; the list is ordered by job id
        jobs = self._store.jobsList(self._sc._jvm.java.util.ArrayList())
        if jobs.isEmpty():
            return Mark(-1, -1)
        last = max(jobs.head().jobId(), jobs.last().jobId())
        return Mark(last, max(self._stage_ids(self._job(last))))

    def since(self, before: Mark) -> Counts:
        """Counters of every job and stage started after `before`."""
        after = self.mark()
        counts = Counts(jobs=after.job - before.job)
        stage_ids: set[int] = set()
        for job_id in range(before.job + 1, after.job + 1):
            stage_ids.update(
                s for s in self._stage_ids(self._job(job_id)) if s > before.stage
            )
        # a stage id no job lists (a cancelled AQE stage) is still fetched
        # by range, so a retention drop cannot hide behind it
        stage_ids.update(range(before.stage + 1, after.stage + 1))
        for stage_id in sorted(stage_ids):
            st = self._stage(stage_id)
            counts.stages += 1
            counts.tasks += st.numCompleteTasks()
            counts.shuffle_read_mb += st.shuffleReadBytes() / MB
            counts.shuffle_write_mb += st.shuffleWriteBytes() / MB
            counts.exec_run_s += st.executorRunTime() / 1000.0
        return counts


@dataclass
class Span:
    name: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: Counts = field(default_factory=Counts)
    attrs: dict = field(default_factory=dict)

    def to_json(self, index: int) -> dict:
        d = asdict(self)
        d["id"] = index
        d["wall_s"] = self.end - self.start
        return d


class Tracer:
    """Records a span (name, start, end, parent, run id, counters) around
    each traced call; spans stay in memory until `spans_json`.

    `forcing` makes a wrapped call persist and count the DataFrames it
    returns, so lazy work is charged to the layer that declares it.
    Turn it off for calls whose outputs the untraced program never
    computes (a resumed pipeline discards the frames it re-declares).
    """

    def __init__(self, spark, run_id: str):
        self.counters = StatusCounters(spark)
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.forcing = True

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        mark = self.counters.mark()
        span = Span(name, self.run_id, parent, time.monotonic())
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        try:
            yield span
        finally:
            span.end = time.monotonic()
            self._stack.pop()
            span.counts = self.counters.since(mark)

    def wrap(self, name: str, fn):
        """`fn` wrapped in a span named `name`."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
                if self.forcing:
                    out = force(out)
            return out

        return traced

    def spans_json(self) -> list[dict]:
        return [s.to_json(i) for i, s in enumerate(self.spans)]


def force(out):
    """Persist and count every DataFrame in a call's result."""
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame):
        out = out.persist()
        out.count()
        return out
    if isinstance(out, tuple):
        return tuple(force(o) for o in out)
    return out
