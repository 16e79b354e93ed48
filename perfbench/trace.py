"""Spans and Spark counters recorded from outside the program.

``Spans`` times every call the benchmark makes into the program, in both
modes; it costs two clock reads per call. ``SparkCounters`` is used only in
traced runs: it gives each timed call its own job group and, as soon as the
call returns, reads the call's jobs, stages, tasks, shuffle bytes and spill
from Spark's status tracker and status store. It never re-plans a query and
never changes a session setting.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    run_id: str = ""

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Spans:
    """In-memory span recorder; ``dump`` writes them out when the run ends."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, parent, time.perf_counter(), run_id=self.run_id)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_seconds_by_layer(self, roots: list[Span]) -> dict[str, float]:
        """A span's self time is its duration minus its children's; summed
        per layer over the subtrees under ``roots``."""
        keep = {r.id for r in roots}
        for s in self.spans:
            if s.parent in keep:
                keep.add(s.id)
        out: dict[str, float] = {}
        for s in self.spans:
            if s.id in keep:
                own = s.seconds - sum(c.seconds for c in self.children(s))
                out[s.layer] = out.get(s.layer, 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


@dataclass
class CallCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    first_job_s: float = 0.0

    def add(self, other: "CallCounters") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.tasks += other.tasks
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes


class SparkCounters:
    """Job-group bracketing of one call at a time (traced runs only)."""

    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.run_id = run_id
        self._n = 0

    @contextmanager
    def group(self, name: str):
        """Run the body under a fresh job group; yields a ``CallCounters``
        that is filled in after the body returns."""
        self._n += 1
        gid = f"{self.run_id}-{self._n}"
        out = CallCounters()
        self.sc.setJobGroup(gid, name)
        try:
            yield out
        finally:
            self.sc._jsc.clearJobGroup()
        self.drain()
        out.add(self._read(gid))
        out.first_job_s = self._first_job_s(gid)

    def drain(self) -> None:
        """Wait until the status listeners have seen every event posted so
        far, so the call's last job and stage are in the status store."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _job_ids(self, gid: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(gid))

    def _read(self, gid: str) -> CallCounters:
        c = CallCounters()
        store = self._jsc.statusStore()
        stage_ids = set()
        for j in self._job_ids(gid):
            info = self.sc.statusTracker().getJobInfo(j)
            if info is None:
                continue
            c.jobs += 1
            stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # a skipped stage that never ran, or one the store let go
            if st.status().toString() == "SKIPPED":
                continue
            c.stages += 1
            c.tasks += st.numTasks()
            c.shuffle_write_bytes += st.shuffleWriteBytes()
            c.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return c

    def _first_job_s(self, gid: str) -> float:
        """Duration of the group's first job: for a range sort this is the
        RangePartitioner's sampling job, which runs before the exchange."""
        ids = self._job_ids(gid)
        if not ids:
            return 0.0
        job = self._jsc.statusStore().job(ids[0])
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isEmpty() or done.isEmpty():
            return 0.0
        return (done.get().getTime() - sub.get().getTime()) / 1000.0


def make_progress_listener(spark):
    """A ``StreamingQueryListener`` that keeps each micro-batch's progress.
    Registered only in traced runs."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            d = p.durationMs or {}
            self.batches.append(
                {
                    "name": p.name,
                    "batch": p.batchId,
                    "add_batch_ms": d.get("addBatch", 0),
                    "planning_ms": d.get("queryPlanning", 0),
                    "commit_ms": d.get("commitOffsets", 0) + d.get("walCommit", 0),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators or []),
                }
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    listener = ProgressLog()
    spark.streams.addListener(listener)
    return listener
