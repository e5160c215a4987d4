"""In-memory spans around the benchmark's calls into each engine layer, and
the Spark-side counts attributed to them.

Every call the benchmark makes into the engine runs inside ``Tracer.span``.
Spans are always recorded (a ``perf_counter`` pair and a list append), so
untraced runs still know each call's wall time. Inside ``attributed()``
the tracer also gives each span its own Spark job group and, at the end of
the block, reads what those jobs did from Spark's own status stores:

- jobs, stages, tasks, task CPU/GC/run time, input, shuffle and spill bytes
  from ``SparkContext.statusTracker`` and the JVM ``AppStatusStore``;
- streaming micro-batch progress from a ``StreamingQueryListener``, which
  is registered only for the block, so plain passes carry none of its
  callbacks. A drain
  runs on the stream's own thread under a job group named after the query
  run id, so a drain's jobs are found through the run ids the listener saw
  start inside the span.

Nothing here reaches into the engine's modules: the readings come from
Spark, outside the program.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    layer: str  # engine module the call enters, e.g. "extensions.similarity"
    kind: str  # build | exec | runner | caching | session | pass
    start: float = 0.0
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    group: str | None = None
    wall_start: float = 0.0
    wall_end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class _StreamEvents(StreamingQueryListener):
    """Collects query starts (run id, wall-clock start) and progress."""

    def __init__(self) -> None:
        self.started: list[tuple[str, float]] = []
        self.progress: dict[str, list] = {}

    def onQueryStarted(self, event) -> None:
        ts = datetime.fromisoformat(event.timestamp.replace("Z", "+00:00"))
        self.started.append((str(event.runId), ts.timestamp()))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.setdefault(str(p.runId), []).append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


# span kinds whose jobs get a job group of their own
_GROUPED = ("build", "exec", "runner", "caching")


class Tracer:
    """Spans for one benchmark run; ``attributed()`` adds Spark-side counts."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.attribute = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._spark = None
        self._events: _StreamEvents | None = None
        self._seq = 0

    def bind(self, spark) -> None:
        self._spark = spark

    @contextmanager
    def span(self, name: str, layer: str, kind: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, layer, kind, parent=parent, run_id=self.run_id)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        sc = self._spark.sparkContext if self._spark is not None else None
        if self.attribute and sc is not None and kind in _GROUPED:
            self._seq += 1
            s.group = f"perfbench-{self.run_id}-{self._seq}"
            sc.setJobGroup(s.group, name)
        s.wall_start = time.time()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.wall_end = time.time()
            self._stack.pop()
            if s.group is not None:
                sc.setJobGroup(f"perfbench-{self.run_id}-idle", "between calls")

    @contextmanager
    def attributed(self):
        """Attribute the spans opened inside the block: a job group per call
        and a streaming listener registered for the block only. Their counts
        are read after the block, so the status-store reads never sit inside
        a timed span."""
        lo = len(self.spans)
        self._events = _StreamEvents()
        self._spark.streams.addListener(self._events)
        self.attribute = True
        try:
            yield
        finally:
            self.attribute = False
            try:
                self._resolve(self.spans[lo:])
            finally:
                self._spark.streams.removeListener(self._events)

    def _resolve(self, spans: list[Span]) -> None:
        """Fill ``counts`` of every grouped span in ``spans``."""
        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)  # the listener has seen every batch
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        for s in spans:
            if s.group is None:
                continue
            run_ids = [
                rid for rid, t in self._events.started
                if s.wall_start - 0.5 <= t <= s.wall_end
            ]
            job_ids = list(tracker.getJobIdsForGroup(s.group))
            for rid in run_ids:
                job_ids += list(tracker.getJobIdsForGroup(rid))
            s.counts.update(_job_counts(store, tracker, job_ids))
            s.counts.update(_stream_counts(
                [p for rid in run_ids for p in self._events.progress.get(rid, [])]
            ))


def _job_counts(store, tracker, job_ids: list[int]) -> dict:
    c = dict(jobs=0, stages=0, tasks=0, cpu_s=0.0, run_s=0.0, gc_s=0.0,
             input_rows=0, input_bytes=0, output_bytes=0, shuffle_bytes=0,
             spill_bytes=0, job_s=[])
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        c["jobs"] += 1
        jd = store.job(jid)
        if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
            c["job_s"].append(
                (jd.completionTime().get().getTime()
                 - jd.submissionTime().get().getTime()) / 1000.0
            )
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks == 0:
                continue  # skipped: its shuffle output was reused
            sd = store.lastStageAttempt(sid)
            c["stages"] += 1
            c["tasks"] += sd.numCompleteTasks()
            c["cpu_s"] += sd.executorCpuTime() / 1e9
            c["run_s"] += sd.executorRunTime() / 1e3
            c["gc_s"] += sd.jvmGcTime() / 1e3
            c["input_rows"] += sd.inputRecords()
            c["input_bytes"] += sd.inputBytes()
            c["output_bytes"] += sd.outputBytes()
            c["shuffle_bytes"] += sd.shuffleWriteBytes()
            c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return c


def _stream_counts(progress: list) -> dict:
    if not progress:
        return {}
    dur: dict[str, int] = {}
    for p in progress:
        for k, v in (p.durationMs or {}).items():
            dur[k] = dur.get(k, 0) + v
    last = {str(p.runId): p for p in progress}  # each query's final batch
    return dict(
        batches=len(progress),
        empty_batches=sum(1 for p in progress if p.numInputRows == 0),
        trigger_ms=dur.get("triggerExecution", 0),
        add_batch_ms=dur.get("addBatch", 0),
        planning_ms=dur.get("queryPlanning", 0),
        # the offset log is written before a batch, the commit log after it
        wal_commit_ms=dur.get("walCommit", 0) + dur.get("commitOffsets", 0),
        state_commit_ms=sum(o.commitTimeMs for p in progress for o in p.stateOperators),
        state_rows=sum(o.numRowsTotal for p in last.values() for o in p.stateOperators),
        state_bytes=sum(o.memoryUsedBytes for p in last.values() for o in p.stateOperators),
    )
