"""Outside-in span reader: time each call into the engine from the
benchmark and, in the traced run, read the Spark work it caused from
Spark's own status store.

A span is one call into a public function. In a traced run the call
runs under its own job group; afterwards the group's jobs give its
stages, and each stage's last attempt gives executor run/CPU time,
shuffle, spill, task counts and the task-time quantiles used for
skew. Streaming micro-batches run on the query's own thread under a
job group named after the query's run id, so a StreamingQueryListener
records those run ids (and each batch's progress) for the span that
started the query.

Nothing here changes how the engine runs: the untraced path is a
wall clock around the call, and the traced path only adds
setJobGroup before the call. Status-store reads happen in flush(),
after the timed iteration.
"""

from __future__ import annotations

import statistics
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

MB = 1024.0 * 1024.0

# per-span metrics, in the order BENCHMARK.json declares them
SPAN_METRICS = (
    ("wall_s", "s"),
    ("driver_s", "s"),
    ("task_s", "s"),
    ("cpu_s", "s"),
    ("slot_idle_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("tasks_failed", "count"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("task_skew", "ratio"),
)


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, same clock as Spark's stage times
    end: float
    group: str | None = None
    stream_runs: list[str] = field(default_factory=list)
    stats: dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class _ProgressListener(StreamingQueryListener):
    """Collects run ids and per-batch progress of every streaming query
    started while it is registered."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: dict[str, list[dict]] = {}

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        state_rows = sum(op.numRowsTotal for op in p.stateOperators)
        with self.lock:
            self.progress.setdefault(str(p.runId), []).append(
                {
                    "batch_ms": p.batchDuration,
                    "input_rows": p.numInputRows,
                    "state_rows": state_rows,
                }
            )

    def onQueryTerminated(self, event) -> None:
        with self.lock:
            self.terminated.add(str(event.runId))


def _opt(o):
    """Scala Option -> value or None."""
    return o.get() if o.isDefined() else None


def _union_s(intervals: list[tuple[float, float]]) -> float:
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
    """Runs calls as spans. traced=False: wall clock only.
    traced=True: one job group per call, stage data read in flush()."""

    def __init__(self, spark, traced: bool) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.traced = traced
        self.cores = self.sc.defaultParallelism
        self.pending: list[Span] = []
        self.done: list[Span] = []
        self._seq = 0
        self.listener: _ProgressListener | None = None
        if traced:
            self.listener = _ProgressListener()
            spark.streams.addListener(self.listener)

    def call(self, name: str, fn, *args, **kwargs):
        """Run fn(*args, **kwargs) as span `name`; returns its result.
        fn must materialise its own output (collect, write)."""
        group = None
        n_started = 0
        if self.traced:
            self._seq += 1
            group = f"perfbench-{self._seq}"
            self.sc.setJobGroup(group, name)
            with self.listener.lock:
                n_started = len(self.listener.started)
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.time()
            span = Span(name, t0, t1, group)
            if self.traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                with self.listener.lock:
                    span.stream_runs = self.listener.started[n_started:]
            self.pending.append(span)

    def flush(self) -> list[Span]:
        """Read the status store for every pending span (traced runs),
        move them to done and return them."""
        spans, self.pending = self.pending, []
        if self.traced and spans:
            self._wait_streams(spans)
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            for s in spans:
                s.stats = self._read(s)
        self.done.extend(spans)
        return spans

    def _wait_streams(self, spans: list[Span], timeout_s: float = 30.0) -> None:
        runs = {r for s in spans for r in s.stream_runs}
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            with self.listener.lock:
                if runs <= self.listener.terminated:
                    return
            time.sleep(0.05)
        raise RuntimeError(f"streaming queries did not report termination: {runs}")

    def _read(self, span: Span) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        job_ids = []
        for g in [span.group, *span.stream_runs]:
            job_ids.extend(tracker.getJobIdsForGroup(g))
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        task_ms = cpu_ns = shuffle = spill = 0.0
        tasks = failed = 0
        intervals = []
        longest = (-1.0, 1.0)  # (stage run ms, skew of that stage)
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # NoSuchElementException: never attempted
                continue
            sub = _opt(st.submissionTime())
            if sub is None:  # skipped: its shuffle output was reused
                continue
            comp = _opt(st.completionTime())
            end_ms = comp.getTime() if comp is not None else span.end * 1000.0
            intervals.append(
                (max(sub.getTime(), span.start * 1000.0), min(end_ms, span.end * 1000.0))
            )
            run_ms = float(st.executorRunTime())
            task_ms += run_ms
            cpu_ns += float(st.executorCpuTime())
            shuffle += float(st.shuffleWriteBytes())
            spill += float(st.memoryBytesSpilled()) + float(st.diskBytesSpilled())
            tasks += int(st.numTasks())
            failed += int(st.numFailedTasks())
            dist = _opt(store.taskSummary(sid, st.attemptId(), quantiles))
            if dist is not None and run_ms > longest[0]:
                q = dist.executorRunTime()
                med, mx = float(q.apply(0)), float(q.apply(1))
                longest = (run_ms, mx / max(med, 1.0))
        active_s = _union_s([(s, e) for s, e in intervals if e > s]) / 1000.0
        task_s = task_ms / 1000.0
        return {
            "wall_s": span.wall_s,
            "active_s": active_s,
            "driver_s": span.wall_s - active_s,
            "task_s": task_s,
            "cpu_s": cpu_ns / 1e9,
            "slot_idle_s": active_s * self.cores - task_s,
            "jobs": float(len(job_ids)),
            "tasks": float(tasks),
            "tasks_failed": float(failed),
            "shuffle_write_mb": shuffle / MB,
            "spill_mb": spill / MB,
            "task_skew": longest[1] if longest[0] >= 0 else 1.0,
        }

    def stream_stats(self, span: Span) -> dict[str, float]:
        """batches, final state rows and median batch time of the
        streaming queries a span started (traced runs only)."""
        with self.listener.lock:
            prog = [p for r in span.stream_runs for p in self.listener.progress.get(r, [])]
        batches = [p for p in prog if p["input_rows"] > 0]
        return {
            "batches": float(len(batches)),
            "state_rows": float(prog[-1]["state_rows"]) if prog else 0.0,
            "batch_s": statistics.median(p["batch_ms"] for p in batches) / 1000.0
            if batches
            else 0.0,
        }

    def close(self) -> None:
        if self.listener is not None:
            self.spark.streams.removeListener(self.listener)
