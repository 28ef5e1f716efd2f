"""Spans and per-op counters for the traced run.

Spans are recorded from outside the program, around the calls the
benchmark makes into each layer. They are kept in memory and written
when the run ends. Counters come from Spark's in-process status store
(stages of the jobs an op started, found through a per-op job group)
and from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    op_id: int


class Tracer:
    """Records spans of timed ops (``op_id >= 0``) when ``enabled``;
    otherwise ``span`` is a no-op, so untraced runs and set-up execute
    the same calls with nothing added."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op_id = -1

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled or self.op_id < 0:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the
        part covered by its direct children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def totals(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


#: status-store fields summed over an op's completed stages
STAGE_FIELDS = {
    "executor_run_s": lambda d: d.executorRunTime() / 1e3,
    "executor_cpu_s": lambda d: d.executorCpuTime() / 1e9,
    "gc_s": lambda d: d.jvmGcTime() / 1e3,
    "input_bytes": lambda d: d.inputBytes(),
    "shuffle_write_bytes": lambda d: d.shuffleWriteBytes(),
    "spill_bytes": lambda d: d.memoryBytesSpilled() + d.diskBytesSpilled(),
}


def drain_listeners(sc) -> None:
    """Block until Spark's listener bus has delivered every event, so
    the status store and listeners reflect all finished jobs."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def job_group_stats(sc, group: str) -> dict[str, float]:
    """Jobs, completed stages, tasks and stage metrics of one job group.
    Call after :func:`drain_listeners`."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(["jobs", "stages", "tasks", *STAGE_FIELDS], 0.0)
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            d = store.lastStageAttempt(sid)
            if d.status().toString() != "COMPLETE":
                continue  # skipped: its output was reused
            out["stages"] += 1
            out["tasks"] += d.numCompleteTasks()
            for k, f in STAGE_FIELDS.items():
                out[k] += f(d)
    return out


def streaming_listener(spark):
    """Register and return a listener that keeps every micro-batch
    progress, tagged with the op id current when it arrived."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.op_id = -1
            self.progress: list[tuple[int, dict, list[tuple[int, int]]]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            state = [(s.numRowsTotal, s.memoryUsedBytes) for s in p.stateOperators]
            self.progress.append((self.op_id, dict(p.durationMs), state))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener


def streaming_stats(progress: list[tuple[int, dict, list]], op_id: int) -> dict[str, float]:
    """Micro-batch totals of one op: trigger and addBatch milliseconds
    summed over batches, state rows and bytes after the last batch."""
    mine = [(d, s) for oid, d, s in progress if oid == op_id]
    last = mine[-1][1] if mine else []
    return {
        "trigger_ms": sum(d.get("triggerExecution", 0) for d, _ in mine),
        "add_batch_ms": sum(d.get("addBatch", 0) for d, _ in mine),
        "state_rows": sum(r for r, _ in last),
        "state_bytes": sum(b for _, b in last),
    }
