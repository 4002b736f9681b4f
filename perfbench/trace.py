"""Operation timing, spans and Spark counters, all kept by the benchmark.

Every operation (a request, a micro-batch, a query) runs inside
``Recorder.op``, which times it and, when the operation is traced,
opens the root span and a Spark job group. Spans at layer boundaries
are opened with ``Recorder.span`` around the public call into that
layer. Spans stay in memory and are written to a JSON file at the end.

Spark counters are read per traced operation from outside the engine:
the operation's jobs come from the status tracker by job group, and
each job's stage metrics from the application status store, after the
listener bus has drained. Reading happens after the operation's end
time, so it is not part of the operation's latency.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import sys
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Op:
    kind: str
    traced: bool
    ms: float = 0.0
    ok: bool = True
    rows: int = 0
    counters: dict = field(default_factory=dict)


def median(vals) -> float:
    return statistics.median(vals) if vals else 0.0


COUNTERS = (
    "jobs", "stages", "tasks", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "gc_ms", "executor_run_ms",
)


class SparkCounters:
    """Per-job-group Spark counters from the status tracker and store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> dict:
        self.sc._jsc.clearJobGroup()
        self.jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self.jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        stage_ids: set[int] = set()
        for job in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store
                continue
            if sd.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["gc_ms"] += sd.jvmGcTime()
            out["executor_run_ms"] += sd.executorRunTime()
        return out


class Recorder:
    """Times operations; in trace mode, traces every other one.

    ``trace`` False: no spans, no job groups, every op untraced.
    ``trace`` True: of each kind of op, the first, third, ... are traced
    and the others not, so the traced and untraced halves see the same
    conditions and their difference is the tracing overhead.
    """

    def __init__(self, trace: bool):
        self.trace = trace
        self.ops: list[Op] = []
        self.warm_ops: list[Op] = []  # warm-up: checked, not measured
        self.spans: list[list] = []  # [id, parent, op index, name, t0, t1]
        self.counter_read_s = 0.0
        self._stack: list[int] = []
        self._counters: SparkCounters | None = None
        self._tracing = False
        self._kind_n: dict[str, int] = {}

    def bind(self, spark) -> None:
        self._counters = SparkCounters(spark) if self.trace else None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self._tracing:
            yield
            return
        rec = [len(self.spans), self._stack[-1] if self._stack else None,
               len(self.ops) - 1, name, time.perf_counter(), None]
        self.spans.append(rec)
        self._stack.append(rec[0])
        try:
            yield
        finally:
            rec[5] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, kind: str, *, warm: bool = False):
        """Time one operation. Exceptions are recorded as a failed op
        (with the traceback on stderr) and not re-raised. ``warm`` ops
        are executed and checked but kept apart from the measured ones."""
        n_kind = self._kind_n.get(kind, 0)
        traced = self.trace and not warm and n_kind % 2 == 0
        if not warm:
            self._kind_n[kind] = n_kind + 1
        op = Op(kind, traced)
        (self.warm_ops if warm else self.ops).append(op)
        group = f"op-{len(self.ops)}"
        self._tracing = traced
        if traced:
            self._counters.begin(group)
        t0 = time.perf_counter()
        try:
            with self.span(f"op:{kind}"):
                yield op
        except Exception:  # one failed operation must not end the run
            op.ok = False
            import traceback

            traceback.print_exc(file=sys.stderr)
        op.ms = (time.perf_counter() - t0) * 1e3
        self._tracing = False
        if traced:
            c0 = time.perf_counter()
            op.counters = self._counters.end(group)
            self.counter_read_s += time.perf_counter() - c0

    # ------------------------------------------------------------ summaries
    def self_times_ms(self) -> dict[str, float]:
        """Sum of each span name's self time (its duration minus the
        time its children cover), per traced op."""
        child_s = [0.0] * len(self.spans)
        for _, parent, _, _, t0, t1 in self.spans:
            if parent is not None:
                child_s[parent] += t1 - t0
        tot: dict[str, float] = {}
        for sid, _, _, name, t0, t1 in self.spans:
            layer = "op" if name.startswith("op:") else name
            tot[layer] = tot.get(layer, 0.0) + (t1 - t0 - child_s[sid])
        n = max(1, sum(o.traced for o in self.ops))
        return {k: v * 1e3 / n for k, v in tot.items()}

    def span_ms(self, name: str) -> list[float]:
        return [(s[5] - s[4]) * 1e3 for s in self.spans if s[3] == name]

    def overhead_ms(self) -> tuple[float, float]:
        """Traced minus untraced mean latency, compared within each op
        kind and weighted by kind counts; also the untraced mean."""
        by_kind: dict[str, tuple[list, list]] = {}
        for o in self.ops:
            by_kind.setdefault(o.kind, ([], []))[0 if o.traced else 1].append(o.ms)
        diff = base = 0.0
        n = 0
        for t, u in by_kind.values():
            if t and u:
                k = len(t) + len(u)
                diff += k * (statistics.fmean(t) - statistics.fmean(u))
                base += k * statistics.fmean(u)
                n += k
        return (diff / n, base / n) if n else (0.0, 0.0)

    def write_spans(self, path: str) -> None:
        t_base = self.spans[0][4] if self.spans else 0.0
        with open(path, "w") as fh:
            json.dump(
                {
                    "ops": [o.__dict__ for o in self.ops],
                    "spans": [
                        {"id": s[0], "parent": s[1], "op": s[2], "name": s[3],
                         "start_ms": (s[4] - t_base) * 1e3, "end_ms": (s[5] - t_base) * 1e3}
                        for s in self.spans
                    ],
                },
                fh,
            )
