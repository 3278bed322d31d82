"""Spans and Spark-side counters for the benchmark's traced runs.

The benchmark wraps, from its own files, the functions through which a
run calls into each layer of the program; no program file is changed.
A span records name, layer, start, end, parent, iteration id and the
pipeline phase it started in. Spans stay in memory and are written out
when the run ends. A layer's self time is its spans' durations minus
the time their child spans cover; the iteration's own self time is the
residual no layer accounts for, so the layer self times plus the
residual equal the iteration wall exactly.

Only calls made on the thread that created the tracer are recorded:
``foreachBatch`` sinks call back into Python on another thread, and
their actions belong to the stream run that encloses them.
"""

from __future__ import annotations

import contextlib
import functools
import re
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

ROOT = "iteration"
# span layer -> the per-layer metric that reports its self time
SELF_METRICS = {
    "bronze": "bronze.build_s",
    "silver": "silver.build_s",
    "quality": "quality.build_s",
    "gold": "gold.build_s",
    "writers": "writers.write_s",
    "plans": "plans.build_s",
    "catalyst": "catalyst.plan_s",
    "sink": "sink.exec_s",
    "stream": "stream.run_s",
    "action": "action.exec_s",
}
RESIDUAL_METRIC = "span.residual_s"
# medallion phases, in pipeline order; a wrapped call of a phase's
# module function marks the start of that phase
PHASES = ("bronze", "silver", "quality", "gold")
PYTHON_NODE = re.compile(
    r"ArrowEvalPython|BatchEvalPython|InPandas|MapInArrow|PythonUDTF"
)


@dataclass
class Span:
    name: str
    layer: str
    start: float
    parent: int | None
    run: int
    phase: str | None
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the time its direct children cover."""
    out = [s.duration for s in spans]
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.duration
    return out


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Sum self time per layer; the root spans' self time is the residual."""
    totals = {m: 0.0 for m in SELF_METRICS.values()}
    totals[RESIDUAL_METRIC] = 0.0
    for s, own in zip(spans, self_times(spans)):
        key = RESIDUAL_METRIC if s.layer == ROOT else SELF_METRICS[s.layer]
        totals[key] += own
    return totals


class Tracer:
    """In-memory span recorder plus the wrappers that feed it."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._thread = threading.get_ident()
        self._patches: list[tuple[object, str, object]] = []
        self._streams: dict[int, int] = {}
        self.run = 0
        self.phase: str | None = None
        self.phase_marks: list[tuple[str, int, int]] = []
        self.on_phase = None  # callable returning (next job id, next stage id)

    # -- spans ---------------------------------------------------------
    def open(self, name: str, layer: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            Span(name, layer, time.perf_counter(), parent, self.run, self.phase)
        )
        self._stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        now = time.perf_counter()
        while self._stack:  # closes any span left open inside this one
            top = self._stack.pop()
            self.spans[top].end = now
            if top == idx:
                return
        raise RuntimeError(f"span {idx} is not open")

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        idx = self.open(name, layer)
        try:
            yield idx
        finally:
            self.close(idx)

    def iteration(self, run: int):
        self.run, self.phase = run, None
        self.phase_marks = []
        return self.span(f"iteration-{run}", ROOT)

    def spans_of(self, run: int) -> list[Span]:
        """The spans of one iteration, parents re-indexed to that list."""
        picked = [i for i, s in enumerate(self.spans) if s.run == run]
        index = {old: new for new, old in enumerate(picked)}
        out = []
        for i in picked:
            s = self.spans[i]
            out.append(Span(s.name, s.layer, s.start, index.get(s.parent),
                            s.run, s.phase, s.end, s.attrs))
        return out

    def _traced(self) -> bool:
        return threading.get_ident() == self._thread

    # -- wrappers ------------------------------------------------------
    def wrap(self, owner: object, attr: str, layer: str) -> None:
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not tracer._traced():
                return original(*args, **kwargs)
            if layer in PHASES and tracer.phase != layer:
                tracer.phase = layer
                if tracer.on_phase is not None:
                    tracer.phase_marks.append((layer, *tracer.on_phase()))
            idx = tracer.open(f"{layer}.{attr}", layer)
            try:
                return original(*args, **kwargs)
            finally:
                tracer.close(idx)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def wrap_streams(self, writer_cls: type, query_cls: type) -> None:
        """One ``stream`` span per streaming query, from ``start()`` entry
        to ``stop()`` exit; records whether its last plan ran Python."""
        start, stop = writer_cls.start, query_cls.stop
        tracer = self

        @functools.wraps(start)
        def start_wrapper(writer, *args, **kwargs):
            if not tracer._traced():
                return start(writer, *args, **kwargs)
            idx = tracer.open("stream.query", "stream")
            try:
                query = start(writer, *args, **kwargs)
            except BaseException:
                tracer.close(idx)
                raise
            tracer._streams[id(query)] = idx
            return query

        @functools.wraps(stop)
        def stop_wrapper(query):
            idx = tracer._streams.pop(id(query), None)
            if idx is None:
                return stop(query)
            try:
                execution = query._jsq.streamingQuery().lastExecution()
                if execution is not None:
                    plan = execution.executedPlan().toString()
                    tracer.spans[idx].attrs["python"] = bool(PYTHON_NODE.search(plan))
                return stop(query)
            finally:
                tracer.close(idx)

        self._patches.append((writer_cls, "start", start))
        self._patches.append((query_cls, "stop", stop))
        writer_cls.start = start_wrapper
        query_cls.stop = stop_wrapper

    def unwrap(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches = []


def span(tracer: Tracer | None, name: str, layer: str):
    """A span context in traced iterations; a no-op otherwise."""
    if tracer is None:
        return contextlib.nullcontext()
    return tracer.span(name, layer)


# ------------------------------------------------------------ Spark side

class SparkCounters:
    """Job/stage ids and per-stage executor metrics from Spark's own
    scheduler and status store. Job and stage ids are handed out in
    increasing order, so the ids between two readings of the counters
    are exactly the jobs and stages launched in between."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._dag = self._sc.dagScheduler()
        self._store = self._sc.statusStore()
        self._no_tasks = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def mark(self) -> tuple[int, int]:
        return self._dag.nextJobId(), self._dag.nextStageId()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store and listeners have seen all finished work."""
        self._sc.listenerBus().waitUntilEmpty()

    def stages(self, first: int, end: int, detail: bool) -> list[dict]:
        out = []
        for sid in range(first, end):
            try:
                attempts = self._store.stageData(
                    sid, False, self._no_tasks, False, self._no_quantiles
                )
            except Py4JJavaError:  # the stage never reached the status store
                continue
            for i in range(attempts.size()):
                s = attempts.apply(i)
                row = {"cpu_ns": s.executorCpuTime()}
                if detail:
                    sub, done = s.submissionTime(), s.completionTime()
                    row.update(
                        status=s.status().toString(),
                        run_ms=s.executorRunTime(),
                        gc_ms=s.jvmGcTime(),
                        tasks=s.numCompleteTasks(),
                        input_b=s.inputBytes(),
                        output_b=s.outputBytes(),
                        shuffle_read_b=s.shuffleReadBytes(),
                        shuffle_write_b=s.shuffleWriteBytes(),
                        spill_b=s.memoryBytesSpilled() + s.diskBytesSpilled(),
                        start_ms=sub.get().getTime() if sub.isDefined() else None,
                        end_ms=done.get().getTime() if done.isDefined() else None,
                    )
                out.append(row)
        return out


def busy_seconds(stages: list[dict]) -> float:
    """Length of the union of the stages' active intervals."""
    intervals = sorted(
        (s["start_ms"], s["end_ms"]) for s in stages
        if s.get("start_ms") is not None and s.get("end_ms") is not None
    )
    total, cur_start, cur_end = 0, None, None
    for start, end in intervals:
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total / 1000.0


def exec_metrics(stages: list[dict], wall: float) -> dict[str, float]:
    mb = 1e-6
    busy = busy_seconds(stages)
    return {
        "exec.run_s": sum(s["run_ms"] for s in stages) / 1000.0,
        "exec.cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "exec.gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
        "exec.busy_s": busy,
        "exec.tasks": float(sum(s["tasks"] for s in stages)),
        "exec.stages": float(sum(1 for s in stages if s["status"] == "COMPLETE")),
        "exec.input_mb": sum(s["input_b"] for s in stages) * mb,
        "exec.output_mb": sum(s["output_b"] for s in stages) * mb,
        "exec.shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) * mb,
        "exec.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) * mb,
        "exec.spill_mb": sum(s["spill_b"] for s in stages) * mb,
        "driver.gap_s": wall - busy,
    }


def stream_metrics(progress: list[dict], spans: list[Span]) -> dict[str, float]:
    """Micro-batch phases from StreamingQueryProgress records, and the
    fixed per-query floor: stream wall minus the batches' trigger time."""
    def dur(key: str) -> float:
        return sum(p.get("durationMs", {}).get(key, 0) for p in progress) / 1000.0

    final_state: dict[str, list] = {}
    for p in progress:  # last batch of each run holds its final state
        final_state[p["runId"]] = p.get("stateOperators", [])
    stream_wall = sum(s.duration for s in spans if s.layer == "stream")
    trigger = dur("triggerExecution")
    return {
        "stream.batches": float(len(progress)),
        "stream.trigger_s": trigger,
        "stream.addBatch_s": dur("addBatch"),
        "stream.walCommit_s": dur("walCommit"),
        "stream.commitOffsets_s": dur("commitOffsets"),
        "stream.queryPlanning_s": dur("queryPlanning"),
        "stream.state_commit_s": sum(
            op.get("commitTimeMs", 0) for p in progress
            for op in p.get("stateOperators", [])
        ) / 1000.0,
        "stream.state_rows": float(sum(
            op.get("numRowsTotal", 0) for ops in final_state.values() for op in ops
        )),
        "stream.state_mb": sum(
            op.get("memoryUsedBytes", 0) for ops in final_state.values() for op in ops
        ) * 1e-6,
        "stream.overhead_s": stream_wall - trigger if progress else 0.0,
    }
