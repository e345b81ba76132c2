"""Per-layer tracing for the traced benchmark run.

``Tracer.traced(op)`` wraps, for one op, the layer functions the service flows and the
ANN serve call, from outside the program: the core functions the service
module calls (``_profile_core``, ``_optimize_core``, ``_score_core``,
``_assess_quality_core``), the ``MetricsRepository`` methods, the two
service flows themselves and the similarity entry points. The traced ops
therefore follow exactly the composition of the timed ops.

Each wrapped call is a span (name, start, end, parent, op id), kept in
memory and written out at the end. A wrapper whose result is a lazy
DataFrame persists and counts it inside its span, so the work lands in
the layer that planned it; the op's persisted frames are released when
the op ends.

A span owns the stages whose ids the DAG scheduler handed out between
its start and its end. Their figures come from Spark's status store,
read once per op after the listener bus is drained, so every stage read
is final. Reading per op, not per run, matters because the store keeps
only ``spark.ui.retainedStages`` stages.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import json
import time

from pyspark.sql import DataFrame

from thoth_spark import service
from thoth_spark.anomaly.optimization import AnomalyOptimization
from thoth_spark.operators import similarity
from thoth_spark.repository import MetricsRepository

#: layer name → (owner, attribute) of every wrapped function
LAYERS = {
    "service": [
        (service, "profile_create_optimize"),
        (service, "assess_new_ts"),
    ],
    "profiler.profile": [(service, "_profile_core")],
    "anomaly.optimize": [(service, "_optimize_core")],
    "anomaly.score": [(service, "_score_core")],
    "quality.assess_quality": [(service, "_assess_quality_core")],
    "repository.add_dataset": [(MetricsRepository, "add_dataset")],
    "repository.add_profiling": [(MetricsRepository, "add_profiling")],
    "repository.add_optimization": [(MetricsRepository, "add_optimization")],
    "repository.add_scoring": [(MetricsRepository, "add_scoring")],
    "repository.read": [
        (MetricsRepository, name)
        for name in (
            "get_dataset",
            "get_datasets",
            "select_profiling",
            "get_optimization",
            "get_profiling",
            "get_scoring",
            "select_scoring",
        )
    ],
    "similarity.brute_force_topk": [(similarity, "brute_force_topk")],
    "similarity.ivf_query_index_join": [(similarity, "ivf_query_index_join")],
}


@dataclasses.dataclass
class Stage:
    stage_id: int
    status: str
    num_tasks: int
    executor_cpu_s: float
    shuffle_write_bytes: int
    output_bytes: int
    start: float | None  # epoch seconds
    end: float | None


@dataclasses.dataclass
class Span:
    name: str
    op: int | str  # "setup" for traced set-up work
    parent: int | None
    start: float  # epoch seconds
    stage_lo: int  # stages with stage_lo <= id < stage_hi belong here
    end: float = 0.0
    stage_hi: int = 0
    worker_cpu_s: float = 0.0
    children: list[int] = dataclasses.field(default_factory=list)


class StageReader:
    """Stage ids from the DAG scheduler, stage figures from the status
    store.

    A span boundary reads only the id the scheduler will give the next
    stage, which is exact at once. The status store is filled from the
    listener bus, asynchronously, and refreshes a live stage only every
    ``spark.ui.liveUpdate.period``; so the figures of an op's stages are
    read once, after the op, with the bus drained first.
    """

    _TERMINAL = ("COMPLETE", "FAILED", "SKIPPED")

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        jsc = sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._all_statuses = jvm.java.util.ArrayList()  # empty: every status
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self.stages: dict[int, Stage] = {}

    @staticmethod
    def _time(opt) -> float | None:
        return opt.get().getTime() / 1e3 if opt.isDefined() else None

    def next_id(self) -> int:
        """The id the scheduler gives the next stage it creates."""
        return self._dag.nextStageId()

    def collect(self, lo: int, hi: int) -> None:
        """Record the stages with ``lo <= id < hi``, once every event
        posted so far has reached the status store. Each must be terminal,
        and none may have been evicted from the store."""
        self._bus.waitUntilEmpty(60_000)
        seq = self._store.stageList(
            self._all_statuses, False, False, self._no_quantiles, self._no_tasks
        )
        it = seq.iterator()  # newest first
        oldest = None
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            oldest = sid
            if sid >= hi or sid in self.stages:  # a newer attempt came first
                continue
            if sid < lo:
                break
            status = s.status().toString()
            if status not in self._TERMINAL:
                raise RuntimeError(f"stage {sid} is {status} after its span ended")
            self.stages[sid] = Stage(
                stage_id=sid,
                status=status,
                num_tasks=s.numTasks(),
                executor_cpu_s=s.executorCpuTime() / 1e9,
                shuffle_write_bytes=s.shuffleWriteBytes(),
                output_bytes=s.outputBytes(),
                start=self._time(s.submissionTime()),
                end=self._time(s.completionTime()),
            )
        if hi > lo and (oldest is None or oldest > lo):
            raise RuntimeError(
                f"stages from {lo} were evicted from the status store before they were read"
            )


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _subtract(
    segments: list[tuple[float, float]], cuts: list[tuple[float, float]]
) -> list[tuple[float, float]]:
    """``segments`` minus the union of ``cuts``."""
    out = []
    for lo, hi in segments:
        pieces = [(lo, hi)]
        for clo, chi in cuts:
            nxt = []
            for plo, phi in pieces:
                if chi <= plo or clo >= phi:
                    nxt.append((plo, phi))
                    continue
                if clo > plo:
                    nxt.append((plo, clo))
                if chi < phi:
                    nxt.append((chi, phi))
            pieces = nxt
        out.extend(pieces)
    return out


class Tracer:
    """Spans around layer calls, with stage and worker-CPU counters.
    ``traced(op)`` patches the layers for one op and restores them
    after."""

    def __init__(self, spark, sampler):
        self.spark = spark
        self.sampler = sampler
        self.reader = StageReader(spark)
        self.spans: list[Span] = []
        self.op: int | str | None = None
        self._stack: list[int] = []
        self._persisted: list[DataFrame] = []
        self._saved: list[tuple[object, str, object]] = []

    # -- wrapping ----------------------------------------------------------

    def install(self) -> None:
        for layer, targets in LAYERS.items():
            for owner, attr in targets:
                orig = owner.__dict__[attr]
                self._saved.append((owner, attr, orig))
                setattr(owner, attr, self._wrap(layer, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self._open(layer)
            try:
                out = fn(*args, **kwargs)
                self._materialize(out)
            finally:
                self._close(idx)
            return out

        return traced

    def _materialize(self, out) -> None:
        df = out.optimization_df if isinstance(out, AnomalyOptimization) else out
        if isinstance(df, DataFrame):
            df.persist().count()
            self._persisted.append(df)

    # -- spans -------------------------------------------------------------

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            Span(
                name=name,
                op=self.op,
                parent=parent,
                start=time.time(),
                stage_lo=self.reader.next_id(),
                worker_cpu_s=-self.sampler.worker_cpu_s(),
            )
        )
        idx = len(self.spans) - 1
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        span = self.spans[idx]
        span.stage_hi = self.reader.next_id()
        span.worker_cpu_s += self.sampler.worker_cpu_s()
        span.end = time.time()
        self._stack.pop()

    @contextlib.contextmanager
    def traced(self, op):
        """Trace one op: the layers are wrapped for its duration, its root
        span ("op") is yielded, and its persisted frames are released at
        the end."""
        self.install()
        self.op = op
        root = self._open("op")
        try:
            yield root
        finally:
            self._close(root)
            self.op = None
            self.uninstall()
            for df in self._persisted:
                df.unpersist()
            self._persisted.clear()

    def collect(self, op) -> None:
        """Read the figures of one traced op's stages; call it after the
        op's clock stops."""
        root = self.spans[self.root_of(op)]
        self.reader.collect(root.stage_lo, root.stage_hi)

    def root_of(self, op) -> int | None:
        return next(
            (i for i, s in enumerate(self.spans) if s.op == op and s.parent is None),
            None,
        )

    def layer_sums(self, op) -> dict[str, dict[str, float]]:
        """Per layer, the sum of its spans' self metrics within one op."""
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            if s.op != op or s.parent is None:
                continue
            acc = out.setdefault(s.name, {})
            for k, v in self.span_metrics(i).items():
                acc[k] = acc.get(k, 0.0) + v
        return out

    def op_stages(self, op) -> list[Stage]:
        """Every executed stage of one op."""
        root = self.spans[self.root_of(op)]
        return [
            st
            for sid in range(root.stage_lo, root.stage_hi)
            if (st := self.reader.stages.get(sid)) is not None and st.status != "SKIPPED"
        ]

    # -- per-span metrics ----------------------------------------------------

    def _own_stages(self, idx: int) -> list[Stage]:
        span = self.spans[idx]
        taken = set()
        for c in span.children:
            ch = self.spans[c]
            taken.update(range(ch.stage_lo, ch.stage_hi))
        return [
            st
            for sid in range(span.stage_lo, span.stage_hi)
            if sid not in taken
            and (st := self.reader.stages.get(sid)) is not None
            and st.status != "SKIPPED"
        ]

    def span_metrics(self, idx: int) -> dict[str, float]:
        """Self metrics of one span: its interval minus its children's."""
        span = self.spans[idx]
        child_iv = [(self.spans[c].start, self.spans[c].end) for c in span.children]
        own = _subtract([(span.start, span.end)], child_iv)
        stages = self._own_stages(idx)
        running = [
            (st.start, st.end) for st in stages if st.start is not None and st.end is not None
        ]
        child_worker = sum(self.spans[c].worker_cpu_s for c in span.children)
        return {
            "self_s": _union_length(own),
            "driver_s": _union_length(_subtract(own, running)),
            "stages": float(len(stages)),
            "tasks": float(sum(st.num_tasks for st in stages)),
            "executor_cpu_s": sum(st.executor_cpu_s for st in stages),
            "shuffle_write_mb": sum(st.shuffle_write_bytes for st in stages) / 2**20,
            "bytes_written_mb": sum(st.output_bytes for st in stages) / 2**20,
            "python_worker_cpu_s": span.worker_cpu_s - child_worker,
        }

    def dump(self, path: str) -> None:
        """Write every span, one JSON object a line."""
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                rec = {
                    "id": i,
                    "name": s.name,
                    "op": s.op,
                    "parent": s.parent,
                    "start": s.start,
                    "end": s.end,
                    **self.span_metrics(i),
                }
                f.write(json.dumps(rec) + "\n")
