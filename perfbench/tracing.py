"""Tracing from outside the program: spans around calls into each layer's
public functions, and Spark counters read per job group.

Spans are recorded by wrapping module attributes of the program for the
duration of one traced op (``instrument``) and by the workloads' own
``span`` calls around lazy operators and their actions.  Nothing in the
program changes; untraced ops run with no wrapper installed."""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError

from measure import self_time

# Spans that do a layer's work; the others (op, profile_many, describe,
# chunk tasks) only contain them.
LAYER_SPANS = ("sources.probe", "wide_agg.build", "wide_agg.pass1",
               "wide_agg.quantiles", "wide_agg.pass2", "frequency.topk",
               "correlation.matrix")
# job description prefix set by describe() for each chunk -> span name
_CHUNK_LABELS = {"profile: pass1": "wide_agg.pass1",
                 "profile: quantiles": "wide_agg.quantiles",
                 "profile: pass2": "wide_agg.pass2"}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; ``write`` saves them when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int | None]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(next(self._ids), name, time.perf_counter(), 0.0,
                 self.current(), self.op)
        self._stack().append(s.id)
        try:
            yield s
        finally:
            self._stack().pop()
            s.end = time.perf_counter()
            with self._lock:
                self.spans.append(s)

    def carry(self, fn):
        """``fn`` made to run under the caller's current span when it is
        called on another thread."""
        parent = self.current()

        def run(*args, **kwargs):
            stack = self._stack()
            stack.append(parent)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
        return run

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the profile layers' public functions with spans for the
    duration of the ``with`` block."""
    from pyspark import SparkContext
    from spark_df_profiling_spark.operators import correlation as C
    from spark_df_profiling_spark.operators import frequency as FR
    from spark_df_profiling_spark.operators import profile as P
    from spark_df_profiling_spark.plans import wide_agg as W

    def timed(name, fn):
        def run(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)
        return run

    base_task = W.InheritableTask

    class TracedTask(base_task):
        """A chunk task named after the job description describe() sets."""

        def __init__(self, fn, gate=None) -> None:
            def run():
                with tracer.span("wide_agg.task") as s:
                    out = fn()
                    label = (SparkContext._active_spark_context
                             .getLocalProperty("spark.job.description") or "")
                    s.name = _CHUNK_LABELS.get(label.split(" #")[0], s.name)
                    return out
            super().__init__(tracer.carry(run), gate)

    base_run_inheritable = W.run_inheritable
    patches = [
        (P, "describe", timed("profile.describe", P.describe)),
        (P, "input_bytes", timed("sources.probe", P.input_bytes)),
        (P, "scan_parallelism", timed("sources.probe", P.scan_parallelism)),
        (W, "build_pass1_exprs", timed("wide_agg.build", W.build_pass1_exprs)),
        (W, "build_quantile_exprs",
         timed("wide_agg.build", W.build_quantile_exprs)),
        (W, "build_pass2_exprs", timed("wide_agg.build", W.build_pass2_exprs)),
        (W, "make_chunks", timed("wide_agg.build", W.make_chunks)),
        (W, "InheritableTask", TracedTask),
        (W, "run_inheritable", lambda fns, *a, **k: base_run_inheritable(
            [tracer.carry(f) for f in fns], *a, **k)),
        (FR, "topk_frequencies",
         timed("frequency.topk", FR.topk_frequencies)),
        (C, "correlation_matrix",
         timed("correlation.matrix", C.correlation_matrix)),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
    for mod, attr, new in patches:
        setattr(mod, attr, new)
    try:
        yield
    finally:
        for mod, attr, old in saved:
            setattr(mod, attr, old)


def _sum(spans: list[Span], name: str) -> float:
    return sum(s.seconds for s in spans if s.name == name)


def _ancestor(spans_by_id: dict[int, Span], s: Span, name: str) -> Span | None:
    p = s.parent
    while p is not None:
        s = spans_by_id[p]
        if s.name == name:
            return s
        p = s.parent
    return None


def layer_metrics(spans: list[Span]) -> dict[str, float]:
    """Per-op layer figures from one op's spans.  A layer's time is the
    serial sum of its spans (busy time; concurrent spans add up)."""
    by_id = {s.id: s for s in spans}
    describes = [s for s in spans if s.name == "profile.describe"]
    describe_s = sum(s.seconds for s in describes)
    in_describe = sum(s.seconds for s in spans if s.name in LAYER_SPANS
                      and _ancestor(by_id, s, "profile.describe"))
    describe_self = sum(
        self_time(d.start, d.end, [(c.start, c.end) for c in spans
                                   if c.parent == d.id])
        for d in describes)
    many = _sum(spans, "profile_many")
    return {
        "sources.probe_s": _sum(spans, "sources.probe"),
        "wide_agg.build_s": _sum(spans, "wide_agg.build"),
        "wide_agg.pass1_s": _sum(spans, "wide_agg.pass1"),
        "wide_agg.quantiles_s": _sum(spans, "wide_agg.quantiles"),
        "wide_agg.pass2_s": _sum(spans, "wide_agg.pass2"),
        "wide_agg.chunks": float(sum(
            1 for s in spans if s.name in _CHUNK_LABELS.values())),
        "frequency.topk_s": _sum(spans, "frequency.topk"),
        "correlation.matrix_s": _sum(spans, "correlation.matrix"),
        "profile.describe_s": describe_s,
        "profile.describe_self_s": describe_self,
        "profile.collect_s": _sum(spans, "profile.collect"),
        "profile.overlap_ratio": in_describe / describe_s if describe_s else 0.0,
        "profile_many.overlap_ratio": describe_s / many if many else 0.0,
        "report.render_s": _sum(spans, "report.render"),
        "text.features_s": _sum(spans, "text.features"),
        "dedup.exact_s": _sum(spans, "dedup.exact"),
        "dedup.minhash_s": _sum(spans, "dedup.minhash"),
        "similarity.knn_s": _sum(spans, "similarity.knn"),
    }


def spark_counters(sc, group: str, wait_s: float = 5.0) -> dict[str, float]:
    """Jobs, tasks, executor run time, shuffle writes and failed tasks of
    every job run under ``group``, from the status store."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    ids = tracker.getJobIdsForGroup(group)
    deadline = time.monotonic() + wait_s
    # the status listener runs behind the jobs it records
    while time.monotonic() < deadline and any(
            info is None or info.status in ("RUNNING", "UNKNOWN")
            for info in map(tracker.getJobInfo, ids)):
        time.sleep(0.05)
    tasks = failed = run_ms = shuffle = 0
    for j in ids:
        info = tracker.getJobInfo(j)
        for stage in (info.stageIds if info else []):
            try:
                sd = store.lastStageAttempt(stage)
            except Py4JJavaError:  # a stage the store never saw
                continue
            tasks += sd.numCompleteTasks() + sd.numFailedTasks()
            failed += sd.numFailedTasks()
            run_ms += sd.executorRunTime()
            shuffle += sd.shuffleWriteBytes()
    return {"spark.jobs": float(len(ids)), "spark.tasks": float(tasks),
            "spark.executor_run_s": run_ms / 1000.0,
            "spark.shuffle_write_bytes": float(shuffle),
            "spark.failed_tasks": float(failed)}
