"""Outside-in tracer for the plan-engine benchmark.

Nothing here edits the program. The tracer replaces, for the length of a
traced run, the names ``topnotch_spark.engine`` resolves at call time (the
layer functions it imports, the engine's own methods, each extension
command's ``execute``, the materialization lifecycle in
``operators/dedup.py``) with wrappers that record a span around the
original call. Each span tags the Spark jobs it starts with
``SparkContext.addJobTag``; after a unit the Spark status store is rolled up
by tag, so executor work is charged to the innermost span that forced it.
A ``StreamingQueryListener`` collects micro-batch progress.

Spans have a name, a start, an end, a parent and the id of the unit they
belong to. They are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field

# Span name -> the per-layer metric its self time is added to. The
# self times of one unit's spans sum to the unit's wall time; the unit
# span's own self time is the harness's share, reported as trace.gap_s.
SELF_TIME_METRIC = {
    "unit": "trace.gap_s",
    "engine.run": "engine.self_s",
    "engine.execute_commands": "engine.self_s",
    "engine.run_command": "engine.self_s",
    "plans.read_configuration": "plans.read_s",
    "plans.parse_commands": "plans.parse_s",
    "plans.collect_errors": "plans.parse_s",
    "sources.inputs.load_input": "sources.inputs.load_s",
    "operators.run_assertions": "operators.assertions.call_s",
    "operators.create_diff": "operators.diff.call_s",
    "operators.create_view": "operators.view.call_s",
    "operators.ext.execute": "operators.ext.call_s",
    "materialize.snapshot_intermediates": "materialize.self_s",
    "materialize.release_new_intermediates": "materialize.self_s",
    "sources.outputs.store_output": "sources.outputs.store_s",
    "reports.assertion_group_to_json": "reports.to_json_s",
    "reports.get_writer": "reports.write_s",
    "reports.write_report": "reports.write_s",
    "streaming.window.drain": "streaming.window.drain_s",
    "streaming.assert.drain": "streaming.assert.drain_s",
    "streaming.sessionize.drain": "streaming.sessionize.drain_s",
}

# Span name -> the per-layer job count the jobs it forces are added to.
JOB_COUNT_METRIC = {
    "operators.run_assertions": "operators.assertions.jobs",
    "operators.create_diff": "operators.diff.jobs",
    "operators.ext.execute": "operators.ext.jobs",
    "sources.outputs.store_output": "sources.outputs.jobs",
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    unit: int
    start: float  # perf_counter seconds
    end: float = 0.0
    depth: int = 0
    counts: dict = field(default_factory=dict)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        covered = [(max(lo, s.start), min(hi, s.end)) for lo, hi in kids.get(s.id, [])]
        out[s.id] = (s.end - s.start) - union_length([c for c in covered if c[1] > c[0]])
    return out


class Tracer:
    """Spans and counts for one benchmark process. ``spark`` may be None
    (no job tags, no status-store rollup), which is how the unit tests
    exercise span bookkeeping."""

    def __init__(self, spark=None):
        self.spark = spark
        self.enabled = False
        self.spans: list[Span] = []
        self.unit_id = 0
        self._ids = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        # perf_counter -> epoch milliseconds, for matching Spark job times
        self.epoch_ms = (time.time() - time.perf_counter()) * 1000.0

    # ---- spans ------------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            self._ids += 1
            s = Span(self._ids, name, parent.id if parent else None, self.unit_id,
                     0.0, depth=parent.depth + 1 if parent else 0)
            self.spans.append(s)
        tag = f"pb{s.id}"
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.addJobTag(tag)
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if sc is not None:
                sc.removeJobTag(tag)

    def count(self, span: Span | None, key: str, value: float) -> None:
        if span is not None:
            span.counts[key] = span.counts.get(key, 0) + value

    # ---- outside-in wrappers ---------------------------------------------
    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a function that runs the original
        inside span ``name``; ``after(span, result, args, kwargs)`` may add
        counts once the call returns."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name) as s:
                result = orig(*args, **kwargs)
            if after is not None and s is not None:
                after(s, result, args, kwargs)
            return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def install(self, input_bytes: int = 0) -> None:
        """Wrap the layer boundaries the plan engine calls through."""
        from topnotch_spark import engine
        from topnotch_spark.operators import dedup
        from topnotch_spark.plans import extensions, model, readers
        from topnotch_spark.reports import writers

        w = self.wrap
        w(engine.TnEngine, "run", "engine.run")
        w(engine.TnEngine, "execute_commands", "engine.execute_commands")
        w(engine.TnEngine, "run_command", "engine.run_command")
        w(readers.FileReader, "read_configuration", "plans.read_configuration")
        w(engine, "parse_commands", "plans.parse_commands")
        w(engine, "collect_errors", "plans.collect_errors")
        w(engine, "load_input", "sources.inputs.load_input")
        w(extensions, "load_input", "sources.inputs.load_input")
        w(engine, "run_assertions", "operators.run_assertions")
        w(engine, "create_diff", "operators.create_diff")
        w(engine, "create_view", "operators.create_view")
        for cls in _subclasses(model.Command):
            if "execute" in cls.__dict__:
                w(cls, "execute", "operators.ext.execute")
        w(dedup, "snapshot_intermediates", "materialize.snapshot_intermediates")
        w(dedup, "release_new_intermediates", "materialize.release_new_intermediates",
          after=lambda s, res, a, k: self.count(s, "materialize.persisted", res))

        def stored(s, res, args, kwargs):
            path = kwargs.get("output_path")
            if path:
                n = _tree_bytes(path)
                self.count(s, "sources.outputs.bytes_written", n)
                if input_bytes:
                    self.count(s, "sources.outputs.write_amp", n / input_bytes)

        w(engine, "store_output", "sources.outputs.store_output", after=stored)
        w(engine, "assertion_group_to_json", "reports.assertion_group_to_json")
        w(engine, "get_writer", "reports.get_writer")

        def written(s, res, args, kwargs):
            writer, key = args[0], args[1]
            path = os.path.join(getattr(writer, "dest", ""), key)
            if os.path.isfile(path):
                self.count(s, "reports.bytes", os.path.getsize(path))

        w(writers.FileWriter, "write_report", "reports.write_report", after=written)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _subclasses(cls) -> list[type]:
    out, todo = [], [cls]
    while todo:
        c = todo.pop()
        for sub in c.__subclasses__():
            out.append(sub)
            todo.append(sub)
    return out


def _tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------------------
# Spark status store rollup
# ---------------------------------------------------------------------------

STAGE_FIELDS = {
    "tasks": lambda s: s.numCompleteTasks(),
    "executor_run_s": lambda s: s.executorRunTime() / 1000.0,
    "executor_cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "gc_s": lambda s: s.jvmGcTime() / 1000.0,
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
}


@dataclass
class JobRecord:
    job_id: int
    start_ms: float
    end_ms: float
    span: int | None  # innermost tagged span, or None
    stages: int = 0
    metrics: dict = field(default_factory=dict)


class StatusRollup:
    """Reads jobs and stages finished since the last call from the
    status store and charges each job to the innermost traced span whose
    tag it carries."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark._jsc.sc()
        self.last_job = -1
        self.seen_stages: set[int] = set()

    def drain_events(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def new_jobs(self, depth_of: dict[int, int]) -> list[JobRecord]:
        """Jobs after the last call, each charged to the deepest span of
        ``depth_of`` (span id -> depth) among its tags. With no spans the
        jobs are only skipped over."""
        self.drain_events()
        store = self.jsc.statusStore()
        jobs = store.jobsList(None)
        jvm = self.spark._jvm
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self.last_job:
                break  # the store lists jobs newest first
            if not depth_of:
                out.append(JobRecord(jid, 0.0, 0.0, None))
                continue
            sub, comp = j.submissionTime(), j.completionTime()
            start = sub.get().getTime() if sub.isDefined() else 0
            end = comp.get().getTime() if comp.isDefined() else start
            tags = [j.jobTags().apply(k) for k in range(j.jobTags().size())]
            spans = [int(t[2:]) for t in tags if t.startswith("pb") and t[2:].isdigit()]
            spans = [s for s in spans if s in depth_of]
            rec = JobRecord(jid, float(start), float(end),
                            max(spans, key=depth_of.get) if spans else None)
            stage_ids = [j.stageIds().apply(k) for k in range(j.stageIds().size())]
            for sid in stage_ids:
                if sid in self.seen_stages:
                    continue
                self.seen_stages.add(sid)
                attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False,
                                           self.spark._sc._gateway.new_array(jvm.double, 0))
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if st.status().toString() == "SKIPPED":
                        continue
                    rec.stages += 1
                    for key, get in STAGE_FIELDS.items():
                        rec.metrics[key] = rec.metrics.get(key, 0) + get(st)
            out.append(rec)
        if out:
            self.last_job = max(r.job_id for r in out)
        return out


def attribute_untagged(jobs: list[JobRecord], spans: list[Span], epoch_ms: float) -> None:
    """A job with no traced tag (a streaming micro-batch started on a
    query thread) goes to the deepest span that was open when it was
    submitted. With one client thread that span is unique."""
    for j in jobs:
        if j.span is not None:
            continue
        best = None
        for s in spans:
            lo, hi = s.start * 1000 + epoch_ms, s.end * 1000 + epoch_ms
            if lo <= j.start_ms <= hi and (best is None or s.depth > best.depth):
                best = s
        j.span = best.id if best else None


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------

def progress_listener(sink: list):
    """A StreamingQueryListener appending one dict per micro-batch.

    It hands the JVM its own callback object: pyspark's stock one converts
    every query-started event first, and that conversion fails on queries
    started while job tags are set, which is every traced query."""
    from pyspark import SparkContext
    from pyspark.sql.streaming import StreamingQueryListener
    from pyspark.sql.streaming.listener import QueryProgressEvent

    class Callbacks:
        def onQueryStarted(self, jevent):
            pass

        def onQueryProgress(self, jevent):
            p = QueryProgressEvent.fromJObject(jevent).progress
            state = list(p.stateOperators or [])
            sink.append({
                "duration": dict(p.durationMs or {}),
                "rows": p.numInputRows,
                "state_commit_ms": sum(s.commitTimeMs for s in state),
                "state_rows": sum(s.numRowsTotal for s in state),
                "state_bytes": sum(s.memoryUsedBytes for s in state),
            })

        def onQueryIdle(self, jevent):
            pass

        def onQueryTerminated(self, jevent):
            pass

        class Java:
            implements = ["org.apache.spark.sql.streaming.PythonStreamingQueryListener"]

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        @property
        def _jlistener(self):
            if not hasattr(self, "_jobj"):
                self._jobj = SparkContext._jvm.PythonStreamingQueryListenerWrapper(
                    Callbacks())
            return self._jobj

    return Progress()


# ---------------------------------------------------------------------------
# Per-unit layer table
# ---------------------------------------------------------------------------

def unit_metrics(spans: list[Span], jobs: list[JobRecord], epoch_ms: float,
                 cores: int) -> dict[str, float]:
    """Per-layer numbers of one traced unit. ``spans`` are the unit's spans,
    the first being its root; ``jobs`` are the Spark jobs it ran."""
    root = spans[0]
    wall = root.end - root.start
    out: dict[str, float] = {"trace.wall_s": wall}
    selfs = self_times(spans)
    by_id = {s.id: s for s in spans}
    for s in spans:
        key = SELF_TIME_METRIC.get(s.name, "trace.unmapped_s")
        out[key] = out.get(key, 0.0) + selfs[s.id]
        for k, v in s.counts.items():
            out[k] = out.get(k, 0) + v
    lo_ms, hi_ms = root.start * 1000 + epoch_ms, root.end * 1000 + epoch_ms
    intervals = []
    for j in jobs:
        span = by_id.get(j.span)
        key = JOB_COUNT_METRIC.get(span.name) if span is not None else None
        if key:
            out[key] = out.get(key, 0) + 1
        out["spark.jobs"] = out.get("spark.jobs", 0) + 1
        out["spark.stages"] = out.get("spark.stages", 0) + j.stages
        for k, v in j.metrics.items():
            out[f"spark.{k}"] = out.get(f"spark.{k}", 0) + v
        lo, hi = max(j.start_ms, lo_ms), min(j.end_ms, hi_ms)
        if hi > lo:
            intervals.append((lo, hi))
    out["driver.no_job_s"] = wall - union_length(intervals) / 1000.0
    out["spark.busy_frac"] = out.get("spark.executor_run_s", 0.0) / (wall * cores)
    return out
