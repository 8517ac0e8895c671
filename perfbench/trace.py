"""Per-layer tracing for the benchmark's traced runs.

Spans are recorded from this package only, never inside the engine: the
engine's public layer functions are wrapped by module-attribute
replacement (every module of the engine package that bound the function
gets the wrapper), and the benchmark opens its own spans around the calls
it makes. Each span runs under its own Spark job group; after the session
stops, the local Spark event log is read and every job, stage and task is
attributed to a span by that group. Jobs without a group (those submitted
from the engine's own worker threads) are attributed to the innermost span
open when they were submitted.

Layer calls return lazy DataFrames, so under tracing a wrapped call
materializes its result (``localCheckpoint(eager=True)``) inside its span.
That is what lets a span own its work; it also runs the analyzer families
one after another instead of concurrently, which is part of the tracing
overhead the benchmark reports. The tracer keeps the ids of the RDDs those
checkpoints persist, so what an operation leaves cached can be counted
without them.

Some functions are recorded rather than spanned: their return values are
kept on the span of the layer that calls them (``RECORDED``), so a metric
can be read from what the engine itself computed.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from dataclasses import dataclass, field

PACKAGE = "pyspark_data_drift_detector_spark"

# (module, function, layer, materialize the returned DataFrame in the span)
LAYER_FUNCTIONS = [
    ("pipeline", "detect_drift", "pipeline", False),
    ("functions.inference", "infer_column_types", "inference", False),
    ("operators.profile", "numeric_profile_pair", "profile", True),
    ("operators.numeric_drift", "numeric_drift_from_joined", "profile", True),
    ("operators.categorical_drift", "categorical_drift", "categorical", True),
    ("operators.correlation", "correlation_pairs", "correlation", True),
    ("operators.correlation", "correlation_shifts", "correlation", True),
    ("operators.groups", "group_drift", "groups", True),
    ("report", "build_report", "report", False),
    ("sources.snapshot", "write_results", "sources", False),
    ("sources.snapshot", "write_versioned_snapshot", "sources", False),
    ("operators.dedup", "minhash_lsh_pairs", "dedup.lsh", True),
    ("operators.dedup", "neardup_clusters", "dedup.cluster", True),
    ("operators.dedup", "dedup_survivors", "dedup.survivors", True),
]

# (module, function, calling layer, key): return values kept on the
# calling layer's span without opening a span of their own
RECORDED = [
    ("operators.frequency", "pair_frequency_cells", "categorical", "cells"),
]

# spans that other layer calls may nest in; a layer call made inside any
# other span belongs to that span (e.g. the numeric scorer that a
# windowed mergeable query calls is mergeable work, not profile work)
CONTAINERS = {None, "op", "pipeline"}

# families that run inside detect_drift; their spans feed pipeline.overlap
FAMILIES = ("inference", "profile", "categorical", "correlation", "groups")


@dataclass
class Span:
    sid: int
    layer: str
    parent: int | None
    t0: float
    t1: float = 0.0
    outputs: list = field(default_factory=list)
    recorded: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.sid}"


class Tracer:
    """Span recorder. ``enabled=False`` makes every hook a no-op, so the
    untraced run executes exactly the calls the traced one does."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        #: ids of the RDDs the tracer's own checkpoints persisted
        self.own_rdds: set[int] = set()

    # -- spans ---------------------------------------------------------------
    def _current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def _set_group(self, span: Span | None) -> None:
        jsc = self.spark.sparkContext._jsc
        if span is None:
            jsc.clearJobGroup()
        else:
            jsc.setJobGroup(span.group, span.layer, False)

    def open(self, layer: str) -> Span | None:
        if not self.enabled:
            return None
        cur = self._current()
        span = Span(len(self.spans), layer, cur.sid if cur else None, time.time())
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.t1 = time.time()
        self._stack.pop()
        self._set_group(self._current())

    def span(self, layer: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.s = tracer.open(layer)
                return self.s

            def __exit__(self, *exc):
                tracer.close(self.s)
                return False

        return _Ctx()

    # -- wrapping ------------------------------------------------------------
    def install(self) -> None:
        if not self.enabled:
            return
        import importlib

        wrappers = [(mod, fn, self._wrap(layer, eager)) for mod, fn, layer, eager in LAYER_FUNCTIONS]
        wrappers += [(mod, fn, self._record(layer, key)) for mod, fn, layer, key in RECORDED]
        for mod_name, fn_name, make in wrappers:
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            original = getattr(mod, fn_name)
            wrapper = make(original)
            for name, loaded in list(sys.modules.items()):
                if not (name == PACKAGE or name.startswith(PACKAGE + ".")):
                    continue
                for attr, value in list(vars(loaded).items()):
                    if value is original:
                        self._patched.append((loaded, attr, original))
                        setattr(loaded, attr, wrapper)

    def uninstall(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()

    def _wrap(self, layer: str, eager: bool):
        from pyspark.sql import DataFrame

        tracer = self

        def make(fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                cur = tracer._current()
                if (cur.layer if cur else None) not in CONTAINERS:
                    return fn(*args, **kwargs)
                span = tracer.open(layer)
                try:
                    out = fn(*args, **kwargs)
                    if eager and isinstance(out, DataFrame):
                        out = out.localCheckpoint(eager=True)
                        tracer.own_rdds.add(out._jdf.logicalPlan().rdd().id())
                    span.outputs.append(out)
                    return out
                finally:
                    tracer.close(span)

            return wrapper

        return make

    def _record(self, layer: str, key: str):
        tracer = self

        def make(fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                out = fn(*args, **kwargs)
                cur = tracer._current()
                if cur is not None and cur.layer == layer:
                    cur.recorded.setdefault(key, []).append(out)
                return out

            return wrapper

        return make

    def outputs(self, op: Span, layer: str) -> list:
        """Return values of the ``layer`` spans nested in ``op``."""
        return [o for s in self.descendants(op) if s.layer == layer for o in s.outputs]

    def recorded(self, op: Span, key: str) -> list:
        """Values recorded under ``key`` on the spans nested in ``op``."""
        return [o for s in self.descendants(op) for o in s.recorded.get(key, [])]

    def descendants(self, span: Span) -> list[Span]:
        out, frontier = [], {span.sid}
        for s in self.spans[span.sid + 1 :]:
            if s.parent in frontier:
                out.append(s)
                frontier.add(s.sid)
        return out


# -- event log -----------------------------------------------------------------


@dataclass
class Task:
    start: float
    end: float
    gc_s: float
    spill_bytes: int
    shuffle_write: int
    records_read: int
    failed: bool


@dataclass
class SparkWork:
    """Jobs, stages and tasks attributed to span ids."""

    jobs: dict[int, int] = field(default_factory=dict)
    stages: dict[int, int] = field(default_factory=dict)
    tasks: dict[int, list[Task]] = field(default_factory=dict)


def read_event_log(event_dir: str, spans: list[Span]) -> SparkWork:
    files = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one Spark event log in {event_dir}, found {len(files)}")
    by_group = {s.group: s.sid for s in spans}

    def at(ms: int) -> int | None:
        t = ms / 1000.0
        best = None
        for s in spans:
            if s.t0 <= t <= s.t1 and (best is None or s.t0 >= best.t0):
                best = s
        return best.sid if best else None

    work = SparkWork()
    stage_owner: dict[int, int | None] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                sid = by_group.get(group) if group else at(ev["Submission Time"])
                if sid is None:
                    continue
                work.jobs[sid] = work.jobs.get(sid, 0) + 1
                for stage in ev["Stage IDs"]:
                    stage_owner.setdefault(stage, sid)
            elif kind == "SparkListenerStageSubmitted":
                stage = ev["Stage Info"]["Stage ID"]
                sid = stage_owner.get(stage)
                if sid is not None:
                    work.stages[sid] = work.stages.get(sid, 0) + 1
            elif kind == "SparkListenerTaskEnd":
                sid = stage_owner.get(ev["Stage ID"])
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                if sid is None:
                    continue
                work.tasks.setdefault(sid, []).append(
                    Task(
                        start=info["Launch Time"] / 1000.0,
                        end=info["Finish Time"] / 1000.0,
                        gc_s=m.get("JVM GC Time", 0) / 1000.0,
                        spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        shuffle_write=(m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        records_read=(m.get("Input Metrics") or {}).get("Records Read", 0),
                        failed=bool(info.get("Failed")) or info.get("Killed", False),
                    )
                )
    return work


def busy_seconds(tasks: list[Task], t0: float, t1: float) -> float:
    """Length of the part of [t0, t1] during which any task was running."""
    iv = sorted((max(t.start, t0), min(t.end, t1)) for t in tasks if t.end > t0 and t.start < t1)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class OpView:
    """Per-layer aggregates over one operation's span subtree."""

    def __init__(self, tracer: Tracer, work: SparkWork, op: Span):
        self.op = op
        self.work = work
        self.tree = [op, *tracer.descendants(op)]
        self._children: dict[int, list[Span]] = {}
        for s in self.tree:
            if s.parent is not None:
                self._children.setdefault(s.parent, []).append(s)

    def of(self, layer: str) -> list[Span]:
        return [s for s in self.tree if s.layer == layer]

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self._children.get(s.sid, []))
        return out

    def total(self, spans: list[Span], table: dict) -> int:
        """Sum of ``table`` (jobs or stages per span id) over the spans' subtrees."""
        return sum(table.get(x.sid, 0) for s in spans for x in self.subtree(s))

    def tasks(self, spans: list[Span]) -> list[Task]:
        return [t for s in spans for x in self.subtree(s) for t in self.work.tasks.get(x.sid, [])]

    def seconds(self, layer: str) -> float:
        return sum(s.t1 - s.t0 for s in self.of(layer))

    def jobs(self, layer: str) -> int:
        return self.total(self.of(layer), self.work.jobs)

    def stages(self, layer: str) -> int:
        return self.total(self.of(layer), self.work.stages)

    def shuffle_mb(self, layer: str) -> float:
        return sum(t.shuffle_write for t in self.tasks(self.of(layer))) / 1e6

    def max_task_s(self, layer: str) -> float:
        return max((t.end - t.start for t in self.tasks(self.of(layer))), default=0.0)

    def driver_s(self, layer: str) -> float:
        total = 0.0
        for s in self.of(layer):
            total += (s.t1 - s.t0) - busy_seconds(self.tasks([s]), s.t0, s.t1)
        return total

    def all_tasks(self) -> list[Task]:
        return self.tasks([self.op])
