"""In-memory spans around the engine's layer calls, and what they add up to.

A span records ``(id, name, layer, op, parent, start, end)``; a span
outside every operation belongs to the op ``setup``.  Spans nest
per thread, so the streaming ingestor's callback thread and the reading
client each build their own trees.  Nothing is recorded while the tracer is
disabled: ``span`` then yields at once, so the untraced run pays one
function call per probe site and no more.

``probes`` installs the layer wrappers for the traced run only, by
replacing module attributes and instance methods at the seams the engine
calls through, and puts every one back on exit.
"""

from __future__ import annotations

import contextlib
import importlib
import inspect
import itertools
import pkgutil
import pydoc
import threading
import time
from collections import defaultdict
from pathlib import Path

#: Layers a span can belong to.  ``bench`` is the benchmark's own op root
#: (result checks excluded), ``engine`` the TSDB facade call, ``spark`` the
#: action that executes a plan.
LAYERS = ("bench", "engine", "spark", "session", "model", "segment_store",
          "prompb", "loaders", "matchers", "tsdb_ops", "promql_parser",
          "promql", "streaming", "workloads", "operators", "native_hist")


class Tracer:
    def __init__(self, enabled: bool, sc=None) -> None:
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {"id": next(self._ids), "name": name, "layer": layer,
               "op": op or (parent["op"] if parent else "setup"),
               "parent": parent["id"] if parent else None,
               "start": time.perf_counter(), "end": None}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    @contextlib.contextmanager
    def op(self, kind: str, op_id: str, layer: str = "bench"):
        """Root span of one operation, run under its own Spark job group so
        the jobs, stages and tasks it caused can be counted afterwards."""
        if not self.enabled:
            yield None
            return
        self.sc.setJobGroup(op_id, kind)
        try:
            with self.span(kind, layer, op=op_id) as rec:
                yield rec
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec.update(self.job_stats(op_id))

    def job_stats(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    stages += 1
                    tasks += stage.numTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def wrap(self, fn, name: str, layer: str) -> "Traced":
        return Traced(self, fn, name, layer)

    def dump(self, path: Path) -> None:
        import json

        path.parent.mkdir(parents=True, exist_ok=True)
        with self._lock:
            spans = sorted(self.spans, key=lambda s: s["id"])
        path.write_text(json.dumps(spans))


class Traced:
    """A callable that runs ``fn`` inside a span.  Pickled (say, as part of
    a UDF shipped to a Python worker) it turns back into the plain ``fn``,
    looked up by name, so no tracer state leaves the driver."""

    def __init__(self, tracer: Tracer, fn, name: str, layer: str) -> None:
        self.tracer, self.__wrapped__, self.name, self.layer = tracer, fn, name, layer
        self.__name__ = getattr(fn, "__name__", name)
        self.__doc__ = getattr(fn, "__doc__", None)

    def __call__(self, *args, **kwargs):
        with self.tracer.span(self.name, self.layer):
            return self.__wrapped__(*args, **kwargs)

    def __reduce__(self):
        fn = self.__wrapped__
        return pydoc.locate, (f"{fn.__module__}.{fn.__qualname__}",)


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        a, b = s["start"], s["end"]
        cover = _covered([(max(c["start"], a), min(c["end"], b))
                          for c in children[s["id"]] if c["end"] > a and c["start"] < b])
        out[s["id"]] = (b - a) - cover
    return out


def layer_self_per_op(spans: list[dict]) -> dict[str, float]:
    """Mean self time per root op, by layer, over every traced op."""
    own = self_times(spans)
    roots = [s for s in spans if s["parent"] is None]
    total: dict[str, float] = defaultdict(float)
    for s in spans:
        total[s["layer"]] += own[s["id"]]
    n = max(len(roots), 1)
    return {layer: total[layer] / n for layer in LAYERS}


@contextlib.contextmanager
def probes(tracer: Tracer, store=None):
    """Wrap the layer seams the engine calls through (traced run only)."""
    if not tracer.enabled:
        yield
        return
    from mandodb_spark import model, operators
    from mandodb_spark.functions import native_hist, promql_parser
    from mandodb_spark.operators import tsdb_ops
    from mandodb_spark.sources import segment_store

    patches = [
        (segment_store, "canonicalize", "canonicalize", "model"),
        (model, "canonicalize", "canonicalize", "model"),
        (tsdb_ops, "query_range", "query_range", "tsdb_ops"),
        (tsdb_ops, "query_series", "query_series", "tsdb_ops"),
        (tsdb_ops, "query_label_values", "query_label_values", "tsdb_ops"),
        (tsdb_ops, "matchers_predicate", "matchers_predicate", "matchers"),
        (promql_parser, "parse", "parse", "promql_parser"),
        (promql_parser, "eval_instant", "eval_instant", "promql"),
        (promql_parser, "eval_range", "eval_range", "promql"),
    ]
    # every public function of the other operator modules and of the
    # native-histogram functions, which the declared queries call through
    # their modules' attributes
    modules = [(native_hist, "native_hist")] + [
        (importlib.import_module(f"{operators.__name__}.{m.name}"), "operators")
        for m in pkgutil.iter_modules(operators.__path__) if m.name != "tsdb_ops"]
    for module, layer in modules:
        patches += [(module, name, name, layer)
                    for name, fn in vars(module).items()
                    if inspect.isfunction(fn) and not name.startswith("_")
                    and fn.__module__ == module.__name__]
    if store is not None:
        patches += [(store, "append", "append", "segment_store"),
                    (store, "relation", "relation", "segment_store")]
    saved = []
    for obj, attr, name, layer in patches:
        saved.append((obj, attr, obj.__dict__.get(attr)))
        setattr(obj, attr, tracer.wrap(getattr(obj, attr), name, layer))
    try:
        yield
    finally:
        for obj, attr, old in reversed(saved):
            if old is None:
                delattr(obj, attr)  # an instance method: fall back to the class
            else:
                setattr(obj, attr, old)
