"""Benchmark-side tracing: spans around calls into each layer.

`Tracer.install()` replaces the public entry points named in `SHIMS`
with wrappers that record a span (name, layer, start, end, parent, op
id) while a traced operation is open, and call straight through
otherwise. Spans stay in memory; `layer_self()` turns them into
per-layer self times (span duration minus the time its child spans
cover), and `dump()` writes them out at exit.

Spark job, stage and task counts are attributed per operation through
job groups: `Tracer.group(tag)` sets one for the calls that follow, and
each op reads its jobs back from the status tracker when it ends.

The wrappers copy the wrapped function's module and qualified name, so
cloudpickle still ships a wrapped function to Python workers by
reference and the workers run the unwrapped original.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
from contextlib import contextmanager
from typing import Dict, List

import numpy as np

#: layers in report order; `unattributed` is the operation's own time
#: outside every traced call (benchmark loop, the Searcher facade)
LAYERS = (
    "parser", "plans", "pushdown", "index.reader", "sqlgen", "exec_df",
    "exec_wand", "eval_local", "local_serve", "index.maintenance",
    "index.builder", "spark",
)
UNATTRIBUTED = "unattributed"

#: (module, attribute path, layer). Class methods are patched on the
#: class; module functions are also rebound wherever another
#: lucille_spark module imported them by name.
SHIMS = (
    ("lucille_spark.index.reader", "parse", "parser"),
    ("lucille_spark.index.reader", "SparkIndex.plan", "plans"),
    ("lucille_spark.pushdown", "file_prune_bounds", "pushdown"),
    ("lucille_spark.index.reader", "SparkIndex.__init__", "index.reader"),
    ("lucille_spark.index.reader", "SparkIndex.segments_for", "index.reader"),
    ("lucille_spark.index.reader", "SparkIndex.flat_for", "index.reader"),
    ("lucille_spark.index.reader", "SparkIndex.view_of", "index.reader"),
    ("lucille_spark.index.reader", "SparkIndex.refresh_deletes", "index.reader"),
    ("lucille_spark.sqlgen", "compile_search", "sqlgen"),
    ("lucille_spark.exec_df", "DataFrameExecutor.search", "exec_df"),
    ("lucille_spark.exec_df", "DataFrameExecutor.warmup", "exec_df"),
    ("lucille_spark.exec_wand", "WandExecutor.search", "exec_wand"),
    ("lucille_spark.exec_wand", "WandExecutor.warmup", "exec_wand"),
    ("lucille_spark.exec_wand", "build_postings_bulk", "exec_wand"),
    ("lucille_spark.eval_local", "evaluate", "eval_local"),
    ("lucille_spark.eval_local", "top_k", "eval_local"),
    ("lucille_spark.local_serve", "LocalSearcher.__init__", "local_serve"),
    ("lucille_spark.local_serve", "LocalSearcher.search", "local_serve"),
    ("lucille_spark.local_serve", "LocalSearcher.refresh_deletes", "local_serve"),
    ("lucille_spark.index.maintenance", "delete_docs", "index.maintenance"),
    ("lucille_spark.index.maintenance", "disk_usage", "index.maintenance"),
    ("lucille_spark.index.builder", "IndexBuilder.build", "index.builder"),
    ("pyspark.sql.classic.dataframe", "DataFrame.collect", "spark"),
    ("pyspark.sql.classic.dataframe", "DataFrame.toPandas", "spark"),
    ("pyspark.sql.classic.dataframe", "DataFrame.count", "spark"),
    ("pyspark.sql.session", "SparkSession.sql", "spark"),
    ("pyspark.sql.session", "SparkSession.createDataFrame", "spark"),
    ("pyspark.sql.readwriter", "DataFrameReader.parquet", "spark"),
    ("pyspark.sql.readwriter", "DataFrameWriter.parquet", "spark"),
)


def walk(span: "Span"):
    """The span and all its descendants, depth first."""
    yield span
    for c in span.children:
        yield from walk(c)


class Span:
    __slots__ = ("op", "kind", "name", "layer", "parent", "t0", "t1",
                 "children", "info")

    def __init__(self, op, kind, name, layer, parent):
        self.op = op
        self.kind = kind
        self.name = name
        self.layer = layer
        self.parent = parent
        self.t0 = time.perf_counter()
        self.t1 = None
        self.children: List[Span] = []
        self.info: Dict[str, object] = {}

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_time(self) -> float:
        return self.dur - sum(c.dur for c in self.children)


def _keep_plan(span, args, kw, out) -> None:
    span.info["node"] = out


def _keep_prune_call(span, args, kw, out) -> None:
    ix, exact = args[0], args[1] if len(args) > 1 else kw["exact"]
    intervals = args[2] if len(args) > 2 else kw.get("intervals", ())
    span.info["call"] = (ix, list(exact), list(intervals))


class Tracer:
    """Records spans of traced operations. One per benchmark run."""

    def __init__(self, spark):
        self.spark = spark
        self.roots: List[Span] = []
        # only the thread that opened an op traces it (Searcher warmup
        # runs the WAND warmup on a helper thread)
        self._tl = threading.local()
        self._n = 0
        self._patched: List[tuple] = []
        self._groups: Dict[int, List[str]] = {}
        # span name -> callback(span, args, kwargs, result), run after
        # the span has closed: keep what the counters need, computed
        # after the run
        self.on_span_end: Dict[str, object] = {
            "plans.plan": _keep_plan,
            "index.reader.segments_for": _keep_prune_call,
            "index.reader.flat_for": _keep_prune_call,
        }

    @property
    def _stack(self) -> List[Span]:
        return getattr(self._tl, "stack", [])

    @_stack.setter
    def _stack(self, value: List[Span]) -> None:
        self._tl.stack = value

    # -- operations ------------------------------------------------
    @contextmanager
    def op(self, kind: str):
        """One traced operation: the root span that layer spans nest
        under. Every op gets its own id; its Spark counts are read when
        it ends."""
        self._n += 1
        root = Span(self._n, kind, kind, None, None)
        self._stack = [root]
        try:
            yield root
        finally:
            root.t1 = time.perf_counter()
            self._stack = []
            self.roots.append(root)
            self._spark_counts(root)

    def group(self, tag: str) -> None:
        """Put the Spark jobs the calls that follow start into a job
        group of the current op (tag separates sub-calls)."""
        root = self._stack[0]
        gid = f"perfbench-{root.op}-{tag}"
        self.spark.sparkContext.setJobGroup(gid, gid)
        self._groups.setdefault(root.op, []).append(gid)

    def _spark_counts(self, root: Span) -> None:
        """Store jobs / stages / tasks of each of the op's job groups in
        root.info (read after the op's span has closed)."""
        gids = self._groups.pop(root.op, [])
        if not gids:
            return
        st = self.spark.sparkContext.statusTracker()
        for gid in gids:
            tag = gid.rsplit("-", 1)[1]
            jobs = st.getJobIdsForGroup(gid)
            stages = set()
            for j in jobs:
                ji = st.getJobInfo(j)
                if ji is not None:
                    stages.update(ji.stageIds)
            tasks = 0
            for s in stages:
                si = st.getStageInfo(s)
                if si is not None:
                    tasks += si.numTasks
            c = root.info.setdefault("spark", {})
            c[tag] = {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    @property
    def active(self) -> bool:
        """Whether this thread is inside a traced op."""
        return bool(self._stack)

    @contextmanager
    def span(self, name: str):
        """A benchmark-side span inside the current op; its self time
        counts as unattributed."""
        if not self._stack:
            yield None
            return
        s = Span(self._stack[0].op, None, name, None, self._stack[-1])
        self._stack[-1].children.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()

    # -- shims -----------------------------------------------------
    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kw):
            stack = tracer._stack
            # untraced, or a recursive call of the same entry point
            # (eval_local.evaluate walks the plan through itself)
            if not stack or stack[-1].name == name:
                return fn(*args, **kw)
            s = Span(stack[0].op, None, name, layer, stack[-1])
            stack[-1].children.append(s)
            stack.append(s)
            try:
                out = fn(*args, **kw)
            finally:
                s.t1 = time.perf_counter()
                stack.pop()
            cb = tracer.on_span_end.get(name)
            if cb is not None:
                cb(s, args, kw, out)
            return out

        return wrapper

    def install(self) -> None:
        # import every traced module first, so each by-name import of a
        # traced function exists when that function is rebound
        mods = {m: importlib.import_module(m) for m, _, _ in SHIMS}
        for mod_name, path, layer in SHIMS:
            mod = mods[mod_name]
            owner = mod
            *owners, attr = path.split(".")
            for p in owners:
                owner = getattr(owner, p)
            orig = getattr(owner, attr)
            name = f"{layer}.{'open' if attr == '__init__' else attr}"
            wrapped = self._wrap(orig, name, layer)
            targets = [owner]
            if owner is mod:
                # exec_wand imports evaluate, top_k and file_prune_bounds
                # by name
                targets += [
                    m for n, m in list(sys.modules.items())
                    if n.startswith("lucille_spark") and m is not mod
                    and getattr(m, attr, None) is orig
                ]
            for t in targets:
                setattr(t, attr, wrapped)
                self._patched.append((t, attr, orig))

    def uninstall(self) -> None:
        for t, attr, orig in reversed(self._patched):
            setattr(t, attr, orig)
        self._patched = []

    # -- reporting -------------------------------------------------
    def ops(self, kind: str) -> List[Span]:
        return [r for r in self.roots if r.kind == kind]

    def layer_self(self, roots: List[Span]) -> Dict[str, float]:
        """Total self seconds per layer (plus unattributed) over the
        given ops; the values add up to the ops' total wall time."""
        out = {k: 0.0 for k in (*LAYERS, UNATTRIBUTED)}
        for root in roots:
            for s in walk(root):
                out[s.layer or UNATTRIBUTED] += s.self_time
        return out

    def calls(self, roots: List[Span]) -> Dict[str, int]:
        out = {k: 0 for k in LAYERS}
        for root in roots:
            for s in walk(root):
                if s.layer is not None:
                    out[s.layer] += 1
        return out

    def by_name(self, roots: List[Span]) -> Dict[str, dict]:
        """Per span path (e.g. `df/spark.collect`): call count and p50
        of self and total time, microseconds."""
        acc: Dict[str, list] = {}
        for root in roots:
            for top in root.children:
                # benchmark sub-spans (df, wand, read, write) prefix the
                # layer spans under them, so executors stay apart
                prefix = f"{top.name}/" if top.layer is None else ""
                for s in walk(top):
                    key = s.name if s is top else prefix + s.name
                    acc.setdefault(key, []).append((s.self_time, s.dur))
        return {
            k: {
                "calls": len(v),
                "self_us_p50": float(np.median([a for a, _ in v])) * 1e6,
                "total_us_p50": float(np.median([b for _, b in v])) * 1e6,
            }
            for k, v in sorted(acc.items())
        }

    def dump(self, path: str, summary: dict) -> None:
        def enc(s: Span):
            return {
                "name": s.name, "layer": s.layer,
                "start": s.t0, "end": s.t1,
                "self_s": s.self_time,
                "children": [enc(c) for c in s.children],
            }

        spans = [
            {"op": r.op, "kind": r.kind, "info": r.info, **enc(r)}
            for r in self.roots
        ]
        with open(path, "w") as f:
            json.dump({"summary": summary, "ops": spans}, f)
