"""Spans recorded by the benchmark around its calls into the engine.

A span is ``(id, name, layer, start, end, parent, rid)``: times are wall
seconds (``time.time()``) so spans from the load-generator process and
from Spark's streaming progress line up with in-process ones; ``rid``
groups the spans of one request (a query, a dashboard call, a trigger).
Spans stay in memory and are written as JSON lines when the run ends.

Self time: a span's duration minus the part its active child spans
cover.  Spans on different threads can overlap; an instant covered by
several innermost spans is split equally between them, so the self
times of one run add up to the run's wall time and no instant is
counted twice.

Run as a script to summarize a trace::

    python3 perfbench/spans.py .perfbench/results/applog_dau-seed1.spans.jsonl

It prints self time per layer and, when the untraced and traced result
files of the same workload and seed sit beside the trace, the tracing
overhead on every end-to-end metric (traced minus untraced).
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

#: spans past this count are dropped (and counted) so a hot wrapped
#: function cannot exhaust memory
MAX_SPANS = 300_000


class Tracer:
    """In-memory span recorder.  Disabled tracers record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.dropped = 0
        self.root_id: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[tuple[int, object]]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def new_id(self) -> int:
        return next(self._ids)

    def add(
        self,
        name: str,
        layer: str,
        start: float,
        end: float,
        parent: int | None = None,
        rid: object = None,
        sid: int | None = None,
    ) -> int:
        """Record a finished span (also used for spans measured elsewhere:
        the load generator's POSTs, Spark's per-trigger phases)."""
        sid = self.new_id() if sid is None else sid
        if not self.enabled:
            return sid
        with self._lock:
            if len(self.spans) >= MAX_SPANS:
                self.dropped += 1
                return sid
            self.spans.append(
                {
                    "id": sid,
                    "name": name,
                    "layer": layer,
                    "start": start,
                    "end": end,
                    "parent": parent,
                    "rid": rid,
                }
            )
        return sid

    @contextmanager
    def span(self, name: str, layer: str, rid: object = None):
        """Time the enclosed block as a child of this thread's open span
        (or of the root span when the thread has none)."""
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent, parent_rid = stack[-1] if stack else (self.root_id, None)
        rid = parent_rid if rid is None else rid
        sid = self.new_id()
        stack.append((sid, rid))
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            stack.pop()
            self.add(name, layer, t0, t1, parent, rid, sid=sid)

    def write_jsonl(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


#: engine module prefix -> layer its public functions are attributed to
ENGINE_LAYERS = [
    ("gmallrealtime02_spark.streaming.http_ingest", "http_ingest"),
    ("gmallrealtime02_spark.streaming.jobs", "streaming"),
    ("gmallrealtime02_spark.streaming.manifest", "manifest"),
    ("gmallrealtime02_spark.plans", "plans"),
    ("gmallrealtime02_spark.operators", "operators"),
    ("gmallrealtime02_spark.functions", "functions"),
    ("gmallrealtime02_spark.serving", "serving"),
    ("gmallrealtime02_spark.sources.tables", "sources"),
]
#: ManifestTable methods timed as ``manifest`` spans
MANIFEST_METHODS = ["read", "upsert", "current_version", "files", "history", "manifest"]
#: DataFrame actions timed as ``spark`` spans
SPARK_ACTIONS = ["collect", "count", "toPandas", "toArrow"]


def _traced(tracer: Tracer, fn, span_name: str, layer: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(span_name, layer):
            return fn(*args, **kwargs)

    return traced


def instrument_engine(tracer: Tracer) -> None:
    """Wrap every public function defined in the engine modules of
    ``ENGINE_LAYERS``, the ``MANIFEST_METHODS`` and the Spark actions so
    each call records a span.  Every engine module's ``from x import f`` binding of a
    wrapped function is rebound too, so calls through either name are
    seen.  Executors import the modules afresh and run unwrapped code."""
    import importlib
    import pkgutil

    pkg = importlib.import_module("gmallrealtime02_spark")
    for info in pkgutil.walk_packages(pkg.__path__, "gmallrealtime02_spark."):
        importlib.import_module(info.name)
    engine = {n: m for n, m in sys.modules.items() if n.startswith("gmallrealtime02_spark")}
    swap: dict[int, object] = {}
    for name, mod in engine.items():
        layer = next((lay for pre, lay in ENGINE_LAYERS if name.startswith(pre)), None)
        if layer is None:
            continue
        for attr, fn in list(vars(mod).items()):
            if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != name:
                continue
            swap[id(fn)] = _traced(tracer, fn, f"{name.rsplit('.', 1)[-1]}.{attr}", layer)
    for mod in engine.values():
        for attr, fn in list(vars(mod).items()):
            if inspect.isfunction(fn) and id(fn) in swap:
                setattr(mod, attr, swap[id(fn)])
    from gmallrealtime02_spark.streaming.manifest import ManifestTable

    for meth in MANIFEST_METHODS:
        fn = ManifestTable.__dict__[meth]
        setattr(ManifestTable, meth, _traced(tracer, fn, f"ManifestTable.{meth}", "manifest"))
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    for cls, meths in ((DataFrame, SPARK_ACTIONS), (DataFrameWriter, ["save"])):
        for meth in meths:
            fn = cls.__dict__[meth]
            setattr(cls, meth, _traced(tracer, fn, f"{cls.__name__}.{meth}", "spark"))


def adopt(spans: list[dict], parents: list[dict], orphan_parent: int | None) -> None:
    """Re-parent spans whose parent is ``orphan_parent`` (they were opened
    on a thread with no open span) under the innermost span of
    ``parents`` whose interval contains them.  Used to hang the
    foreachBatch sink's manifest spans under the streaming trigger that
    ran them."""
    by_start = sorted(parents, key=lambda p: (p["start"], -p["end"]))
    for s in spans:
        if s["parent"] != orphan_parent:
            continue
        best = None
        for p in by_start:
            if p["start"] > s["start"]:
                break
            if p["end"] >= s["end"] and p["id"] != s["id"]:
                if best is None or p["end"] - p["start"] <= best["end"] - best["start"]:
                    best = p
        if best is not None:
            s["parent"] = best["id"]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self seconds per layer (see the module docstring for the rule on
    overlapping spans).  Instants no span covers are not counted."""
    bounds = []
    for s in spans:
        if s["end"] > s["start"]:
            bounds.append((s["start"], 1, s))
            bounds.append((s["end"], 0, s))
    bounds.sort(key=lambda b: (b[0], b[1]))
    active: dict[int, dict] = {}
    open_children: dict[int, int] = defaultdict(int)
    counted: set[int] = set()  # children that hold a count on their parent
    out: dict[str, float] = defaultdict(float)
    prev_t = None
    for t, is_start, s in bounds:
        if prev_t is not None and t > prev_t and active:
            leaves = [a for sid, a in active.items() if open_children[sid] == 0]
            share = (t - prev_t) / len(leaves)
            for a in leaves:
                out[a["layer"]] += share
        prev_t = t
        if is_start:
            active[s["id"]] = s
            if s["parent"] in active:
                open_children[s["parent"]] += 1
                counted.add(s["id"])
        else:
            active.pop(s["id"], None)
            if s["id"] in counted:
                counted.discard(s["id"])
                open_children[s["parent"]] -= 1
    return dict(out)


def _read_jsonl(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def summarize(spans_path: str) -> str:
    spans = _read_jsonl(spans_path)
    lines = []
    st = self_times(spans)
    wall = max(s["end"] for s in spans) - min(s["start"] for s in spans)
    lines.append(f"trace {spans_path}: {len(spans)} spans, wall {wall:.3f} s")
    for layer, sec in sorted(st.items(), key=lambda kv: -kv[1]):
        lines.append(f"  {layer:<12} self {sec:9.3f} s  {100 * sec / wall:5.1f}%")
    lines.append(f"  {'sum':<12} self {sum(st.values()):9.3f} s")
    stem = spans_path[: -len(".spans.jsonl")]
    pair = [f"{stem}-trace{t}.json" for t in (0, 1)]
    if all(os.path.exists(p) for p in pair):
        with open(pair[0]) as f0, open(pair[1]) as f1:
            untraced, traced = json.load(f0), json.load(f1)
        lines.append("tracing overhead (traced - untraced):")
        for name, v0 in sorted(untraced["e2e"].items()):
            v1 = traced["e2e"].get(name)
            if v1 is None:
                continue
            rel = f" ({100 * (v1 - v0) / v0:+.1f}%)" if v0 else ""
            lines.append(f"  {name:<20} {v1 - v0:+.4f}{rel}")
    else:
        lines.append("tracing overhead: run the same workload and seed with --trace 0 and --trace 1")
    return "\n".join(lines)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: python3 perfbench/spans.py <run>.spans.jsonl")
    print(summarize(sys.argv[1]))
