"""Traced runs: spans around the engine's layer entry points, recorded from
outside the engine.

`build_and_write`, `build_kg` and the resumable CLI body look their stages
up as module attributes at call time, so replacing those attributes with
wrappers puts a span around each layer without editing engine code. Each
wrapper

  * sets a Spark job group named for its span, so the status store can
    attribute every stage the layer runs;
  * forces its lazy result inside the span (persist + count), so the work
    lands in the layer that defined it rather than in whichever consumer
    runs first;
  * records name, start, end, parent span and output rows.

Self time is a span's duration minus the part of it that child spans
cover; the op's wall time minus its top-level spans is reported as the
uncovered share.
"""

from __future__ import annotations

import importlib
import itertools
import threading
import time
from contextlib import contextmanager

_PKG = "llm_knowledge_graph_spark"


def _force_df(df):
    df = df.persist()
    return df, df.count()


def _force_pair(pair):
    a, b = (d.persist() for d in pair)
    return (a, b), a.count() + b.count()


def _eager(result):
    return result, None


# (layer, module, attribute, how the result is forced inside the span)
TARGETS = [
    ("extract", "operators.extract", "extract_pages_flat", _force_df),
    ("merge", "operators.merge", "merge_nodes", _force_df),
    ("merge", "operators.merge", "merge_edges", _force_df),
    ("linking", "operators.linking", "similarity_edges", _force_df),
    ("components", "operators.components", "canonical_mapping", _force_df),
    ("rewrite", "plans.pipeline", "rewrite_canonical", _force_pair),
    ("materialize", "operators.materialize", "write_graph", _eager),
    ("embed", "operators.embed", "write_embeddings", _eager),
    ("checkpoint", "operators.checkpoint", "run_stage_resumable", _force_df),
]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self.calls: dict = {}      # layer -> [(args, kwargs, result)]
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root = None
        self._saved: list = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str):
        """A span; threads the engine starts (build_kg merges nodes and
        edges on a pool) parent their spans to the current root."""
        sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        group = f"{sid}:{layer}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, layer)
        rec = {"id": sid, "name": layer, "parent": parent, "group": group,
               "rows": None, "start": time.perf_counter()}
        stack.append(sid)
        if parent is None:
            self._root = sid
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self._root == sid:
                self._root = None
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                self.spans.append(rec)

    def _wrap(self, layer, fn, force):
        def traced(*args, **kwargs):
            with self.span(layer) as rec:
                out, rows = force(fn(*args, **kwargs))
                rec["rows"] = rows
            with self._lock:
                self.calls.setdefault(layer, []).append((args, kwargs, out))
            return out
        return traced

    def install(self) -> None:
        for layer, mod, attr, force in TARGETS:
            m = importlib.import_module(f"{_PKG}.{mod}")
            orig = getattr(m, attr)
            self._saved.append((m, attr, orig))
            setattr(m, attr, self._wrap(layer, orig, force))

    def uninstall(self) -> None:
        for m, attr, orig in reversed(self._saved):
            setattr(m, attr, orig)
        self._saved.clear()

    # ------------------------------------------------------------ analysis

    def self_times(self, root_id: int) -> dict:
        """layer -> summed self seconds over the spans under `root_id`."""
        by_id = {s["id"]: s for s in self.spans}
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        out: dict = {}

        def covered(s) -> float:
            # union of child intervals (pool threads can overlap)
            iv = sorted((c["start"], c["end"]) for c in kids.get(s["id"], []))
            total, cur_s, cur_e = 0.0, None, None
            for a, b in iv:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        total += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                total += cur_e - cur_s
            return total

        def walk(sid):
            for c in kids.get(sid, []):
                out[c["name"]] = out.get(c["name"], 0.0) + (
                    c["end"] - c["start"] - covered(c))
                walk(c["id"])

        walk(root_id)
        root = by_id[root_id]
        out["uncovered"] = root["end"] - root["start"] - covered(root)
        return out

    def rows(self, layer: str) -> int:
        return sum(s["rows"] or 0 for s in self.spans if s["name"] == layer)

    def groups_of(self, layer: str) -> list:
        return [s["group"] for s in self.spans if s["name"] == layer]


def sum_groups(snapshot: dict, groups: list, key: str):
    return sum(snapshot.get(g, {}).get(key, 0) for g in groups)


def scanned_files(df) -> int:
    """Parquet files the executed plan of `df` read (SQL metric numFiles
    of every file scan, through adaptive and query-stage wrappers)."""
    total = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        p = todo.pop()
        name = p.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(p.executedPlan())
            continue
        if hasattr(p, "plan") and "QueryStage" in p.getClass().getSimpleName():
            todo.append(p.plan())
            continue
        metrics = p.metrics()
        if metrics.contains("numFiles"):
            total += metrics.apply("numFiles").value()
        kids = p.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return total
