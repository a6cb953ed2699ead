"""Outside-in layer tracing for the traced run.

Spans are recorded around calls into each layer's public functions from
the benchmark's own files: the tracer wraps each function and rebinds
every module attribute that holds the original, because callers bind
them with ``from … import``. Nothing is added inside the program.

A span is (name, start, end, parent, request). Calls made on worker
threads get no parent; their request is read from the Spark job group
the benchmark set, which worker threads inherit. Spans stay in memory
and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

from pyspark import SparkContext

# (layer span name, module, attribute) of every traced public function.
TARGETS = (
    ("session.get_spark", "polkadot_etl_spark.session", "get_spark"),
    ("session.warm", "polkadot_etl_spark.benchutil", "warm_session"),
    ("sources.load_table", "polkadot_etl_spark.sources.tables", "load_table"),
    ("sources.scan_splits", "polkadot_etl_spark.sources.tables", "scan_splits"),
    ("sources.write", "polkadot_etl_spark.sources.tables", "write_day_partitioned"),
    ("plans.expr_cache", "polkadot_etl_spark.plans.exprmemo", "expr_cache"),
    ("operators.connected_components", "polkadot_etl_spark.operators.graph", "connected_components"),
    ("operators.connected_components_star", "polkadot_etl_spark.operators.graph", "connected_components_star"),
    ("operators.kmeans_lloyd", "polkadot_etl_spark.operators.kmeans", "kmeans_lloyd"),
    ("operators.kmeans_parallel_init", "polkadot_etl_spark.operators.kmeans", "kmeans_parallel_init"),
    ("operators.pagerank", "polkadot_etl_spark.operators.pagerank", "pagerank"),
    ("operators.asof_join", "polkadot_etl_spark.operators.asof", "asof_join"),
    ("operators.band_join_best_match", "polkadot_etl_spark.operators.band", "band_join_best_match"),
    ("operators.bloom_build", "polkadot_etl_spark.operators.bloom", "bloom_build"),
    ("operators.bloom_probe", "polkadot_etl_spark.operators.bloom", "bloom_probe"),
    ("operators.upsert_day_partitioned", "polkadot_etl_spark.operators.merge", "upsert_day_partitioned"),
    ("streaming.collect_bounded_stream", "polkadot_etl_spark.streaming.replay", "collect_bounded_stream"),
)

OPERATOR_SPANS = tuple(name for name, _, _ in TARGETS if name.startswith("operators."))


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None


class Tracer:
    """In-memory span recorder plus the patching that feeds it."""

    def __init__(self):
        self.spans: list[Span] = []
        self.request: str | None = None  # set by the harness on the main thread
        self.expr_cache_misses: list[int] = []  # span indices that built a tree
        self._load_table_returns: dict[int, object] = {}  # held, so an id is never reused
        self.load_table_hits = 0  # returns identical to an earlier return
        self._stack = threading.local()
        self._lock = threading.Lock()
        self._wrappers: dict[int, tuple[object, object]] = {}  # id(wrapper) -> (wrapper, original)
        self._installed = False

    # ---- spans -------------------------------------------------------
    def _frames(self) -> list[int]:
        st = getattr(self._stack, "frames", None)
        if st is None:
            st = self._stack.frames = []
        return st

    def _current_request(self) -> str | None:
        if threading.current_thread() is threading.main_thread():
            return self.request
        sc = SparkContext._active_spark_context
        group = sc.getLocalProperty("spark.jobGroup.id") if sc is not None else None
        return group.split(".")[0] if group else None

    def open(self, name: str) -> int:
        frames = self._frames()
        span = Span(name, time.perf_counter(), 0.0, frames[-1] if frames else None, self._current_request())
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        frames.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._frames().pop()

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.open(name)
        try:
            yield idx
        finally:
            self.close(idx)

    # ---- patching ----------------------------------------------------
    def _wrap(self, name: str, fn):
        tracer = self

        if name == "plans.expr_cache":

            @functools.wraps(fn)
            def wrapper(key, build):
                idx = tracer.open(name)
                try:

                    def counted_build():
                        with tracer._lock:
                            tracer.expr_cache_misses.append(idx)
                        return build()

                    return fn(key, counted_build)
                finally:
                    tracer.close(idx)

            return wrapper

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = tracer.open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(idx)
            if name == "sources.load_table":
                with tracer._lock:
                    if id(out) in tracer._load_table_returns:
                        tracer.load_table_hits += 1
                    else:
                        tracer._load_table_returns[id(out)] = out
            return out

        return wrapper

    def install(self) -> None:
        """Wrap every target and rebind each module attribute bound to it."""
        if self._installed:
            return
        originals = {}
        for name, mod_name, attr in TARGETS:
            fn = getattr(importlib.import_module(mod_name), attr)
            wrapper = self._wrap(name, fn)
            originals[id(fn)] = (fn, wrapper)
            self._wrappers[id(wrapper)] = (wrapper, fn)
        self._rebind(originals)
        self._installed = True

    def uninstall(self) -> None:
        """Rebind every module attribute bound to any wrapper, including
        ones a module bound by importing while tracing was on."""
        self._rebind(self._wrappers)
        self._installed = False

    @staticmethod
    def _rebind(mapping: dict[int, tuple[object, object]]) -> None:
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("polkadot_etl_spark"):
                continue
            for key, val in list(vars(mod).items()):
                hit = mapping.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, key, hit[1])

    # ---- summaries ---------------------------------------------------
    def self_times(self, first: int = 0, last: int | None = None) -> dict[str, float]:
        """Self time per span name over spans[first:last]: each span's
        duration minus the union of its same-thread children's intervals."""
        spans = self.spans[first:last]
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for i, s in enumerate(spans, start=first):
            if s.parent is not None and s.parent >= first:
                children[s.parent].append((s.start, s.end))
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(spans, start=first):
            covered, reach = 0.0, s.start
            for a, b in sorted(children.get(i, ())):
                a = max(a, reach)
                if b > a:
                    covered += b - a
                    reach = b
            out[s.name] += (s.end - s.start) - covered
        return dict(out)

    def totals(self, first: int = 0, last: int | None = None) -> dict[str, tuple[int, float]]:
        """(calls, inclusive seconds) per span name over spans[first:last]."""
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for s in self.spans[first:last]:
            out[s.name][0] += 1
            out[s.name][1] += s.end - s.start
        return {k: (v[0], v[1]) for k, v in out.items()}

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "request": s.request}
            for s in self.spans
        ]
