"""In-memory span recorder that wraps the program's public functions.

A span records name, start, end, parent span, request id and the phase
of the benchmark it ran in.  Spans nest per thread; a span's self time
is its duration minus the time its child spans cover.  Nothing is
written until ``dump`` is called at exit.  Wrappers are installed on
module and class attributes, so only calls that go through those
attributes are seen (calls inside forked pool workers or Spark
executors are not).
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "rid", "phase", "child", "attrs")

    def __init__(self, sid, name, parent, rid, phase):
        self.id, self.name, self.parent, self.rid, self.phase = sid, name, parent, rid, phase
        self.start = time.perf_counter()
        self.end = None
        self.child = 0.0
        self.attrs: dict = {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.dur - self.child


class Tracer:
    def __init__(self) -> None:
        self.spans: list = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.phase = "init"
        self.inflight = 0
        self.inflight_max = 0

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, owner, attr: str, name: str, root: bool = False, on_exit=None) -> None:
        """Replace ``owner.attr`` by a function recording one span per
        call.  ``root`` starts a new request id (one per served request);
        ``on_exit(span, args, kwargs, result)`` adds counts to the span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            st = self._stack()
            parent = st[-1] if st else None
            sid = next(self._ids)
            rid = sid if (root or parent is None) else parent.rid
            phase = parent.phase if parent is not None else self.phase
            span = Span(sid, name, parent.id if parent else None, rid, phase)
            st.append(span)
            if root:
                with self._lock:
                    self.inflight += 1
                    self.inflight_max = max(self.inflight_max, self.inflight)
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                span.end = time.perf_counter()
                st.pop()
                if parent is not None:
                    parent.child += span.dur
                if root:
                    with self._lock:
                        self.inflight -= 1
                if on_exit is not None:
                    on_exit(span, args, kwargs, result)
                self.spans.append(span)  # list.append is atomic

        setattr(owner, attr, wrapper)

    def select(self, name: str, phase: str | None = None) -> list:
        return [s for s in self.spans if s.name == name and (phase is None or s.phase == phase)]

    def span_cost_s(self, n: int = 4000, reps: int = 5) -> float:
        """Measured cost of recording one span (enter + exit): the median
        over ``reps`` loops of ``n`` calls."""
        class _O:
            @staticmethod
            def f():
                return None

        costs = []
        for _ in range(reps):
            sink = Tracer()
            sink.wrap(_O, "f", "probe")
            t = time.perf_counter()
            for _ in range(n):
                _O.f()
            costs.append((time.perf_counter() - t) / n)
            _O.f = staticmethod(_O.f.__wrapped__)
        return statistics.median(costs)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": s.id,
                        "name": s.name,
                        "start": s.start,
                        "end": s.end,
                        "parent": s.parent,
                        "rid": s.rid,
                        "phase": s.phase,
                        "self": s.self_time,
                        **s.attrs,
                    }
                    for s in self.spans
                ],
                f,
            )


def _count_blocks(span, args, kwargs, result):
    cursors = args[0]
    span.attrs["blocks_in_lists"] = sum(c.n_blocks for c in cursors)


def _decoded_all(span, args, kwargs, result):
    span.attrs["blocks"] = len(args[0].block_first)
    span.attrs["postings"] = len(result[0]) if result is not None else 0


def _decoded_selected(span, args, kwargs, result):
    span.attrs["blocks"] = len(args[1])
    span.attrs["postings"] = len(result[0]) if result is not None else 0


def _fill(span, args, kwargs, result):
    heap, k = args[0], args[2]
    span.attrs["k"] = k
    span.attrs["filled"] = max(0, min(k, len(result or [])) - len(heap))


def install(tracer: Tracer) -> None:
    """Wrap every layer boundary the per-layer metrics read."""
    from lean_explore_spark.api import server
    from lean_explore_spark.index import builder, codec
    from lean_explore_spark.query import search, wand
    from lean_explore_spark.sources import pages
    from lean_explore_spark.streaming import incremental

    tracer.wrap(pages, "assign_doc_ids", "pages.assign_doc_ids")
    for m in ("build", "write_staging", "write_doc_stats", "pack_shards", "write_dictionary"):
        tracer.wrap(builder.IndexBuilder, m, f"builder.{m}")
    tracer.wrap(codec, "unpack_all", "codec.unpack", on_exit=_decoded_all)
    tracer.wrap(codec, "unpack_selected", "codec.unpack", on_exit=_decoded_selected)
    for m in ("blockmax_bulk_shard", "bulk_score_shard", "wand_shard"):
        tracer.wrap(wand, m, "wand.score", on_exit=_count_blocks)
    tracer.wrap(wand, "finalize_topk", "wand.finalize", on_exit=_fill)
    eng = search.SearchEngine
    tracer.wrap(eng, "__init__", "search.open")
    tracer.wrap(eng, "analyze_query", "tokenizer.analyze_query")
    tracer.wrap(eng, "search_tokens", "search.search_tokens")
    tracer.wrap(eng, "search_tokens_routed", "search.search_tokens_routed")
    tracer.wrap(eng, "search_tokens_parallel", "search.search_tokens_parallel")
    tracer.wrap(server.SearchAPI, "lexical_search", "api.lexical_search", root=True)
    tracer.wrap(incremental, "register_segment", "incremental.register_segment")
    tracer.wrap(incremental, "compact_tiered", "incremental.compact_tiered")
    tracer.wrap(incremental.SegmentedSearch, "__init__", "incremental.open")
    tracer.wrap(incremental.SegmentedSearch, "search", "incremental.search", root=True)
