"""Spans around the engine's public functions, kept in memory.

The traced run wraps public functions of ``chunker`` (as ``pipeline``
calls them), ``pipeline``, ``sink``, ``integrity`` and ``state`` so each
call records a span: name, start, end, parent and request id (the
ingestion id, or the query name). Nothing is written until the run
ends. A layer's self time is the time of its spans minus the time of
the spans nested in them, so the self times of all spans under an
operation add up to that operation's wall time.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        # [name, start, end, parent index or -1, request id]
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.counters: dict[str, float] = {}
        # Off between traced operations: the wrappers then call straight
        # through, so untraced operations in the same run pay no spans.
        self.enabled = False
        # sparkstats.StatusReader while tracing; the chunker and drain
        # wrappers cut the Spark work of an operation at their borders.
        self.status = None
        self.spark: list[tuple[str, dict]] = []

    def spark_cut(self, label: str) -> None:
        """Attribute the Spark work since the last cut to ``label``."""
        if self.status is not None:
            with self.span("trace.status"):
                self.spark.append((label, self.status.collect()))

    @contextmanager
    def span(self, name: str, request_id: str = ""):
        parent = self._stack[-1] if self._stack else -1
        if not request_id and parent >= 0:
            request_id = self.spans[parent][4]
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, request_id])
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self.spans[idx][2] = time.perf_counter()
            self._stack.pop()

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + value

    def set_request(self, root: int, request_id: str) -> None:
        """Stamp a request id learned only after the call returned."""
        for i in range(root, len(self.spans)):
            if i == root or self._under(i, root):
                self.spans[i][4] = request_id

    def _under(self, i: int, root: int) -> bool:
        p = self.spans[i][3]
        while p >= 0:
            if p == root:
                return True
            p = self.spans[p][3]
        return False

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        def traced(*a, **k):
            if not self.enabled:
                return orig(*a, **k)
            with self.span(name):
                return orig(*a, **k)

        setattr(owner, attr, traced)

    def tree(self, root: int) -> list[int]:
        return [i for i in range(root, len(self.spans)) if i == root or self._under(i, root)]

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per span name under ``root`` (root included)."""
        idx = self.tree(root)
        child = {i: 0.0 for i in idx}
        for i in idx:
            p = self.spans[i][3]
            if i != root and p in child:
                child[p] += self.spans[i][2] - self.spans[i][1]
        out: dict[str, float] = {}
        for i in idx:
            name, a, b = self.spans[i][0], self.spans[i][1], self.spans[i][2]
            out[name] = out.get(name, 0.0) + (b - a) - child[i]
        return out

    def durations(self, root: int, name: str) -> list[float]:
        return [
            self.spans[i][2] - self.spans[i][1]
            for i in self.tree(root)
            if self.spans[i][0] == name
        ]


def instrument(tracer: Tracer) -> None:
    """Wrap the engine's public functions for the rest of the process."""
    from data_ingestion_pimcore_spark import pipeline, sink, state

    for attr in ("assign_chunks_by_count", "assign_chunks_by_bytes"):
        orig_assign = getattr(pipeline, attr)

        def assign(*a, _orig=orig_assign, **k):
            if not tracer.enabled:
                return _orig(*a, **k)
            tracer.spark_cut("other")
            with tracer.span("chunker.assign"):
                out = _orig(*a, **k)
            tracer.spark_cut("chunker")
            return out

        setattr(pipeline, attr, assign)
    tracer.wrap(pipeline, "send_chunk_with_retry", "sink.emit")
    tracer.wrap(sink, "compute_checksum", "integrity.checksum")
    tracer.wrap(state.IngestionStateStore, "update_chunk", "state.commit")

    orig_complete = state.IngestionStateStore.mark_completed

    def mark_completed(self, ingestion_id):
        if not tracer.enabled:
            return orig_complete(self, ingestion_id)
        if os.path.exists(self.log_path):
            tracer.add("state.wal_bytes", os.path.getsize(self.log_path))
        with tracer.span("state.snapshot"):
            return orig_complete(self, ingestion_id)

    state.IngestionStateStore.mark_completed = mark_completed

    orig_deliver = pipeline.deliver_payloads

    def deliver_payloads(payloads, *a, **k):
        if not tracer.enabled:
            return orig_deliver(payloads, *a, **k)
        orig_iter = payloads.toLocalIterator

        def to_local_iterator(*ia, **ik):
            it = orig_iter(*ia, **ik)

            def rows():
                while True:
                    with tracer.span("pipeline.drain_wait"):
                        try:
                            row = next(it)
                        except StopIteration:
                            return
                    if "pipeline.first_row" not in tracer.counters:
                        tracer.counters["pipeline.first_row"] = time.perf_counter()
                    yield row

            return rows()

        payloads.toLocalIterator = to_local_iterator
        with tracer.span("pipeline.deliver"):
            out = orig_deliver(payloads, *a, **k)
        tracer.spark_cut("pipeline")
        return out

    pipeline.deliver_payloads = deliver_payloads
