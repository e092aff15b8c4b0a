"""Per-layer metrics of a traced run.

``operation`` brackets one timed operation (an ingest() call, a
crash+resume cycle, one pass over the query mix). When the operation is
traced it opens a root span, switches the engine wrappers on, and cuts
Spark's status stores at the operation's borders. ``Layers`` turns the
spans and the status-store cuts of each traced operation into one
sample per metric; the run reports the median sample.

Every workload reports every name in ``PER_LAYER`` and ``QUERY_LAYER``.
A layer the workload does not exercise reads 0 (the query mix makes no
state commits, the ingest workloads run no registered query).
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager, nullcontext

import sparkstats
import tracing

QUERY_NAMES = (
    "dedup_minhash_signatures", "dedup_substring_exact", "sim_knn_blocked",
    "text_chunk_udtf", "mm_image_ahash", "q1_pricing_summary",
    "q3_shipping_priority", "q5_regional_revenue", "q18_large_orders",
    "q21_waiting_suppliers", "join_shuffle_hash", "dedup_ngram_jaccard",
    "ts_session_window",
)

_SPARK = (
    ("tasks", "count"), ("executor_run_s", "s"), ("executor_cpu_s", "s"),
    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
    ("python_start_s", "s"), ("python_init_s", "s"), ("python_run_s", "s"),
    ("python_bytes_in", "bytes"), ("python_bytes_out", "bytes"),
)

# (name, unit, better)
PER_LAYER: tuple[tuple[str, str, str], ...] = (
    ("session.start_s", "s", "lower"),
    ("sources.scan_stages", "count", "lower"),
    ("sources.scan_task_s", "s", "lower"),
    ("sources.rows_read_per_row_delivered", "ratio", "lower"),
    ("chunker.stats_pass_s", "s", "lower"),
    ("chunker.jobs", "count", "lower"),
    ("chunker.self_s", "s", "lower"),
    ("pipeline.first_row_s", "s", "lower"),
    ("pipeline.drain_wait_s", "s", "lower"),
    ("pipeline.drain_jobs", "count", "lower"),
    *((f"pipeline.{k}", u, "lower") for k, u in _SPARK),
    ("pipeline.driver_only_s", "s", "lower"),
    ("pipeline.self_s", "s", "lower"),
    ("integrity.checksum_s", "s", "lower"),
    ("integrity.bytes_hashed", "bytes", "lower"),
    ("integrity.self_s", "s", "lower"),
    ("sink.ack_p50_ms", "ms", "lower"),
    ("sink.ack_p99_ms", "ms", "lower"),
    ("sink.ack_max_ms", "ms", "lower"),
    ("sink.busy_s", "s", "lower"),
    ("sink.chunks_sent", "count", "lower"),
    ("sink.retries", "count", "lower"),
    ("sink.nacks", "count", "lower"),
    ("sink.injected_nacks", "count", "lower"),
    ("sink.bytes_sent", "bytes", "lower"),
    ("sink.self_s", "s", "lower"),
    ("state.commits", "count", "lower"),
    ("state.commit_s", "s", "lower"),
    ("state.commit_p99_ms", "ms", "lower"),
    ("state.wal_bytes", "bytes", "lower"),
    ("state.snapshot_s", "s", "lower"),
    ("state.open_s", "s", "lower"),
    ("state.resume_resend_ratio", "ratio", "lower"),
    ("state.self_s", "s", "lower"),
    ("ingest_records_per_s", "1/s", "higher"),
    ("first_ack_s", "s", "lower"),
    ("resume_s", "s", "lower"),
    ("bar_ratio", "ratio", "lower"),
    ("trace.self_s", "s", "lower"),
    ("trace.residual_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
)

# The registry/ops layers, which only the query_mix workload exercises.
QUERY_LAYER: tuple[tuple[str, str, str], ...] = (
    *((f"query.{q}_s", "s", "lower") for q in QUERY_NAMES),
    *((f"ops.{k}", u, "lower") for k, u in _SPARK),
    ("ops.driver_only_s", "s", "lower"),
    ("registry.self_s", "s", "lower"),
    ("query_python_s", "s", "lower"),
    ("query_jvm_s", "s", "lower"),
)

# Layer -> the span names whose self time belongs to it.
SELF_TIME = {
    "chunker.self_s": ("chunker.assign",),
    "pipeline.self_s": ("pipeline.ingest", "pipeline.deliver", "pipeline.drain_wait"),
    "sink.self_s": ("sink.emit",),
    "integrity.self_s": ("integrity.checksum",),
    "state.self_s": ("state.commit", "state.snapshot", "state.open"),
    "registry.self_s": tuple(f"query.{q}" for q in QUERY_NAMES),
    "trace.self_s": ("trace.status",),
}

# perf_counter() + this = epoch seconds, the clock of Spark's job spans
_EPOCH = time.time() - time.perf_counter()


class Op:
    def __init__(self, layers, traced: bool, kind: str):
        self.layers = layers
        self.traced = traced
        self.kind = kind
        self.calls: list[tuple] = []  # (start, wall, first ACK time or None)
        self.first_rows: list[float] = []
        self.root = -1
        self.spark_from = 0
        self.wall = 0.0

    def span(self, name: str, request_id: str = ""):
        if not self.traced:
            return nullcontext(None)
        tracer = self.layers.tracer
        if name != "pipeline.ingest":
            return tracer.span(name, request_id)

        @contextmanager
        def ingest_span():
            tracer.counters.pop("pipeline.first_row", None)
            with tracer.span(name, request_id) as idx:
                yield idx
            first = tracer.counters.get("pipeline.first_row")
            if first is not None:
                self.first_rows.append(first - tracer.spans[idx][1])

        return ingest_span()

    def request(self, root, request_id: str) -> None:
        if self.traced and root is not None:
            self.layers.tracer.set_request(root, request_id)

    def cut(self, label: str = "other") -> None:
        if self.traced:
            self.layers.tracer.spark_cut(label)

    def spark(self, label: str | None = None) -> list[dict]:
        cuts = self.layers.tracer.spark[self.spark_from :]
        return [d for lab, d in cuts if label is None or lab == label]


@contextmanager
def operation(layers, traced: bool, kind: str):
    """One timed operation. ``op.wall`` is read from the clock around the
    whole block, apart from the tracer, so a traced operation's spans
    can be reconciled against it."""
    op = Op(layers, traced and layers is not None, kind)
    t0 = time.perf_counter()
    if not op.traced:
        yield op
        op.wall = time.perf_counter() - t0
        return
    tracer = layers.tracer
    op.spark_from = len(tracer.spark)
    tracer.enabled = True
    try:
        with tracer.span(f"op.{kind}") as root:
            op.root = root
            with tracer.span("trace.status"):
                tracer.status.mark()
            yield op
            op.cut("other")
    finally:
        tracer.enabled = False
        op.wall = time.perf_counter() - t0


def _sum(dicts: list[dict], key: str) -> float:
    return float(sum(d[key] for d in dicts))


def _driver_only(cuts: list[dict], start: float, wall: float) -> float:
    spans = [s for d in cuts for s in d["job_spans"]]
    lo = start + _EPOCH
    return wall - sparkstats.union_seconds(spans, lo, lo + wall)


def _pct(xs: list[float], q: float) -> float:
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(round(q * (len(xs) - 1))))]


class Layers:
    def __init__(self, spark):
        self.tracer = tracing.Tracer()
        tracing.instrument(self.tracer)
        self.tracer.status = sparkstats.StatusReader(spark)
        self.samples: dict[str, list[float]] = {}
        self.acks_ms: list[float] = []
        self.commits_ms: list[float] = []
        self.reconcile: list[dict] = []

    def _add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(float(value))

    def _self_times(self, op: Op) -> None:
        """Layer self times of one traced operation, and how they add up
        against the operation's wall time: layers + residual (the root
        span's own time) should be the wall, up to the few statements
        outside the root span. A span name no layer claims is listed as
        unmapped; its time would be missing from the sum."""
        selfs = self.tracer.self_times(op.root)
        if min(selfs.values()) < -1e-6:
            raise AssertionError(f"negative self time: {selfs}")
        by_layer = {m: sum(selfs.get(n, 0.0) for n in names) for m, names in SELF_TIME.items()}
        for metric, v in by_layer.items():
            self._add(metric, v)
        root = f"op.{op.kind}"
        residual = selfs[root]
        self._add("trace.residual_s", residual)
        mapped = {n for names in SELF_TIME.values() for n in names}
        self.reconcile.append({
            "wall_s": op.wall,
            "layers_s": sum(by_layer.values()),
            "residual_s": residual,
            "self_s": by_layer,
            "unmapped": sorted(set(selfs) - mapped - {root}),
        })

    def ingest_op(self, op: Op, rec, n_rows: int, resend: float = 0.0) -> None:
        from data_ingestion_pimcore_spark.sink import ChunkValidator

        t = self.tracer
        dur = lambda name: t.durations(op.root, name)  # noqa: E731
        self._self_times(op)
        calls = max(1, len(op.calls))
        every, chunker, pipe = op.spark(), op.spark("chunker"), op.spark("pipeline")
        scans = [s for d in every for s in d["stages"] if s["input_records"] > 0]
        self._add("sources.scan_stages", len(scans) / calls)
        self._add("sources.scan_task_s", sum(s["executor_run_s"] for s in scans) / calls)
        self._add("sources.rows_read_per_row_delivered", sum(s["input_records"] for s in scans) / n_rows)
        self._add("chunker.stats_pass_s", sum(dur("chunker.assign")))
        self._add("chunker.jobs", _sum(chunker, "jobs"))
        self._add("pipeline.first_row_s", statistics.median(op.first_rows) if op.first_rows else 0.0)
        self._add("pipeline.drain_wait_s", sum(dur("pipeline.drain_wait")))
        self._add("pipeline.drain_jobs", _sum(pipe, "jobs"))
        for k, _ in _SPARK:
            self._add(f"pipeline.{k}", _sum(pipe, k))
        self._add(
            "pipeline.driver_only_s",
            sum(_driver_only(every, start, wall) for start, wall, _ in op.calls),
        )
        self._add("integrity.checksum_s", sum(dur("integrity.checksum")))
        in_process = isinstance(rec.inner, ChunkValidator)
        self._add("integrity.bytes_hashed", rec.bytes_sent if in_process else 0)
        emits = dur("sink.emit")
        self.acks_ms.extend(1e3 * x for x in emits)
        self._add("sink.busy_s", sum(emits))
        self._add("sink.chunks_sent", len(rec.acked))
        self._add("sink.retries", rec.attempts - len(rec.acked))
        self._add("sink.nacks", rec.nacks)
        self._add("sink.injected_nacks", rec.injected)
        self._add("sink.bytes_sent", rec.bytes_sent)
        commits = dur("state.commit")
        self.commits_ms.extend(1e3 * x for x in commits)
        self._add("state.commits", len(commits))
        self._add("state.commit_s", sum(commits))
        wal = t.counters.pop("state.wal_bytes", 0.0)
        self._add("state.wal_bytes", wal)
        self._add("state.snapshot_s", sum(dur("state.snapshot")))
        self._add("state.open_s", sum(dur("state.open")))
        self._add("state.resume_resend_ratio", resend)

    def query_op(self, op: Op, walls: dict[str, float]) -> None:
        self._self_times(op)
        for name, wall in walls.items():
            self._add(f"query.{name}_s", wall)
        cuts = []
        for name in walls:
            cuts.extend(op.spark(f"query:{name}"))
        for k, _ in _SPARK:
            self._add(f"ops.{k}", _sum(cuts, k))
        spans = self.tracer.spans
        driver_only = 0.0
        for i in self.tracer.tree(op.root):
            name = spans[i][0]
            if name.startswith("query."):
                start, wall = spans[i][1], spans[i][2] - spans[i][1]
                driver_only += _driver_only(op.spark(f"query:{name[6:]}"), start, wall)
        self._add("ops.driver_only_s", driver_only)

    def finish(self, run, untraced: list[float], traced: list[float]) -> dict:
        out = {name: 0.0 for name, _, _ in PER_LAYER + QUERY_LAYER}
        for name, xs in self.samples.items():
            if name in out:
                out[name] = statistics.median(xs)
        out["sink.ack_p50_ms"] = _pct(self.acks_ms, 0.5)
        out["sink.ack_p99_ms"] = _pct(self.acks_ms, 0.99)
        out["sink.ack_max_ms"] = max(self.acks_ms, default=0.0)
        out["state.commit_p99_ms"] = _pct(self.commits_ms, 0.99)
        out["session.start_s"] = run.setup.get("session_s", 0.0)
        for name in ("ingest_records_per_s", "first_ack_s", "resume_s", "bar_ratio",
                     "query_python_s", "query_jvm_s"):
            out[name] = run.result.get(name, 0.0)
        if traced and untraced:
            out["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
        run.per_layer = out
        run.reconcile = self.reconcile
        return out
