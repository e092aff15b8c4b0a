"""The three workloads. Each is closed loop with one client: one
ingestion or one query at a time.

A workload function gets a ``Run`` (session, seed, time budget, tracer)
and fills ``run.result``: the end-to-end metrics, the workload's own
named metrics, the per-layer metrics of a traced run, and the number
of attempted and failed operations. Every operation's output is
checked; a failed check counts as a failed operation.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import datagen
import layers

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LINEITEM_ORDER = ("l_orderkey", "l_linenumber")
ORDERS_ORDER = ("o_orderkey",)
CHUNK_RECORDS = 4000
CHUNK_BYTES = 64 * 1024
WARMUP_INGESTS = 2
REF_LOOPS = 3
N_WORKBOOKS = 8

PYTHON_SET = (
    "dedup_minhash_signatures",
    "dedup_substring_exact",
    "sim_knn_blocked",
    "text_chunk_udtf",
    "mm_image_ahash",
)
JVM_SET = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "q18_large_orders",
    "q21_waiting_suppliers",
    "join_shuffle_hash",
    "dedup_ngram_jaccard",
    "ts_session_window",
)

# Default scale factors. At sf0.1 one operation takes 10-40 s on 4
# cores, so a run would hold one sample; these keep several operations
# inside one run's time budget.
DEFAULT_SF = {
    "ingest_parquet_count": 0.01,
    "ingest_excel_bytes_resume": 0.005,
    "query_mix": 0.01,
}


class Run:
    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool, sf: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.sf = sf
        self.rng = np.random.default_rng(seed)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup: dict[str, float] = {}
        self.result: dict[str, float] = {}
        self.layers = layers.Layers(spark) if trace else None
        self.per_layer: dict[str, float] = {}
        self.reconcile: list[dict] = []
        self.closers: list = []
        self._n = 0

    def check(self, ok: bool, what: str) -> bool:
        """One checked operation: counts as attempted, and as failed
        unless ``ok``."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)
        return ok

    def fresh(self, tag: str) -> str:
        """A fresh path inside the run's work directory."""
        self._n += 1
        return os.path.join(self.work, f"{tag}-{self._n}")

    def more(self, deadline: float, i: int, least: int) -> bool:
        """Whether to start operation ``i`` (counting from 1): keep going
        until the time is spent and at least ``least`` untraced operations
        (and, when tracing, as many traced ones) were attempted."""
        return time.perf_counter() < deadline or i <= (2 * least if self.trace else least)

    def traced_turn(self, i: int) -> bool:
        """Traced runs alternate traced and untraced operations so the
        same run measures the tracing overhead."""
        return self.trace and i % 2 == 0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _rate(records: int, walls: list[float]) -> float:
    return records / sum(walls) if walls else 0.0


def digest(acked: list[tuple[int, str]]) -> str:
    """sha256 over the ordered (chunk number, checksum) pairs."""
    body = "\n".join(f"{n}:{c}" for n, c in acked)
    return hashlib.sha256(body.encode()).hexdigest()


def _time_setup(run: Run, key: str, fn):
    t = time.perf_counter()
    out = fn()
    run.setup[key] = time.perf_counter() - t
    return out


class Recorder:
    """Transport wrapper on the client side of the consumer.

    Records every ACKed chunk (number and checksum, in order), the
    attempts, NACKs and payload bytes, and the time of the first ACK.
    ``crash_chunk`` makes every attempt at that chunk come back as a
    NACK, so the producer's bounded retry gives up with ChunkRejected:
    the injected crash."""

    def __init__(self, inner):
        self.inner = inner
        self.crash_chunk = None
        self.acked: list[tuple[int, str]] = []
        self.attempts = 0
        self.nacks = 0
        self.injected = 0
        self.bytes_sent = 0
        self.first_ack = None
        self.consumer_records = None

    def __call__(self, payload):
        from data_ingestion_pimcore_spark.sink import AckResponse, ChunkValidator

        if payload.get("status") == "COMPLETED":
            if isinstance(self.inner, ChunkValidator):
                iid = payload["ingestion_id"]
                self.consumer_records = self.inner.total_records.get(iid, 0)
            return self.inner(payload)
        n = payload["chunk_number"]
        self.attempts += 1
        if n == self.crash_chunk:
            self.injected += 1
            return AckResponse(False, payload["ingestion_id"], n, "injected crash")
        self.bytes_sent += len(payload["records_json"])
        resp = self.inner(payload)
        if resp.ack:
            if self.first_ack is None:
                self.first_ack = time.perf_counter()
            self.acked.append((n, payload["checksum"]))
        else:
            self.nacks += 1
        return resp


def _ordered_once(acked) -> bool:
    return [n for n, _ in acked] == list(range(len(acked)))


# --------------------------------------------------------------- parquet


def _ref_blob(table) -> bytes:
    import orjson

    rows = table.to_pylist()
    return orjson.dumps(rows, default=str)


def ref_loop_once(blob: bytes) -> float:
    """The reference-equivalent loop on the same rows: parse, per-record
    byte measure, 4000-record chunks, canonical sort-keys JSON + sha256,
    then the consumer's re-parse + re-dump + re-hash. Returns seconds."""
    import orjson

    t0 = time.perf_counter()
    records = orjson.loads(blob)
    for i in range(0, len(records), CHUNK_RECORDS):
        chunk = records[i : i + CHUNK_RECORDS]
        for r in chunk:
            len(orjson.dumps(r, default=str))
        body = orjson.dumps(chunk, option=orjson.OPT_SORT_KEYS, default=str)
        d = hashlib.sha256(body).hexdigest()
        again = orjson.dumps(orjson.loads(body), option=orjson.OPT_SORT_KEYS, default=str)
        assert hashlib.sha256(again).hexdigest() == d
    return time.perf_counter() - t0


def expected_count_digest(table, order_cols, chunk_size: int) -> str:
    """Digest the consumer should see for a count-mode ingest, computed
    on the driver without Spark: rows in the declared order, cut every
    ``chunk_size`` records, each chunk's sha256 over its canonical JSON."""
    from data_ingestion_pimcore_spark.integrity import compute_checksum

    rows = datagen.sorted_rows(table, list(order_cols)).to_pylist()
    acked = [
        (i // chunk_size, compute_checksum(rows[i : i + chunk_size]))
        for i in range(0, len(rows), chunk_size)
    ]
    return digest(acked)


def ingest_parquet_count(run: Run) -> None:
    from data_ingestion_pimcore_spark.config import IngestRequest
    from data_ingestion_pimcore_spark.pipeline import ingest
    from data_ingestion_pimcore_spark.sink import ChunkValidator
    from data_ingestion_pimcore_spark.state import IngestionStateStore

    path = os.path.join(run.work, "lineitem.parquet")

    def make():
        table = datagen.shuffled(datagen.tables(run.sf)["lineitem"], run.seed)
        pq.write_table(table, path)
        return table

    table = _time_setup(run, "inputs_s", make)
    n_rows = table.num_rows
    df = run.spark.read.parquet(path)

    def one(tag: str, traced: bool):
        """One ingestion. Returns (ingest() wall, recorder, op, ok); a
        raising ingest() is a failed operation."""
        req = IngestRequest(
            file_path=f"{path}#{tag}",
            file_type="parquet",
            chunk_size_by_records=CHUNK_RECORDS,
            order_cols=LINEITEM_ORDER,
        )
        rec = Recorder(ChunkValidator(retain_records=False))
        store_path = run.fresh("state") + ".parquet"
        summary = None
        with layers.operation(run.layers, traced, "ingest") as op:
            with op.span("state.open"):
                store = IngestionStateStore(store_path)
            t0 = time.perf_counter()
            with op.span("pipeline.ingest") as root:
                try:
                    summary = ingest(run.spark, req, df, store, rec)
                except Exception as exc:
                    print(f"ingest {tag} raised: {exc!r}", file=sys.stderr)
            wall = time.perf_counter() - t0
            if summary is not None:
                op.request(root, summary.ingestion_id)
        op.calls.append((t0, wall, rec.first_ack))
        ok = (
            summary is not None
            and summary.status == "COMPLETED"
            and summary.total_records == n_rows
            and rec.consumer_records == n_rows
            and rec.first_ack is not None
            and _ordered_once(rec.acked)
            and digest(rec.acked) == expected
        )
        return wall, rec, op, ok

    expected = expected_count_digest(table, LINEITEM_ORDER, CHUNK_RECORDS)
    run.result["digest"] = expected
    cold_wall, _, _, ok = one("cold", False)
    run.result["cold_s"] = cold_wall
    run.check(ok, "cold ingest: status, record count, chunk order or digest")
    # Warm-up, untimed: the next few ingestions still get faster as the
    # JVM compiles the hot paths.
    for w in range(WARMUP_INGESTS):
        run.check(one(f"warm{w}", False)[3], f"warm-up ingest {w}: status, count, order or digest")
    # The reference loop runs on the same rows in the same process, so
    # bar_ratio is paired within the run: a slower machine slows both.
    blob = _ref_blob(datagen.sorted_rows(table, list(LINEITEM_ORDER)))
    ref_loop_once(blob)
    refs = [ref_loop_once(blob) for _ in range(REF_LOOPS)]

    walls, firsts, records, traced_walls = [], [], 0, []
    deadline = time.perf_counter() + run.seconds
    i = 1
    while run.more(deadline, i, 2):
        traced = run.traced_turn(i)
        wall, rec, op, ok = one(f"run{i}", traced)
        if run.check(ok, f"ingest {i}: status, count, order or digest"):
            if traced:
                traced_walls.append(wall)
                run.layers.ingest_op(op, rec, n_rows)
            else:
                walls.append(wall)
                firsts.append(rec.first_ack - op.calls[0][0])
                records += n_rows
        i += 1
    run.result.update(
        op_s=_median(walls),
        latency_s=_median(firsts),
        ingest_records_per_s=_rate(records, walls),
        first_ack_s=_median(firsts),
        bar_ratio=_median(walls) / statistics.median(refs),
        op_walls=walls,
    )
    if run.trace:
        run.layers.finish(run, walls, traced_walls)


# ----------------------------------------------------------------- excel


def _write_workbooks(table, root: str, seed: int) -> None:
    from data_ingestion_pimcore_spark.sources.xlsx_writer import write_xlsx

    os.makedirs(root, exist_ok=True)
    cols = table.column_names
    data = table.to_pydict()
    data["o_orderdate"] = [d.isoformat() for d in data["o_orderdate"]]
    which = np.random.default_rng(seed).integers(0, N_WORKBOOKS, table.num_rows)
    rows = list(zip(*(data[c] for c in cols)))
    for w in range(N_WORKBOOKS):
        body = [list(r) for r, k in zip(rows, which) if k == w]
        write_xlsx(os.path.join(root, f"orders_{w}.xlsx"), [cols] + body)


class ConsumerProcess:
    """One ``consumer_server`` subprocess for the whole run."""

    def __init__(self):
        env = dict(os.environ)
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "data_ingestion_pimcore_spark.consumer_server"],
            stdout=subprocess.PIPE,
            text=True,
            cwd=ROOT,
            env=env,
        )
        line = self.proc.stdout.readline().split()
        if len(line) != 2 or line[0] != "PORT":
            self.close()
            raise RuntimeError(f"consumer_server did not start: {line}")
        self.base = f"http://127.0.0.1:{line[1]}"

    def records_acked(self) -> int:
        import json
        import urllib.request

        with urllib.request.urlopen(self.base + "/stats", timeout=30) as r:
            return json.loads(r.read())["records_acked"]

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        if self.proc.stdout:
            self.proc.stdout.close()


def ingest_excel_bytes_resume(run: Run) -> None:
    from data_ingestion_pimcore_spark.config import IngestRequest
    from data_ingestion_pimcore_spark.pipeline import ingest
    from data_ingestion_pimcore_spark.sink import ChunkRejected, HttpTransport
    from data_ingestion_pimcore_spark.sources import read_excel
    from data_ingestion_pimcore_spark.state import IngestionStateStore

    books = os.path.join(run.work, "workbooks")

    def make():
        table = datagen.tables(run.sf)["orders"]
        _write_workbooks(table, books, run.seed)
        return table

    table = _time_setup(run, "inputs_s", make)
    consumer = _time_setup(run, "consumer_s", ConsumerProcess)
    run.closers.append(consumer.close)
    n_rows = table.num_rows
    http = HttpTransport(consumer.base + "/callback")
    run.closers.append(http.close)

    def call(op, req, store, rec):
        """One ingest() call; returns (summary or None, what it raised or
        None, wall)."""
        t0 = time.perf_counter()
        rec.first_ack = None
        summary, raised = None, None
        with op.span("pipeline.ingest") as root:
            try:
                summary = ingest(run.spark, req, read_excel(run.spark, books), store, rec)
            except Exception as exc:
                raised = exc
        wall = time.perf_counter() - t0
        op.calls.append((t0, wall, rec.first_ack))
        if summary is not None:
            op.request(root, summary.ingestion_id)
        elif not isinstance(raised, ChunkRejected):
            print(f"ingest {req.file_path} raised: {raised!r}", file=sys.stderr)
        return summary, raised, wall

    def request(tag: str):
        return IngestRequest(
            file_path=f"{books}#{tag}",
            file_type="excel",
            chunk_size_by_memory=CHUNK_BYTES,
            order_cols=ORDERS_ORDER,
        )

    # Cold: one uninterrupted ingestion. Its digest is the reference the
    # crash+resume cycles must reproduce.
    rec = Recorder(http)
    before = consumer.records_acked()
    with layers.operation(None, False, "ingest") as op:
        summary, _, cold_wall = call(op, request("full"), IngestionStateStore(run.fresh("state") + ".parquet"), rec)
    run.result["cold_s"] = cold_wall
    full_digest = digest(rec.acked)
    n_chunks = len(rec.acked)
    if not run.check(
        summary is not None
        and summary.status == "COMPLETED"
        and summary.total_records == n_rows
        and consumer.records_acked() - before == n_rows
        and _ordered_once(rec.acked)
        and n_chunks >= 3,
        "uninterrupted ingest: status, record count or chunk order",
    ):
        if run.trace:
            run.layers.finish(run, [], [])
        return
    crash = int(run.rng.integers(max(1, n_chunks // 3), max(2, (2 * n_chunks) // 3)))
    run.result["digest"] = full_digest
    run.result["crash_chunk"] = crash
    run.result["chunks"] = n_chunks

    # One operation is a whole crash+resume cycle: every cycle delivers
    # the whole input, whatever the crash chunk.
    cycles, firsts, resumes, calls, records, traced_walls = [], [], [], [], 0, []
    deadline = time.perf_counter() + run.seconds
    i = 1
    while run.more(deadline, i, 1):
        traced = run.traced_turn(i)
        req = request(f"cycle{i}")
        store_path = run.fresh("state") + ".parquet"
        rec = Recorder(http)
        rec.crash_chunk = crash
        before = consumer.records_acked()
        with layers.operation(run.layers, traced, "cycle") as op:
            with op.span("state.open"):
                store = IngestionStateStore(store_path)
            _, crashed, crash_wall = call(op, req, store, rec)
            acked_before = len(rec.acked)
            rec.crash_chunk = None
            with op.span("state.open"):
                store = IngestionStateStore(store_path)
            summary, raised, resume_wall = call(op, req, store, rec)
        first_ack = op.calls[0][2]
        ok = (
            isinstance(crashed, ChunkRejected)
            and acked_before == crash
            and first_ack is not None
            and raised is None
            and summary.status == "COMPLETED"
            and summary.chunks_sent == n_chunks - crash
            and consumer.records_acked() - before == n_rows
            and _ordered_once(rec.acked)
            and digest(rec.acked) == full_digest
        )
        if run.check(ok, f"crash+resume cycle {i}: crash point, resend, order, count or digest"):
            if traced:
                traced_walls.append(op.wall)
                run.layers.ingest_op(op, rec, n_rows, resend=summary.chunks_sent / (n_chunks - crash))
            else:
                cycles.append(op.wall)
                resumes.append(resume_wall)
                firsts.append(first_ack - op.calls[0][0])
                calls.extend((crash_wall, resume_wall))
                records += n_rows
        i += 1
    run.result.update(
        op_s=_median(cycles),
        latency_s=_median(firsts),
        ingest_records_per_s=_rate(records, calls),
        first_ack_s=_median(firsts),
        resume_s=_median(resumes),
        op_walls=cycles,
    )
    if run.trace:
        run.layers.finish(run, cycles, traced_walls)


# ------------------------------------------------------------- query mix


def _rows(pdf) -> list[tuple]:
    import math

    def norm(v):
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return v

    cols = sorted(pdf.columns)
    return sorted(tuple(str(norm(v)) for v in row) for row in pdf[cols].itertuples(index=False))


def _oracle_rows(con, sql: str, data: str, cache: str) -> dict:
    """The oracle's result as sorted string rows, cached in ``cache``.
    The key covers the oracle SQL and the bytes of every input table, so
    a changed query or input misses the cache. Some oracles take DuckDB
    tens of seconds, the same for every seed; the cache keeps that out
    of every run but the first."""
    import json

    from data_ingestion_pimcore_spark.tables import TABLES

    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        with open(os.path.join(data, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    path = os.path.join(cache, h.hexdigest() + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    want = con.execute(sql).fetchdf()
    out = {"columns": sorted(want.columns), "rows": [list(r) for r in _rows(want)]}
    os.makedirs(cache, exist_ok=True)
    with open(path + f".{os.getpid()}", "w") as f:
        json.dump(out, f)
    os.replace(path + f".{os.getpid()}", path)
    return out


def query_mix(run: Run) -> None:
    import duckdb

    from data_ingestion_pimcore_spark import registry
    from data_ingestion_pimcore_spark.tables import TABLES

    data = os.path.join(run.work, "tables")
    _time_setup(run, "inputs_s", lambda: datagen.write_tables(data, run.sf))
    queries = _time_setup(run, "registry_s", registry.queries)
    oracles = registry.oracles()
    names = list(PYTHON_SET + JVM_SET)
    order = [names[k] for k in run.rng.permutation(len(names))]

    # Cold pass: the first execution of every query in this session,
    # collected for the oracle check that follows (untimed).
    results, cold = {}, 0.0
    for name in order:
        t0 = time.perf_counter()
        try:
            results[name] = queries[name](run.spark, data).toPandas()
        except Exception as exc:  # a raising query is a failed operation
            results[name] = exc
        cold += time.perf_counter() - t0
    run.result["cold_s"] = cold
    cache = os.path.join(os.path.dirname(run.work), "oracle-cache")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    for name in order:
        got = results[name]
        ok = not isinstance(got, Exception)
        if ok:
            want = _oracle_rows(con, oracles[name], data, cache)
            ok = sorted(got.columns) == want["columns"] and [list(r) for r in _rows(got)] == want["rows"]
        run.check(ok, f"{name}: result differs from its DuckDB oracle or raised")
    con.close()

    passes, singles, per_query, traced_walls = [], [], {n: [] for n in names}, []
    deadline = time.perf_counter() + run.seconds
    i = 1
    while run.more(deadline, i, 1):
        traced = run.traced_turn(i)
        walls, ok = {}, True
        with layers.operation(run.layers, traced, "pass") as op:
            for name in order:
                op.cut()
                t0 = time.perf_counter()
                with op.span(f"query.{name}", request_id=name):
                    try:
                        queries[name](run.spark, data).write.format("noop").mode("overwrite").save()
                    except Exception as exc:
                        print(f"{name} raised: {exc!r}", file=sys.stderr)
                        ok = False
                walls[name] = time.perf_counter() - t0
                op.cut(f"query:{name}")
        if run.check(ok, f"pass {i}: a query raised"):
            if traced:
                traced_walls.append(op.wall)
                run.layers.query_op(op, walls)
            else:
                passes.append(op.wall)
                singles.extend(walls.values())
                for name, wall in walls.items():
                    per_query[name].append(wall)
        i += 1
    run.result.update(
        op_s=_median(passes),
        latency_s=statistics.geometric_mean(singles) if singles else 0.0,
        query_python_s=sum(_median(per_query[n]) for n in PYTHON_SET),
        query_jvm_s=sum(_median(per_query[n]) for n in JVM_SET),
        **{f"query.{n}_s": _median(per_query[n]) for n in names},
    )
    if run.trace:
        run.layers.finish(run, passes, traced_walls)


WORKLOADS = {
    "ingest_parquet_count": ingest_parquet_count,
    "ingest_excel_bytes_resume": ingest_excel_bytes_resume,
    "query_mix": query_mix,
}
