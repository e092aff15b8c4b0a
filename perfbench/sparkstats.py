"""Read Spark's own status stores for the work one operation did.

Everything here works with the Spark UI disabled. Jobs, stages and
SQL executions carry increasing ids, and the benchmark runs one
operation at a time, so the work of an operation is whatever got an id
after the watermark taken when it started.

* ``AppStatusStore.jobsList`` and ``stageList`` give job spans and the
  exact stage totals: tasks, executor run and CPU time, shuffle write,
  spill, input records.
* ``SQLAppStatusStore`` gives the SQL metrics of each plan node. That
  includes the Python-worker start, init and run times and the bytes
  sent to and returned from Python workers. The store keeps them only
  as display strings ("7.8 s", "1.2 MiB"), so they are parsed
  back to numbers, to the precision of that display.
"""

from __future__ import annotations

import re

# SQL metric display name -> result key
_PY_METRICS = {
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes_in",
    "data returned from Python workers": "python_bytes_out",
}
_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_TOTAL = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

STAGE_KEYS = (
    "tasks", "executor_run_s", "executor_cpu_s", "shuffle_write_bytes",
    "spill_bytes", "input_records",
)
SQL_KEYS = tuple(_PY_METRICS.values())


def parse_display(text: str) -> float:
    """Total of an SQL metric display string (the first number after a
    'total (min, med, max ...)' header, or the bare number)."""
    lines = [ln for ln in str(text).splitlines() if ln.strip()]
    line = lines[-1] if lines else ""
    m = _TOTAL.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _map(scala_map) -> dict:
    it = scala_map.iterator()
    out = {}
    while it.hasNext():
        t = it.next()
        out[t._1()] = t._2()
    return out


def _opt(scala_opt):
    return scala_opt.get() if scala_opt.isDefined() else None


class StatusReader:
    """Watermark-based reader: ``mark()`` before an operation,
    ``collect()`` after it."""

    def __init__(self, spark):
        self._spark = spark
        sc = spark.sparkContext._jsc.sc()
        self._jvm = spark._jvm
        self._sc = sc
        self._store = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._job_mark = -1
        self._stage_mark = -1
        self._exec_mark = -1
        self.mark()

    def _drain_listener(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(10_000)

    def mark(self) -> None:
        self._drain_listener()
        jobs = self._jobs()
        self._job_mark = max((j.jobId() for j in jobs), default=self._job_mark)
        stages = self._stages()
        self._stage_mark = max((s.stageId() for s in stages), default=self._stage_mark)
        execs = _seq(self._sql.executionsList())
        self._exec_mark = max((e.executionId() for e in execs), default=self._exec_mark)

    def _jobs(self):
        return _seq(self._store.jobsList(self._jvm.java.util.ArrayList()))

    def _stages(self):
        arr = self._jvm.java.util.ArrayList
        quantiles = self._spark.sparkContext._gateway.new_array(self._jvm.double, 0)
        return _seq(self._store.stageList(arr(), False, False, quantiles, arr()))

    def collect(self) -> dict:
        """Work since the last ``mark()``; moves the watermark."""
        self._drain_listener()
        out: dict = {k: 0.0 for k in STAGE_KEYS + SQL_KEYS}
        spans = []
        n_jobs = 0
        for j in self._jobs():
            if j.jobId() <= self._job_mark:
                continue
            n_jobs += 1
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            if sub is not None and done is not None:
                spans.append((sub.getTime() / 1e3, done.getTime() / 1e3))
        stages = []
        for s in self._stages():
            if s.stageId() <= self._stage_mark:
                continue
            st = {
                "stage_id": s.stageId(),
                "tasks": s.numCompleteTasks(),
                "executor_run_s": s.executorRunTime() / 1e3,
                "executor_cpu_s": s.executorCpuTime() / 1e9,
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "input_records": s.inputRecords(),
            }
            stages.append(st)
            for k in STAGE_KEYS:
                out[k] += st[k]
        for e in _seq(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= self._exec_mark:
                continue
            values = _map(self._sql.executionMetrics(eid))
            for m in _seq(e.metrics()):
                key = _PY_METRICS.get(m.name())
                if key is not None and m.accumulatorId() in values:
                    out[key] += parse_display(values[m.accumulatorId()])
        self.mark()
        out["jobs"] = n_jobs
        out["stages"] = stages
        out["job_spans"] = spans
        return out


def union_seconds(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in spans if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
