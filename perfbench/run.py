"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload ingest_parquet_count --seed 1 \
        --seconds 10 --trace 0 [--sf 0.02] [--out results.jsonl]

Runs from the root of a source checkout. Spark runs on
``local[<cores>]`` from this one driver process; every file the run
writes goes under ``.bench_work/`` in the checkout and is removed at
exit. The last line of standard output is the result object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it (prefixed ``# ``) carries the workload's own named
metrics. ``--out`` appends a full record to a JSON-lines file for
``compare.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = (
    ("setup_s", "s"),
    ("cold_s", "s"),
    ("op_s", "s"),
    ("latency_s", "s"),
    ("peak_rss_mb", "MB"),
)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants.

    ``spark-submit`` execs the JVM over a shell whose process-substitution
    child is never waited for, and the JVM forks the Python worker
    daemon. Without this, those outlive the JVM as orphans of init; with
    it, they come back to this process and ``_reap_children`` waits for
    them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # not Linux: children are still waited for where they are known


def _children() -> list[int]:
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is in parentheses and may hold spaces
        if int(stat.rpartition(")")[2].split()[1]) == me:
            out.append(int(name))
    return out


def _reap_children(grace: float = 20.0) -> None:
    """Wait for every child of this process to end: give each ``grace``
    seconds to exit by itself, then SIGTERM, then SIGKILL."""
    deadline = time.monotonic() + grace
    sig = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return
        if sig is None and time.monotonic() > deadline:
            sig, deadline = signal.SIGTERM, time.monotonic() + 5
        elif sig == signal.SIGTERM and time.monotonic() > deadline:
            sig = signal.SIGKILL
        if sig is not None:
            for pid in _children():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _stop_jvm() -> None:
    """Stop the Spark session, then the JVM itself: it exits when its
    stdin closes, and is killed if it has not within 30 s."""
    pyspark = sys.modules.get("pyspark")
    gateway = pyspark and pyspark.SparkContext._gateway
    if not gateway:
        return
    sc = pyspark.SparkContext._active_spark_context
    for step in ([sc.stop] if sc else []) + [gateway.shutdown]:
        try:
            step()
        except Exception as exc:  # a JVM cut off mid-call may not answer
            print(f"perfbench: stopping Spark: {exc!r}", file=sys.stderr)
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _clean_up(run, work: str) -> None:
    """Stop everything the run started and remove its files. Every step
    runs even if one before it fails."""
    for close in reversed(run.closers if run else []):
        try:
            close()
        except Exception as exc:
            print(f"perfbench: clean-up: {exc!r}", file=sys.stderr)
    _stop_jvm()
    _reap_children()
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run is still using it, or the oracle cache is there


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="override the workload's scale factor")
    ap.add_argument("--out", default=None, help="append a full JSON record to this file")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "data_ingestion_pimcore_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sf = args.sf or workloads.DEFAULT_SF[args.workload]

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Workers and the consumer subprocess import the engine from here;
    # every temp file (Python, JVM, Spark shuffle) stays in the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    # A fixed, pre-touched heap (-Xms = -Xmx, AlwaysPreTouch) keeps the
    # JVM's peak RSS from depending on how much of the heap the collector
    # happened to touch in this run.
    mem = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    import tempfile

    tempfile.tempdir = tmp

    # A SIGTERM unwinds through the clean-up below like an exception.
    signal.signal(signal.SIGTERM, _terminate)
    _adopt_orphans()
    run = None
    try:
        t = time.perf_counter()
        from data_ingestion_pimcore_spark.session import get_spark

        spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem} -XX:+AlwaysPreTouch",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        run = workloads.Run(spark, work, args.seed, args.seconds, bool(args.trace), sf)
        run.setup["session_s"] = session_s
        workloads.WORKLOADS[args.workload](run)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
    finally:
        # Clean-up runs to the end: a second SIGTERM cannot cut it short.
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        _clean_up(run, work)

    setup = run.setup
    res = run.result
    # A workload whose first operation fails stops early; its result
    # reads 0 where it measured nothing, and is not correct.
    e2e = {
        "setup_s": sum(setup.values()),
        "cold_s": res.get("cold_s", 0.0),
        "op_s": res.get("op_s", 0.0),
        "latency_s": res.get("latency_s", 0.0),
        "peak_rss_mb": rss,
    }
    units = dict(END_TO_END)
    if args.trace:
        import layers

        lunits = {n: u for n, u, _ in layers.PER_LAYER + layers.QUERY_LAYER}
        metrics = {k: {"value": v, "unit": lunits[k]} for k, v in run.per_layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k, _ in END_TO_END}
    named = dict(res)
    named["error_rate"] = run.failed / max(1, run.attempted)
    named.update({f"setup.{k}": v for k, v in setup.items()})
    if args.out:
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace, "sf": sf,
            "seconds": args.seconds, "end_to_end": e2e, "named": named,
            "per_layer": run.per_layer, "reconcile": run.reconcile, "errors": run.errors,
            "attempted": run.attempted, "failed": run.failed,
        }
        with open(args.out, "a") as f:
            f.write(json.dumps(record) + "\n")
    print("# " + json.dumps({"workload": args.workload, "sf": sf, **named}), flush=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
