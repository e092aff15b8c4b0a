"""Self-check of the benchmark: every workload once, tiny inputs.

    python3 -m pytest perfbench/tests -q

Each workload runs once at sf0.001 with tracing on, which also yields
the end-to-end numbers from its untraced operations. The check asserts
that every metric is present with its unit and is finite, that the
traced layer self times reconcile with the operation wall time and
that each layer the workload uses shows up in them, that no output
check failed, that no process of a run outlives it, and that the
benchmark refuses to run in a directory holding only its own files.
Takes a few minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import layers  # noqa: E402
import run as bench_run  # noqa: E402

SF = 0.001


# Runs a command as the subreaper of its descendants, so that any
# process the command leaves behind comes back to this wrapper when the
# command exits. Exits 97, naming them, if there are any.
_NO_LEFTOVERS = """
import subprocess, sys
sys.path.insert(0, sys.argv[1])
import run
run._adopt_orphans()
code = subprocess.call(sys.argv[2:])
left = run._children()
for pid in left:
    with open(f"/proc/{pid}/stat") as f:
        print("left running:", f.read()[:120], file=sys.stderr)
run._reap_children(grace=0)
sys.exit(97 if left else code)
"""


def _run(tmp_path, workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    out = tmp_path / f"{workload}-{seed}-{trace}.jsonl"
    proc = subprocess.run(
        [sys.executable, "-c", _NO_LEFTOVERS, BENCH,
         sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--sf", str(SF), "--out", str(out)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    record = json.loads(out.read_text().strip().splitlines()[-1])
    return last, record


def _finite(metrics: dict, expected: dict[str, str]) -> None:
    assert set(metrics) == set(expected)
    for name, unit in expected.items():
        assert metrics[name]["unit"] == unit, name
        assert math.isfinite(metrics[name]["value"]), name


@pytest.mark.parametrize(
    "workload", ["ingest_parquet_count", "ingest_excel_bytes_resume", "query_mix"]
)
def test_workload_reports_every_metric(tmp_path, workload):
    last, record = _run(tmp_path, workload, seed=1, trace=1)
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0, record["errors"]
    assert last["attempted"] >= 1
    _finite(last["metrics"], {n: u for n, u, _ in layers.PER_LAYER + layers.QUERY_LAYER})
    for name, _ in bench_run.END_TO_END:
        v = record["end_to_end"][name]
        assert math.isfinite(v) and v > 0, name
    # Every span belongs to a layer; the layer self times plus the
    # residual (time in the operation under no layer's span) make up the
    # operation's wall time, read from the clock apart from the tracer;
    # the residual is a small share of it; and every layer the workload
    # goes through has time of its own.
    if workload == "query_mix":
        used = ("registry.self_s",)
    else:
        used = ("chunker.self_s", "pipeline.self_s", "sink.self_s", "state.self_s")
        if workload == "ingest_parquet_count":
            used += ("integrity.self_s",)
    assert record["reconcile"]
    for r in record["reconcile"]:
        wall = r["wall_s"]
        gap = wall - r["layers_s"] - r["residual_s"]
        print(f"{workload}: wall {wall:.4f} s, layers {r['layers_s']:.4f} s, "
              f"residual {r['residual_s']:.5f} s, outside the spans {gap:.6f} s")
        assert not r["unmapped"], r
        assert r["residual_s"] >= -1e-6
        assert abs(gap) <= 0.002 * wall + 0.001, r
        assert r["residual_s"] <= 0.02 * wall, r
        for layer in used:
            assert r["self_s"][layer] > 0, (layer, r)
    m = {k: v["value"] for k, v in last["metrics"].items()}
    if workload != "query_mix":
        assert m["sink.chunks_sent"] > 0
        # One state commit per ACKed chunk: spans against the recorder.
        assert m["state.commits"] == m["sink.chunks_sent"]
    if workload == "ingest_excel_bytes_resume":
        assert m["state.resume_resend_ratio"] == 1.0
        assert m["sink.injected_nacks"] == 3
    if workload == "query_mix":
        assert all(m[f"query.{q}_s"] > 0 for q in layers.QUERY_NAMES)


def test_excel_digest_is_seed_independent(tmp_path):
    digests = [_run(tmp_path, "ingest_excel_bytes_resume", s, 0)[1]["named"]["digest"] for s in (1, 2)]
    assert digests[0] == digests[1]


def test_refuses_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_parquet_count",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
