"""Compare two result sets, or show the spread of one.

    python3 perfbench/compare.py PARENT.jsonl [CHANGE.jsonl]

A result set is the JSON-lines file that ``run.py --out`` appends to,
one record per run. For each workload and metric the command prints
each side's median and quartiles (``statistics.quantiles(n=4)``), the
spread (interquartile distance over the median) against the metric's
bound, and with two sets a verdict:

* ``improved``: the change wins at least 9 in 10 of the runs paired in
  file order, and the medians differ by more than the parent's
  interquartile distance, in the better direction;
* ``no worse``: the change's median is within the bound of the parent's;
* ``worse``: it is not;
* ``unresolved``: either side spreads wider than the bound, unless every
  change run beats every parent run.

End-to-end metrics take their bound and direction from BENCHMARK.json.
The workload's own named metrics (``ingest_records_per_s``,
``resume_s``, ``bar_ratio``, ...) have no bound; they get ``improved``,
``worse`` or ``unresolved`` by the same pairing rule.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from layers import PER_LAYER, QUERY_LAYER  # noqa: E402

def load(path: str) -> dict[str, list[dict]]:
    by_workload: dict[str, list[dict]] = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                rec = json.loads(line)
                if not rec.get("trace"):
                    by_workload.setdefault(rec["workload"], []).append(rec)
    return by_workload


def metric_specs() -> dict[str, tuple[str, float | None]]:
    """name -> (better, bound or None)"""
    specs: dict[str, tuple[str, float | None]] = {
        n: (better, None) for n, _, better in PER_LAYER + QUERY_LAYER
    }
    bench = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if os.path.exists(bench):
        with open(bench) as f:
            for m in json.load(f)["end_to_end"]:
                specs[m["name"]] = (m["better"], m["bound"])
    return specs


def values(records: list[dict], name: str) -> list[float]:
    out = []
    for r in records:
        v = r["end_to_end"].get(name, r["named"].get(name))
        if isinstance(v, (int, float)):
            out.append(float(v))
    return out


def summary(xs: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, spread = (q3 - q1) / median)"""
    med = statistics.median(xs)
    if len(xs) >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4)
    else:
        q1 = q3 = med
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def verdict(a: list[float], b: list[float], better: str, bound: float | None) -> str:
    sign = 1.0 if better == "lower" else -1.0
    ma, qa1, qa3, sa = summary(a)
    mb, _, _, sb = summary(b)
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (x - y) > 0)
    if pairs and wins >= 0.9 * len(pairs) and sign * (ma - mb) > (qa3 - qa1):
        return "improved"
    every_better = all(sign * (x - y) > 0 for x in a for y in b)
    worse_by = sign * (mb - ma) / ma if ma else 0.0
    if bound is None:
        if sign * (mb - ma) < -(qa3 - qa1) and wins <= 0.1 * len(pairs):
            return "worse"
        return "unresolved"
    if max(sa, sb) > bound and not every_better:
        return "unresolved"
    return "no worse" if worse_by <= bound else "worse"


def _fmt(x: float) -> str:
    return f"{x:.4g}"


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    sides = [load(p) for p in argv]
    specs = metric_specs()
    for workload in sorted(set().union(*sides)):
        recs = [s.get(workload, []) for s in sides]
        if not all(recs):
            print(f"\n{workload}: missing from one side")
            continue
        e2e = list(recs[0][0]["end_to_end"])
        names = e2e + [
            n for n in recs[0][0]["named"]
            if n in specs and n not in e2e
        ]
        print(f"\n{workload}  (runs: {' / '.join(str(len(r)) for r in recs)})")
        for name in names:
            better, bound = specs.get(name, ("lower", None))
            cols = [name.ljust(22)]
            vals = [values(r, name) for r in recs]
            for xs in vals:
                med, q1, q3, spread = summary(xs)
                cols.append(f"med {_fmt(med)} [{_fmt(q1)}, {_fmt(q3)}] spread {spread:.3f}")
            cols.append(f"bound {bound}" if bound is not None else "no bound")
            if len(vals) == 2:
                cols.append(verdict(vals[0], vals[1], better, bound))
            elif bound is not None:
                cols.append("steady" if summary(vals[0])[3] <= bound / 3 else "SPREAD > bound/3")
            print("  " + "  ".join(cols))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
