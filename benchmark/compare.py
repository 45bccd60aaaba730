#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 benchmark/compare.py A.jsonl [B.jsonl]

Each file holds one JSON object per run, as ``run.py --record FILE``
appends them (the result line plus ``workload`` and ``seed``). For every
workload and end-to-end metric it prints each side's median and quartiles
(``statistics.quantiles(n=4)``) and the spread, the distance between the
quartiles as a share of the median. With two sets it also prints the change
of the median, in the metric's better direction, and marks it:

  WORSE / BETTER  the medians differ by more than the metric's bound
  unresolved      a side's spread is wider than the bound, so a difference
                  of that size cannot be told from noise
  ok              within the bound

Bounds and directions come from BENCHMARK.json. With one set it prints the
spreads only, marking each against a third of its bound. Traced runs
(--trace 1) are ignored.
"""
import json
import statistics
import sys
from pathlib import Path

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
METRICS = {m["name"]: m for m in SPEC["end_to_end"]}


def load(path):
    runs = {}
    for line in Path(path).read_text().splitlines():
        if line.strip():
            r = json.loads(line)
            if not r.get("trace"):
                runs.setdefault(r["workload"], []).append(r)
    return runs


def stats(values):
    q1, q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def fmt(med, q1, q3, spread):
    return f"{med:12.4f} [{q1:.4f}, {q3:.4f}] {100 * spread:5.1f}%"


def main(paths):
    sets = [load(p) for p in paths]
    workloads = sorted(set().union(*sets))
    for w in workloads:
        sides = [s.get(w, []) for s in sets]
        head = "  ".join(f"{len(runs)} runs, {sum(r['failed'] for r in runs)}/"
                         f"{sum(r['attempted'] for r in runs)} failed, "
                         f"{sum(not r['correct'] for r in runs)} incorrect" for runs in sides)
        print(f"== {w}: {head}")
        for name, m in METRICS.items():
            vals = [[r["metrics"][name]["value"] for r in runs if name in r["metrics"]] for runs in sides]
            if not all(vals):
                continue
            st = [stats(v) for v in vals]
            line = f"  {name:22s}" + "".join(f" {fmt(*s)}" for s in st)
            bound = m["bound"]
            if len(st) == 1:
                line += "  steady" if st[0][3] <= bound / 3 else f"  spread > bound/3 ({bound / 3:.3f})"
            else:
                (ma, *_, sa), (mb, *_, sb) = st
                change = (mb - ma) / ma if ma else 0.0
                worse = change > bound if m["better"] == "lower" else change < -bound
                better = change < -bound if m["better"] == "lower" else change > bound
                mark = "unresolved" if max(sa, sb) > bound else \
                    "WORSE" if worse else "BETTER" if better else "ok"
                line += f"  {100 * change:+6.1f}%  {mark}"
            print(line)


if __name__ == "__main__":
    if not 1 <= len(sys.argv) - 1 <= 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
