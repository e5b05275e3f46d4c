#!/usr/bin/env python3
"""Compare two sets of benchmark result files, workload by workload.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are each a result file written by ``run.py`` or a directory
of them (``.bench_build/perfbench/results/`` after several seeds). For
every workload and every metric the tool prints both medians and the
change. End-to-end metrics are judged against their bound in
BENCHMARK.json:

- ``unresolved``: the spread between BASE's own runs (quartile distance
  over the median; the full range below four runs) exceeds the bound,
  unless every NEW run beats every BASE run;
- ``worse``: NEW's median is worse than BASE's by more than the bound;
- ``better``: NEW's median is better by more than BASE's spread;
- ``same`` otherwise.

Per-layer metrics have no bound; their rows show the change and BASE's
spread.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(path: str) -> dict[tuple[str, int], list[dict]]:
    files = (
        sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    )
    runs: dict[tuple[str, int], list[dict]] = defaultdict(list)
    for f in files:
        with open(f) as fh:
            d = json.load(fh)
        runs[(d["workload"], d["trace"])].append(d["metrics"])
    if not runs:
        raise SystemExit(f"no result files in {path}")
    return runs


def _spread(values: list[float]) -> float:
    med = statistics.median(values)
    if med == 0 or len(values) < 2:
        return 0.0
    if len(values) >= 4:
        q1, _, q3 = statistics.quantiles(values, n=4)
        return (q3 - q1) / abs(med)
    return (max(values) - min(values)) / abs(med)


def verdict(base: list[float], new: list[float], better: str, bound: float | None) -> tuple[float, float, str]:
    mb, mn = statistics.median(base), statistics.median(new)
    sign = 1.0 if better == "lower" else -1.0
    change = (mn - mb) / abs(mb) if mb else 0.0
    spread = _spread(base)
    if bound is None:
        return change, spread, ""
    worse_by = sign * change  # > 0 means NEW is worse
    if spread > bound:
        beats = all(sign * (n - b) < 0 for n in new for b in base)
        return change, spread, "better" if beats else "unresolved"
    if worse_by > bound:
        return change, spread, "worse"
    if -worse_by > spread:
        return change, spread, "better"
    return change, spread, "same"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--benchmark", default=os.path.join(ROOT, "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.benchmark) as f:
        spec = json.load(f)
    kinds = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    base, new = _load(args.base), _load(args.new)
    worse = 0
    for key in sorted(set(base) & set(new)):
        workload, trace = key
        print(f"== {workload} ({'per-layer' if trace else 'end-to-end'}; "
              f"runs {len(base[key])} vs {len(new[key])})")
        print(f"{'metric':34s} {'base':>12s} {'new':>12s} {'change':>8s} {'spread':>7s} {'bound':>6s}  verdict")
        for name, m in kinds.items():
            b = [r[name]["value"] for r in base[key] if name in r]
            n = [r[name]["value"] for r in new[key] if name in r]
            if not b or not n:
                continue
            bound = m.get("bound") if not trace else None
            change, spread, v = verdict(b, n, m["better"], bound)
            worse += v == "worse"
            print(f"{name:34s} {statistics.median(b):12.6g} {statistics.median(n):12.6g} "
                  f"{change:+8.1%} {spread:7.1%} {'' if bound is None else f'{bound:.0%}':>6s}  {v}")
    for key in sorted(set(base) ^ set(new)):
        print(f"== {key[0]} (trace {key[1]}): only in {'base' if key in base else 'new'}")
    return 1 if worse else 0


if __name__ == "__main__":
    raise SystemExit(main())
