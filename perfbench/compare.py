"""Compare two sets of benchmark records, parent against change.

    python3 perfbench/compare.py PARENT CHANGE

PARENT and CHANGE are directories (or files) of the records `run.py`
keeps, one JSON record per run. For each workload and end-to-end metric
it prints each side's median and quartiles over the untraced runs and a
verdict:

- improved: the change wins at least nine tenths of the runs paired by
  seed (ties count for neither), and the medians differ by more than
  the parent's own spread (the distance between its quartiles);
- unresolved: the parent's spread is wider than the metric's bound,
  and not every change run reads better than every parent run;
- worse: the change's median is worse than the parent's by more than
  the bound;
- no worse: otherwise.

It then prints the per-layer medians of the traced runs on both sides,
and each side's tracing overhead: the traced runs' end-to-end medians
against the untraced ones.
"""

from __future__ import annotations

import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import median, quartiles  # noqa: E402

BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")


def load(path: str) -> list[dict]:
    files = (sorted(glob.glob(os.path.join(path, "*.json")))
             if os.path.isdir(path) else [path])
    out = []
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        if "end_to_end" in rec and "workload" in rec:
            out.append(rec)
    return out


def verdict(parent: dict[int, float], change: dict[int, float], bound: float,
            lower_is_better: bool) -> str:
    """`parent`/`change`: {seed: value} of the untraced runs."""
    sign = 1.0 if lower_is_better else -1.0
    p, c = list(parent.values()), list(change.values())
    p1, pm, p3 = quartiles(p)
    cm = median(c)
    pairs = [(parent[s], change[s]) for s in parent.keys() & change.keys()]
    wins = sum(sign * (b - a) < 0 for a, b in pairs)
    if pairs and wins >= 0.9 * len(pairs) and abs(cm - pm) > p3 - p1:
        return "improved" if sign * (cm - pm) < 0 else "worse"
    all_better = max(sign * x for x in c) < min(sign * x for x in p)
    if (p3 - p1) / abs(pm) > bound and not all_better:
        return "unresolved"
    if sign * (cm - pm) > bound * abs(pm):
        return "worse"
    return "no worse"


def _by_seed(recs: list[dict], key, trace: int) -> dict[int, float]:
    return {r["seed"]: v for r in recs
            if r["trace"] == trace and (v := key(r)) is not None}


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    sides = [load(p) for p in argv]
    workloads = sorted({r["workload"] for s in sides for r in s})
    for w in workloads:
        parent, change = ([r for r in s if r["workload"] == w] for s in sides)
        print(f"== {w}: parent {len(parent)} runs, change {len(change)} runs")
        for m in bench["end_to_end"]:
            name = m["name"]
            p, c = (_by_seed(x, lambda r: r["end_to_end"].get(name), 0)
                    for x in (parent, change))
            if not p or not c:
                print(f"  {name:14s} missing on one side")
                continue
            q = [quartiles(list(x.values())) for x in (p, c)]
            v = verdict(p, c, m["bound"], m["better"] == "lower")
            print(f"  {name:14s} [{m['unit']}] parent {q[0][1]:.4g} "
                  f"({q[0][0]:.4g}..{q[0][2]:.4g})  change {q[1][1]:.4g} "
                  f"({q[1][0]:.4g}..{q[1][2]:.4g})  -> {v}")
        for label, recs in (("parent", parent), ("change", change)):
            for m in bench["end_to_end"]:
                name = m["name"]
                plain = _by_seed(recs, lambda r: r["end_to_end"].get(name), 0)
                traced = _by_seed(recs, lambda r: r["end_to_end"].get(name), 1)
                if plain and traced:
                    share = median(list(traced.values())) / median(list(plain.values())) - 1
                    print(f"  tracing overhead ({label}) {name}: {share:+.1%}")
        layer_names = [m["name"] for m in bench["per_layer"]]
        p, c = ({n: _by_seed(x, lambda r: (r.get("layers") or {}).get(n), 1)
                 for n in layer_names} for x in (parent, change))
        shown = [n for n in layer_names
                 if (p[n] or c[n]) and any(v for v in (*p[n].values(), *c[n].values()))]
        if shown:
            print("  per-layer medians of the traced runs (parent -> change):")
        for n in shown:
            a = median(list(p[n].values())) if p[n] else float("nan")
            b = median(list(c[n].values())) if c[n] else float("nan")
            delta = f"{(b / a - 1):+.1%}" if a else ""
            print(f"    {n:32s} {a:12.4g} -> {b:12.4g}  {delta}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
