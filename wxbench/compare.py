#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 wxbench/compare.py base.jsonl change.jsonl

Each file holds the standard output of any number of `wxbench/run.py`
runs, concatenated: a `context` line naming the workload, then the result
line. For every workload and metric the tool prints each side's median
and quartiles, how many runs of the change beat the run of the base with
the same index, and whether the change's median is worse than the base's
by more than the metric's bound in BENCHMARK.json. Per-layer metrics (from
`--trace 1` runs) have no bound; their median delta is printed.
"""
import json
import os
import statistics
import sys

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "BENCHMARK.json")


def load(path):
    """{(workload, traced): {metric: [values in run order]}}"""
    runs = {}
    ctx = None
    with open(path) as f:
        for line in f:
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if "context" in obj:
                ctx = obj["context"]
            elif "metrics" in obj and ctx is not None:
                key = (ctx["workload"], bool(ctx["trace"]))
                series = runs.setdefault(key, {})
                for name, m in obj["metrics"].items():
                    series.setdefault(name, []).append(m["value"])
                ctx = None
    return runs


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def main(base_path, change_path):
    spec = json.load(open(SPEC)) if os.path.exists(SPEC) else {}
    metrics = {m["name"]: m for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}
    base, change = load(base_path), load(change_path)
    for key in sorted(set(base) & set(change)):
        workload, traced = key
        print(f"== {workload} ({'per-layer, traced' if traced else 'end to end'})")
        b, c = base[key], change[key]
        for name in sorted(set(b) & set(c)):
            m = metrics.get(name, {})
            lower = m.get("better", "lower") == "lower"
            bq, cq = quartiles(b[name]), quartiles(c[name])
            med_b, med_c = bq[1], cq[1]
            delta = (med_c - med_b) / med_b if med_b else float("nan")
            if traced:
                print(f"  {name:32s} base {med_b:14.4f}  change {med_c:14.4f}  "
                      f"delta {delta:+.2%}")
                continue
            wins = sum(1 for x, y in zip(b[name], c[name])
                       if (y < x if lower else y > x))
            pairs = min(len(b[name]), len(c[name]))
            worse = delta if lower else -delta
            bound = m.get("bound")
            verdict = ("no bound" if bound is None else
                       "REGRESSION" if worse > bound else "within bound")
            print(f"  {name:22s} base {bq[0]:.4g} [{med_b:.4g}] {bq[2]:.4g}  "
                  f"change {cq[0]:.4g} [{med_c:.4g}] {cq[2]:.4g}  "
                  f"delta {delta:+.2%}  won {wins}/{pairs}  {verdict}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
