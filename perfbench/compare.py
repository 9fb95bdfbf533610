#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the captured stdout of `run.py`, one file per run,
named `<workload>__<anything>.out` (for example `batch-suite__seed3.out`).
Runs pair up in file-name order within a workload, so the same seeds on
both sides pair with each other.  Per workload and metric the report gives
each side's median and quartiles and the pair win rate of NEW over BASE,
and a verdict by the rule in BENCHMARK.json's bounds:

  better      NEW wins >= 90% of pairs (ties count for neither) and the
              medians differ by more than BASE's interquartile range
  worse       NEW's median is worse than BASE's by more than the bound
  unresolved  either side spreads wider than the bound, unless every NEW
              run beats every BASE run
  same        otherwise

Traced runs (`--trace 1`) also print a `plans` line; when both sides have
one, the workload is sorted into "plan changed" (naming the queries whose
plan moved, on batch-suite) or "same plan".

A file whose last line is not a result object fails the comparison
loudly: an unparseable run must never read as a missing (fast) one.  So
does a run the checker rejected (`correct` false or `failed` above 0): a
wrong answer must never read as a fast one.
"""

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BadRun(Exception):
    pass


def load_spec(path=None):
    path = path or os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}


def parse_run(path):
    """(workload, result dict, plans dict or None) of one captured run."""
    with open(path) as f:
        lines = [l for l in f.read().splitlines() if l.strip()]
    name = os.path.basename(path)
    if "__" not in name:
        raise BadRun("%s: file name must be <workload>__<run>.out" % path)
    try:
        res = json.loads(lines[-1])
        ok = (isinstance(res, dict)
              and set(res) == {"correct", "attempted", "failed", "metrics"}
              and all(isinstance(v.get("value"), (int, float)) for v in res["metrics"].values()))
    except (IndexError, ValueError, AttributeError):
        ok = False
    if not ok:
        raise BadRun("%s: last line is not a benchmark result (parsed: null)" % path)
    if res["correct"] is not True or res["failed"] != 0:
        raise BadRun("%s: the checker rejected this run (correct %s, failed %s)"
                     % (path, res["correct"], res["failed"]))
    plans = None
    for l in lines:
        if l.startswith("plans "):
            plans = json.loads(l[len("plans "):])
    return name.split("__")[0], res, plans


def load_set(d):
    runs = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".out"):
            runs[f] = parse_run(os.path.join(d, f))
    if not runs:
        raise BadRun("%s: no .out files" % d)
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base, new, better, bound):
    """Verdict and the figures behind it for one metric on one workload."""
    bq1, bmed, bq3 = quartiles(base)
    nq1, nmed, nq3 = quartiles(new)
    sign = 1 if better == "higher" else -1
    pairs = list(zip(base, new))
    wins = sum(1 for b, n in pairs if sign * (n - b) > 0)
    rate = wins / len(pairs) if pairs else 0.0
    spread = max((bq3 - bq1) / abs(bmed) if bmed else 0.0,
                 (nq3 - nq1) / abs(nmed) if nmed else 0.0)
    worse_by = sign * (bmed - nmed) / abs(bmed) if bmed else 0.0
    dominates = all(sign * (n - b) > 0 for n in new for b in base)
    if rate >= 0.9 and sign * (nmed - bmed) > (bq3 - bq1):
        v = "better"
    elif spread > bound and not dominates:
        v = "unresolved"
    elif worse_by > bound:
        v = "worse"
    else:
        v = "same"
    return v, {"base": (bq1, bmed, bq3), "new": (nq1, nmed, nq3),
               "win_rate": rate, "spread": spread}


def compare(base_runs, new_runs, spec):
    """Report rows (workload, metric, verdict, figures) and plan sorts."""
    rows, plan_sort = [], {}
    workloads = sorted({w for w, _, _ in base_runs.values()} | {w for w, _, _ in new_runs.values()})
    for w in workloads:
        b_runs = [base_runs[k] for k in sorted(base_runs) if base_runs[k][0] == w]
        n_runs = [new_runs[k] for k in sorted(new_runs) if new_runs[k][0] == w]
        if not b_runs or not n_runs:
            raise BadRun("workload %s has runs on one side only" % w)
        metrics = sorted(set(b_runs[0][1]["metrics"]) & set(n_runs[0][1]["metrics"]))
        for m in metrics:
            base = [r[1]["metrics"][m]["value"] for r in b_runs]
            new = [r[1]["metrics"][m]["value"] for r in n_runs]
            s = spec.get(m, {"better": "lower"})
            v, fig = verdict(base, new, s["better"], s.get("bound", 0.0))
            rows.append((w, m, v, fig))
        bp = [r[2] for r in b_runs if r[2] is not None]
        np_ = [r[2] for r in n_runs if r[2] is not None]
        if bp and np_:
            plan_sort[w] = plan_change(bp[0], np_[0])
    return rows, plan_sort


def plan_change(base, new):
    """"same plan" or "plan changed", naming the moved keys when the
    plans are keyed by query (serve plans are keyed by their hash)."""
    moved = sorted(k for k in set(base) | set(new)
                   if k not in base or k not in new
                   or base[k].get("hash", k) != new[k].get("hash", k))
    if not moved:
        return "same plan"
    named = [k for k in moved if k in base and k in new]
    return "plan changed" + (": " + ", ".join(named) if named else "")


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    try:
        spec = load_spec()
        rows, plan_sort = compare(load_set(argv[1]), load_set(argv[2]), spec)
    except BadRun as e:
        print("compare: FAILED: %s" % e, file=sys.stderr)
        return 2
    fmt = "%-20s %-30s %-10s %12s %12s %12s %12s %6s %6s"
    print(fmt % ("workload", "metric", "verdict", "base_med", "base_iqr",
                 "new_med", "new_iqr", "win", "spread"))
    for w, m, v, f in rows:
        print(fmt % (w, m, v, "%.4g" % f["base"][1], "%.4g" % (f["base"][2] - f["base"][0]),
                     "%.4g" % f["new"][1], "%.4g" % (f["new"][2] - f["new"][0]),
                     "%.2f" % f["win_rate"], "%.3f" % f["spread"]))
    for w, s in plan_sort.items():
        print("%s: %s" % (w, s))
    return 1 if any(v == "worse" for _, _, v, _ in rows) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
