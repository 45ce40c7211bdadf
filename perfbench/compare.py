"""Compare two sets of benchmark runs, metric by metric and workload by workload.

    python3 perfbench/compare.py PARENT... --change CHANGE...

PARENT and CHANGE are each one or more directories or files. A file is
either a record that run.py wrote under `.bench_build/records/`, or a
captured stdout of run.py (its `{"env": ...}` line and its last result
line). For every
(metric, workload) the report gives each side's median and quartiles, the
number of pairs the change wins (runs paired by seed, else in order; ties
count for neither side), and a verdict:

  improved    the change wins at least 9 in 10 pairs and the medians differ
              by more than the parent's own spread (Q3 - Q1)
  unresolved  the run-to-run spread (Q3 - Q1 over the median, the larger of
              the two sides) is wider than the metric's bound, unless every
              change run reads better than every parent run
  regressed   the change's median is worse than the parent's by more than
              the bound (a share of the parent's median)
  unchanged   none of the above

Every metric BENCHMARK.json names is compared where both sides have runs
that carry it: end-to-end metrics (from `--trace 0` runs) with their
bounds, per-layer metrics (from `--trace 1` runs) with the improved /
unchanged part of the rule only, since they have no bound. Exits 1 when any
end-to-end pair is regressed or unresolved.
"""

import argparse
import json
import os
import statistics
import sys

SPEC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")


def load_run(path):
    """(workload, seed, trace, {metric: value}) of one run file."""
    with open(path) as f:
        text = f.read()
    try:
        rec = json.loads(text)
        env, metrics = rec["env"], rec["metrics"]
    except (ValueError, KeyError):
        env, metrics = None, None
        for line in text.splitlines():
            line = line.strip()
            if not line.startswith("{"):
                continue
            obj = json.loads(line)
            if "env" in obj:
                env = obj["env"]
            elif "metrics" in obj:
                metrics = obj["metrics"]
        if env is None or metrics is None:
            raise ValueError("%s: no env line or no result line" % path)
    values = {k: (v["value"] if isinstance(v, dict) else v) for k, v in metrics.items()}
    return env["workload"], env.get("seed"), env.get("trace", 0), values


def load_side(paths):
    files = []
    for p in paths:
        if os.path.isdir(p):
            files += sorted(os.path.join(p, f) for f in os.listdir(p)
                            if f.endswith(".json") or f.endswith(".out"))
        else:
            files.append(p)
    runs = {}
    for f in files:
        w, seed, trace, values = load_run(f)
        runs.setdefault((w, trace), []).append((seed, values))
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, better, bound):
    """Verdict and pair wins for one (metric, workload)."""
    sign = 1.0 if better == "higher" else -1.0
    p_by_seed = {s: v for s, v in parent}
    c_by_seed = {s: v for s, v in change}
    common = sorted(set(p_by_seed) & set(c_by_seed), key=str)
    if common:
        pairs = [(p_by_seed[s], c_by_seed[s]) for s in common]
    else:
        pairs = list(zip([v for _, v in parent], [v for _, v in change]))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    pv = [v for _, v in parent]
    cv = [v for _, v in change]
    p1, pm, p3 = quartiles(pv)
    c1, cm, c3 = quartiles(cv)
    if pairs and wins >= 0.9 * len(pairs) and abs(cm - pm) > (p3 - p1):
        return "improved", wins, len(pairs)
    if bound is None:
        return "unchanged", wins, len(pairs)
    spread = max((p3 - p1) / abs(pm) if pm else 0.0, (c3 - c1) / abs(cm) if cm else 0.0)
    every_better = all(sign * (c - p) > 0 for c in cv for p in pv)
    if spread > bound and not every_better:
        return "unresolved", wins, len(pairs)
    worse_by = -sign * (cm - pm) / abs(pm) if pm else 0.0
    if worse_by > bound:
        return "regressed", wins, len(pairs)
    return "unchanged", wins, len(pairs)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", nargs="+", help="the parent's runs")
    ap.add_argument("--change", nargs="+", required=True, help="the change's runs")
    a = ap.parse_args()
    with open(SPEC) as f:
        spec = json.load(f)
    metrics = [(m, True) for m in spec["end_to_end"]] + [(m, False) for m in spec["per_layer"]]
    parent, change = load_side(a.parent), load_side(a.change)

    bad = 0
    print("%-40s %-16s %-30s %-30s %-7s %s" % (
        "metric", "workload", "parent med [q1, q3]", "change med [q1, q3]", "wins", "verdict"))
    for m, e2e in metrics:
        trace = 0 if e2e else 1
        for w in [x["name"] for x in spec["workloads"]]:
            pr = [(s, v[m["name"]]) for s, v in parent.get((w, trace), []) if m["name"] in v]
            ch = [(s, v[m["name"]]) for s, v in change.get((w, trace), []) if m["name"] in v]
            if not pr or not ch:
                continue
            v, wins, n = verdict(pr, ch, m["better"], m.get("bound") if e2e else None)
            p1, pm, p3 = quartiles([x for _, x in pr])
            c1, cm, c3 = quartiles([x for _, x in ch])
            if e2e and v in ("regressed", "unresolved"):
                bad += 1
            print("%-40s %-16s %-30s %-30s %-7s %s" % (
                m["name"], w, "%.4g [%.4g, %.4g]" % (pm, p1, p3),
                "%.4g [%.4g, %.4g]" % (cm, c1, c3), "%d/%d" % (wins, n), v))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
