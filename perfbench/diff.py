#!/usr/bin/env python3
"""Compare two sets of benchmark results, workload by workload.

    python3 perfbench/diff.py PARENT.jsonl CHANGE.jsonl
    python3 perfbench/diff.py RESULTS.jsonl          # spread of one set

Inputs are results.jsonl files written by perfbench/run.py (untraced,
correct runs are used). For each (end-to-end metric, workload) it
prints the medians, the quartile spread of each side as a share of its
median, the bound from BENCHMARK.json, and a verdict:

  improved    at least 10 runs a side, the change is better in at least
              9 of 10 pairs (runs paired in order), and the medians
              differ by more than the parent's quartile distance
  worse       the change's median is worse than the parent's by more
              than the bound
  unresolved  a side's quartile spread is wider than the bound, unless
              every run of the change is better than every parent run
  unchanged   otherwise

host.calib_s (the fixed compute job every run times first) is shown
beside each row: a shift in it means the hosts differed.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    runs = {}
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            if not r["trace"] and r["correct"] and r["failed"] == 0:
                runs.setdefault(r["workload"], []).append(r)
    return runs


def spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return {m["name"]: m for m in json.load(fh)["end_to_end"]}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def verdict(a, b, better, bound):
    """Classify change runs `b` against parent runs `a` (§6.5, §8)."""
    sign = 1.0 if better == "lower" else -1.0
    ma, mb = statistics.median(a), statistics.median(b)
    worse_by = sign * (mb - ma) / ma if ma else 0.0
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (y - x) < 0)
    q1, _, q3 = quartiles(a)
    if (len(pairs) >= 10 and wins >= 0.9 * len(pairs) and sign * (mb - ma) < 0
            and abs(mb - ma) > q3 - q1):
        return "improved"
    if worse_by > bound:
        return "worse"
    all_better = all(sign * (y - x) < 0 for x in a for y in b)
    if (spread(a) > bound or spread(b) > bound) and not all_better:
        return "unresolved"
    return "unchanged"


def main(argv):
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    metrics = spec()
    sides = [load(p) for p in argv]
    rows = []
    for w in sorted(set().union(*sides)):
        for name, m in metrics.items():
            vals = [[r["e2e"][name] for r in s.get(w, [])] for s in sides]
            calib = [statistics.median([r["layer"]["host.calib_s"] for r in s.get(w, [])])
                     if s.get(w) else float("nan") for s in sides]
            if not all(vals):
                continue
            row = {"metric": name, "workload": w, "bound": m["bound"]}
            for tag, v, c in zip("ab", vals, calib):
                row.update({f"n_{tag}": len(v), f"med_{tag}": statistics.median(v),
                            f"spread_{tag}": spread(v), f"calib_{tag}": c})
            if len(sides) == 2:
                row["verdict"] = verdict(vals[0], vals[1], m["better"], m["bound"])
                row["delta"] = (row["med_b"] - row["med_a"]) / row["med_a"] if row["med_a"] else 0.0
            rows.append(row)
    if len(sides) == 1:
        print(f"{'metric':18} {'workload':11} {'n':>3} {'median':>12} {'spread':>8} {'bound':>6} {'calib_s':>8}")
        for r in rows:
            flag = "" if r["spread_a"] <= r["bound"] or r["metric"] == "setup_s" else "  > bound"
            print(f"{r['metric']:18} {r['workload']:11} {r['n_a']:3d} {r['med_a']:12.4f} "
                  f"{r['spread_a']:8.1%} {r['bound']:6.0%} {r['calib_a']:8.3f}{flag}")
        return 0
    print(f"{'metric':18} {'workload':11} {'n':>7} {'parent':>12} {'change':>12} {'delta':>8} "
          f"{'spread a/b':>15} {'bound':>6} {'calib_s a/b':>15}  verdict")
    for r in rows:
        print(f"{r['metric']:18} {r['workload']:11} {r['n_a']:3d}/{r['n_b']:<3d} {r['med_a']:12.4f} "
              f"{r['med_b']:12.4f} {r['delta']:8.1%} {r['spread_a']:7.1%}/{r['spread_b']:<7.1%} "
              f"{r['bound']:6.0%} {r['calib_a']:7.3f}/{r['calib_b']:<7.3f}  {r['verdict']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
