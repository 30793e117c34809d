#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

Each file holds one run per line, as run.py appends them to
perfbench/.runs/history.jsonl: {"workload", "seed", "trace", "result"}.
Runs pair by (workload, seed); unmatched runs pair in file order. For each
workload and metric it prints both sides' median and quartiles, the share
of pairs the change wins (ties count for neither) and a verdict:

  improved    the change wins >= 9/10 of the pairs and the medians differ
              by more than the base's quartile spread
  worse       the same, the other way round, or the change's median is
              worse than the base's by more than the metric's bound
  unresolved  the base's own quartile spread is wider than the bound (and
              not every change run beats every base run)
  unchanged   otherwise
Metrics without a bound (per-layer) get improved / worse / unchanged from
the pair rule alone, unchanged meaning the medians differ by no more than
the base's spread.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                r = json.loads(line)
                runs.setdefault((r["workload"], r.get("trace", 0)), []).append(r)
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pair(base, change):
    by_seed = {r["seed"]: r for r in change}
    pairs, rest_b = [], []
    for r in base:
        if r["seed"] in by_seed:
            pairs.append((r, by_seed.pop(r["seed"])))
        else:
            rest_b.append(r)
    pairs += list(zip(rest_b, [r for r in change if r["seed"] in by_seed]))
    return pairs


def verdict(b, c, wins, losses, n, lower_better, bound):
    (b1, bm, b3), (_, cm, _) = quartiles(b), quartiles(c)
    gain = (bm - cm) if lower_better else (cm - bm)
    spread = b3 - b1
    if n and wins >= 0.9 * n and gain > spread:
        return "improved"
    if n and losses >= 0.9 * n and -gain > spread:
        return "worse"
    if bound is None:
        return "unchanged" if abs(gain) <= spread else "unresolved"
    beats_all = (max(c) < min(b)) if lower_better else (min(c) > max(b))
    if bm and spread / abs(bm) > bound and not beats_all:
        return "unresolved"
    if bm and -gain / abs(bm) > bound:
        return "worse"
    return "unchanged"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    meta = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    base, change = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':14} {'metric':38} {'base q1/med/q3':>30} {'change q1/med/q3':>30} "
          f"{'wins':>7}  verdict")
    for key in sorted(set(base) & set(change)):
        pairs = pair(base[key], change[key])
        names = sorted({m for r in base[key] for m in r["result"]["metrics"]})
        for name in names:
            pv = [(p[0]["result"]["metrics"][name]["value"], p[1]["result"]["metrics"][name]["value"])
                  for p in pairs if name in p[1]["result"]["metrics"]]
            if not pv:
                continue
            m = meta.get(name, {"better": "lower"})
            lower = m["better"] == "lower"
            b, c = [x for x, _ in pv], [y for _, y in pv]
            wins = sum((y < x) if lower else (y > x) for x, y in pv)
            losses = sum((y > x) if lower else (y < x) for x, y in pv)
            v = verdict(b, c, wins, losses, len(pv), lower, m.get("bound"))
            fb = "/".join(f"{x:.4g}" for x in quartiles(b))
            fc = "/".join(f"{x:.4g}" for x in quartiles(c))
            print(f"{key[0]:14} {name:38} {fb:>30} {fc:>30} {wins:>3}/{len(pv):<3}  {v}")


if __name__ == "__main__":
    main()
