"""Compare two sets of runs, or summarize one.

    python3 perfbench/compare.py BASE.jsonl [CHANGE.jsonl]

Each file holds lines written by `runs.py`. With one file, prints for
every workload and end-to-end metric the median, the quartiles, and the
quartile spread as a share of the median, against the metric's bound.

With two files, also prints the share of alternating pairs that the
second set wins (run i of the base against run i of the change, ties
counting for neither) and a verdict:

- improved: the change wins at least nine tenths of the pairs and the
  medians differ by more than the base's own quartile spread;
- worse: the change's median is worse than the base's by more than the
  metric's bound;
- unresolved: the base's quartile spread is wider than the bound and not
  every change run beats every base run;
- no worse: otherwise.
"""

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    by = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                by.setdefault(r["workload"], []).append(r["result"])
    return by


def metric_specs():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m for m in b["end_to_end"]}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4))


def verdict(base, change, better, bound):
    """The rule of the module docstring; `better` is "lower" or "higher"."""
    sign = 1 if better == "lower" else -1
    b1, bm, b3 = quartiles(base)
    _, cm, _ = quartiles(change)
    pairs = list(zip(base, change))
    wins = sum(1 for b, c in pairs if sign * (b - c) > 0)
    win_share = wins / len(pairs) if pairs else 0.0
    spread = b3 - b1
    gain = sign * (bm - cm)
    if win_share >= 0.9 and gain > spread:
        return "improved", win_share
    if -gain > bound * abs(bm):
        return "worse", win_share
    all_better = all(sign * (b - c) > 0 for b in base for c in change)
    if spread > bound * abs(bm) and not all_better:
        return "unresolved", win_share
    return "no worse", win_share


def fmt(x):
    return f"{x:.4g}"


def main():
    if len(sys.argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    specs = metric_specs()
    base = load(sys.argv[1])
    change = load(sys.argv[2]) if len(sys.argv) == 3 else None
    for wl in sorted(base):
        for name, spec in specs.items():
            xs = [r["metrics"][name]["value"] for r in base[wl] if name in r["metrics"]]
            if not xs:
                continue
            q1, q2, q3 = quartiles(xs)
            spread = (q3 - q1) / q2 if q2 else float("inf")
            line = (f"{wl:14s} {name:12s} n={len(xs):2d} median {fmt(q2)} "
                    f"[{fmt(q1)}, {fmt(q3)}] spread {spread:.3f} (bound {spec['bound']})")
            if change is not None and wl in change:
                ys = [r["metrics"][name]["value"] for r in change[wl] if name in r["metrics"]]
                c1, c2, c3 = quartiles(ys)
                v, share = verdict(xs, ys, spec["better"], spec["bound"])
                line += (f" | change median {fmt(c2)} [{fmt(c1)}, {fmt(c3)}]"
                         f" wins {share:.2f} -> {v}")
            print(line)
        fails = [(r["failed"], r["attempted"]) for r in base[wl]]
        print(f"{wl:14s} failed/attempted {fails}")


if __name__ == "__main__":
    main()
