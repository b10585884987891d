"""Run the benchmark several times and keep every result.

    python3 perfbench/runs.py --workload <name> --seeds 1-10 [--seconds 5]
        [--trace 0] [--out runs.jsonl]

One run per seed, one after the other, each its own `run.py` process.
Every result goes out as one JSON line: workload, seed, trace and the
result object `run.py` printed. `compare.py` reads these files.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=int, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default="-")
    args = ap.parse_args()
    seconds = args.seconds
    if seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]
    sink = sys.stdout if args.out == "-" else open(args.out, "a")
    for seed in seeds(args.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"runs: seed {seed} failed with exit code {p.returncode}", file=sys.stderr)
            continue
        sink.write(json.dumps({"workload": args.workload, "seed": seed,
                               "trace": args.trace, "result": json.loads(lines[-1])}) + "\n")
        sink.flush()


if __name__ == "__main__":
    main()
