#!/usr/bin/env python3
"""Run one workload once per seed and summarise each metric's spread.

    python3 repobench/spread.py --workload dashboard --seeds 1-10 \
        [--seconds 10] [--trace 0] [--out repobench/baselines/dashboard.json]

Spread is the distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median, the
figure a metric's `bound` in BENCHMARK.json must exceed. With `--out`,
every run's result and record are written with the summary.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_arg(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(results):
    out = {}
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[name] = {"median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else None, "values": vals}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True)
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()
    runs = []
    for seed in args.seeds:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            sys.exit(f"seed {seed}: run failed ({proc.returncode})\n{proc.stderr[-2000:]}")
        result, record = json.loads(lines[-1]), json.loads(lines[-2])["record"]
        runs.append({"seed": seed, "result": result, "record": record})
        print(json.dumps({"seed": seed, **result}), flush=True)
    summ = summary([r["result"] for r in runs])
    for name, s in summ.items():
        print(f"{name:24s} median {s['median']:.4g}  spread {s['spread']:.4f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": float(args.seconds),
                       "trace": int(args.trace), "summary": summ, "runs": runs},
                      f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
