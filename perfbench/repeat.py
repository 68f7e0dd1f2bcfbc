#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's median and
spread (interquartile range as a share of the median), the way the
benchmark's bounds are judged.

Usage (from the repository root):
  python3 perfbench/repeat.py --workload availability --seeds 1-10 [--seconds 5]
      [--trace 0|1] [--out FILE.jsonl]

Each run's result line is appended to FILE.jsonl when --out is given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default=None)
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    a = ap.parse_args()
    contract = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    seconds = a.seconds or str(contract["run_seconds"])
    bounds = {m["name"]: m.get("bound") for m in contract["end_to_end"]}

    values = {}
    for seed in seeds(a.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", seconds, "--trace", a.trace]
        p = subprocess.run(cmd, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            sys.exit(1)
        res = json.loads(lines[-1])
        if a.out:
            with open(a.out, "a") as fh:
                fh.write(json.dumps(dict(res, workload=a.workload, seed=seed)) + "\n")
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}", file=sys.stderr)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])

    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q = statistics.quantiles(vs, n=4)
            spread = f"{(q[2] - q[0]) / med:.3f}"
        else:
            spread = "-"
        bound = bounds.get(k)
        print(f"{k:40s} median {med:14.4f}  spread {spread:>6s}"
              + (f"  bound {bound}" if bound is not None else ""))


if __name__ == "__main__":
    main()
