#!/usr/bin/env python3
"""Repeat a workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload <name> [--runs 10] [--seconds 10]
        [--trace 0] [--first-seed 1]

Run from the root of the checkout. For every metric of the result line it
prints the median over the runs and the spread: the distance between the
first and third quartile (statistics.quantiles, n=4) as a share of the
median. Each run's result line is appended to perfbench/work/spread.jsonl.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time

BENCH = pathlib.Path(__file__).resolve().parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", default="0")
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    log = BENCH / "work" / "spread.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)
    values = {}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        start = time.monotonic()
        out = subprocess.run(
            [sys.executable, str(BENCH / "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(a.seconds), "--trace", a.trace],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: exit {out.returncode}\n{out.stdout}")
        result = json.loads(lines[-1])
        with log.open("a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": seed, "result": result,
                                "detail": lines[-2] if len(lines) > 1 else None}) + "\n")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed} ({time.monotonic() - start:.0f} s): " + ", ".join(f"{k}={v['value']:.4g}"
                                           for k, v in result["metrics"].items()), flush=True)
    for name, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
        spread = (q[2] - q[0]) / med if med else float("inf")
        print(f"{name}: median {med:.6g}, spread {spread:.4f}")


if __name__ == "__main__":
    main()
