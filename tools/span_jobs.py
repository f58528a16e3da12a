#!/usr/bin/env python3
"""Spark jobs per phase tag, per op, from a perfbench span file.

Usage: python3 tools/span_jobs.py perfbench/work/spans-<workload>-<seed>.jsonl

A `--trace 1` perfbench run writes one JSON span a line (id, name, start_ns,
end_ns, parent, op). Each traced op has one root span `op:<kind>` and one
span `job:<tag>` per Spark job it launched, where the tag comes from the job
description the engine sets (`fused-gate`, `diff-leg spill`, `leg counts`,
`insert fetch`, `store apply`, or `untagged`).

For each op kind this prints, as a mean over its traced ops, the number of
jobs per tag and the union wall of those jobs (seconds during which at least
one job of the tag ran; jobs of concurrent table threads overlap, so the
union is not their sum). The `total` row covers every job of the op.
"""
import json
import sys
from collections import defaultdict


def union_seconds(intervals):
    """Length of the union of (start_ns, end_ns) intervals, in seconds."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1e9


def main(path):
    kind_of = {}                  # op id -> kind
    jobs = defaultdict(list)      # op id -> [(tag, start_ns, end_ns)]
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            s = json.loads(line)
            name = s["name"]
            if name.startswith("op:") and s["parent"] == 0:
                kind_of[s["op"]] = name[len("op:"):]
            elif name.startswith("job:"):
                jobs[s["op"]].append((name[len("job:"):], s["start_ns"], s["end_ns"]))

    ops_by_kind = defaultdict(list)
    for op, kind in kind_of.items():
        ops_by_kind[kind].append(op)
    if not ops_by_kind:
        sys.exit(f"{path}: no op spans (is it a --trace 1 span file?)")

    for kind in sorted(ops_by_kind):
        ops = ops_by_kind[kind]
        tags = sorted({t for op in ops for t, _, _ in jobs[op]})
        print(f"op:{kind}  ({len(ops)} traced ops; mean per op)")
        print(f"  {'tag':<16} {'jobs':>8} {'wall_s':>9}")
        for tag in tags + ["total"]:
            n = w = 0.0
            for op in ops:
                mine = [(s, e) for t, s, e in jobs[op] if tag in ("total", t)]
                n += len(mine)
                w += union_seconds(mine)
            print(f"  {tag:<16} {n / len(ops):>8.2f} {w / len(ops):>9.3f}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().splitlines()[2])
    main(sys.argv[1])
