#!/usr/bin/env python3
"""Spark SQL executions and jobs per engine call site, per statement kind.

Usage: python3 tools/exec_sites.py <spark-event-log>

Reads an uncompressed Spark event log (spark.eventLog.enabled=true,
spark.eventLog.compress=false): one file, or an `eventlog_v2_*` directory
of rolled `events_*` files. Each SQL statement is a root SQL execution; its
kind is the top operator of its physical plan (`DeleteFromTable`,
`AppendDataExecV1` for INSERT, `GraftMergeIntoCommand` for UPDATE and
MERGE, which share it; reads show their plan's top operator). The engine's
own Dataset actions inside it are nested executions with the same root.

Every nested execution and every job is attributed to the first `graft.`
frame of its call site: a job's own stage call site, else its execution's
(jobs of broadcasts and adaptive stages run off the statement's thread and
carry no `graft.` frame of their own). Jobs without one are `<statement>`.
A job whose call site enters through a DataFrameReader is schema inference
and is marked `[infer]`.

For each statement kind this prints, per site, the executions, their wall
time and the jobs, as means per statement, sorted by wall time.
"""
import json
import os
import re
import sys
from collections import defaultdict


def event_lines(path):
    """Lines of a log file, or of a v2 log directory's event files in order."""
    if os.path.isdir(path):
        names = sorted((n for n in os.listdir(path) if n.startswith("events_")),
                       key=lambda n: int(n.split("_")[1]))
        files = [os.path.join(path, n) for n in names]
    else:
        files = [path]
    for name in files:
        with open(name) as f:
            yield from f


def top_operator(start):
    """The first operator of an execution's physical plan, e.g. `DeleteFromTable`."""
    lines = (start.get("physicalPlanDescription") or "").splitlines()
    top = lines[1] if len(lines) > 1 else ""
    top = re.sub(r"\s*\(\d+\)$", "", top.strip().lstrip("*").strip())
    return top[len("Execute "):] if top.startswith("Execute ") else top


def graft_frame(details):
    for line in (details or "").splitlines():
        line = line.strip()
        if line.startswith("graft."):
            return line
    return None


def main(path):
    execs = {}       # id -> dict(root, desc, site, start, end)
    jobs = []        # (exec id or None, site or None, infer)
    for line in event_lines(path):
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart"):
            i = e["executionId"]
            execs[i] = {"root": e.get("rootExecutionId", i), "op": top_operator(e),
                        "site": graft_frame(e.get("details")), "start": e["time"], "end": None}
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            if e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            i = props.get("spark.sql.execution.id")
            details = "".join(s.get("Details", "") for s in e.get("Stage Infos", [])[:1])
            first = details.splitlines()[0] if details else ""
            jobs.append((int(i) if i is not None else None, graft_frame(details),
                         "DataFrameReader" in first))

    def root_of(i):
        seen = set()
        while i in execs and execs[i]["root"] not in (None, i) and i not in seen:
            seen.add(i)
            i = execs[i]["root"]
        return i

    def kind_of(i):
        return execs.get(root_of(i), {}).get("op") or "?"

    statements = defaultdict(set)                  # kind -> root ids
    per = defaultdict(lambda: defaultdict(lambda: [0, 0.0, 0]))  # kind -> site -> [execs, ms, jobs]
    for i, x in execs.items():
        k = kind_of(i)
        if root_of(i) == i:
            statements[k].add(i)
            continue
        site = x["site"] or "<statement>"
        cell = per[k][site]
        cell[0] += 1
        if x["end"] is not None:
            cell[1] += x["end"] - x["start"]
    for i, site, infer in jobs:
        if i is None or i not in execs:
            continue
        k = kind_of(i)
        site = site or execs[i]["site"] or "<statement>"
        per[k][site + (" [infer]" if infer else "")][2] += 1

    if not statements:
        sys.exit(f"{path}: no SQL executions (is it an uncompressed Spark event log?)")
    for k in sorted(statements):
        roots = statements[k]
        n = len(roots)
        wall = sum((execs[r]["end"] or execs[r]["start"]) - execs[r]["start"] for r in roots)
        print(f"{k}  ({n} statements; {wall / n:.0f} ms wall each; means per statement)")
        print(f"  {'execs':>6} {'wall_ms':>8} {'jobs':>6}  site")
        rows = sorted(per[k].items(), key=lambda kv: -kv[1][1])
        for site, (ne, ms, nj) in rows:
            print(f"  {ne / n:>6.2f} {ms / n:>8.1f} {nj / n:>6.2f}  {site}")
        total_jobs = sum(c[2] for c in per[k].values())
        print(f"  {'':>6} {'':>8} {total_jobs / n:>6.2f}  total jobs")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().splitlines()[2])
    main(sys.argv[1])
