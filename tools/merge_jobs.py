#!/usr/bin/env python3
"""Per-span Spark job list from a traced perfbench run.

    python3 perfbench/run.py --workload cdc_ingest --seed 801 --trace 1
    python3 tools/merge_jobs.py .bench_build/results/cdc_ingest-seed801-spans.json
    python3 perfbench/run.py --workload lifecycle --seed 901 --trace 1
    python3 tools/merge_jobs.py --span build:q112_manifest_commit \
        .bench_build/results/lifecycle-seed901-spans.json

For every span named NAME (`--span`, default `merge`) it prints the wall
time, the number of Spark jobs launched under it, the widest stage's task
count, the driver gap (wall time not covered by any running job), the
bytes its tasks wrote and, per job, its stages' task counts and its
duration. The last line is one summary over all those spans: the first
(cold) span on its own, then the median over the rest (warm) of jobs,
wall time, driver gap and staged bytes per span. The cold span pays the
session's first-use costs (code generation, class loading), so a median
over all spans would hide it, and it alone can set a run's tail.
"""
import argparse
import json
import statistics
import sys


def covered_ns(intervals):
    """Total length of the union of (start, end) intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def main(path, name):
    with open(path) as f:
        trace = json.load(f)
    spans = {s["id"]: s for s in trace["spans"]}
    stages = {s["stage"]: s for s in trace["stages"]}

    def under(span_id, root):
        while span_id:
            if span_id == root:
                return True
            span_id = spans[span_id]["parent"] if span_id in spans else 0
        return False

    merges = sorted((s for s in trace["spans"] if s["name"] == name), key=lambda s: s["start"])
    rows = []
    for n, m in enumerate(merges):
        jobs = sorted((j for j in trace["jobs"] if under(j["span"], m["id"])), key=lambda j: j["start"])
        wall = (m["end"] - m["start"]) / 1e9
        gap = wall - covered_ns([(j["start"], j["end"]) for j in jobs]) / 1e9
        tasks = [[stages[s]["tasks"] for s in j["stages"] if s in stages] for j in jobs]
        widest = max((t for ts in tasks for t in ts), default=0)
        staged = sum(stages[s].get("output", 0) for j in jobs for s in j["stages"] if s in stages)
        rows.append((len(jobs), wall, gap, staged))
        print(f"{name} {n}: {wall:.3f} s, {len(jobs)} jobs, widest stage {widest} tasks, "
              f"driver gap {gap:.3f} s, staged {staged} bytes")
        for j, ts in zip(jobs, tasks):
            print(f"  job {j['job']:4d}  stages {ts}  {(j['end'] - j['start']) / 1e9:.3f} s")
    if not rows:
        sys.exit(f"no span named {name!r} in {path}")

    def cells(jobs, wall, gap, staged):
        return f"{jobs:g} jobs, {wall:.3f} s wall, {gap:.3f} s driver gap, {staged:.0f} bytes staged"

    line = f"summary: {len(rows)} {name} spans; cold (first): {cells(*rows[0])}"
    if len(rows) > 1:
        line += f"; warm median of {len(rows) - 1}: {cells(*(statistics.median(c) for c in zip(*rows[1:])))}"
    print(line)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("spans", help="a traced run's *-spans.json")
    ap.add_argument("--span", default="merge", help="span name to list (default: merge)")
    args = ap.parse_args()
    main(args.spans, args.span)
