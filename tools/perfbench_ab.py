#!/usr/bin/env python3
"""Interleaved A/B of perfbench over two checkouts, with the load each run saw.

    python3 tools/perfbench_ab.py --parent ../graft-parent --change . \\
        --workload cdc_ingest --workload lifecycle --seeds 12101-12110 \\
        --seconds 20 --out bench_history/r15_merge_ab.json

For every workload and seed it runs `python3 perfbench/run.py --workload W
--seed S --seconds N --trace 0` once in each checkout, one after the other;
the side that goes first alternates from pair to pair. Each run records its
gated metrics (the end-to-end names and bounds of BENCHMARK.json), its wall
time, the 1-minute load average from /proc/loadavg before and after it, and
the share of CPU time stolen by the hypervisor while it ran (the steal
column's delta over the total's delta in /proc/stat's `cpu` line).

A pair is flagged `slow_both` when, on both sides, some gated metric is
worse than that side's median over all pairs by more than the metric's
bound: both runs met the same outside load, so the pair says little about
the change. The summary per workload and metric gives both medians, the
parent's interquartile range, the change/parent ratio of the medians and
the pairs the change won, over all pairs and over the unflagged ones.

It only reads /proc and runs perfbench as it is; it writes nothing but the
--out file.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def cpu_times():
    """(steal, total) jiffies from /proc/stat's aggregate cpu line."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    vals = [int(v) for v in fields[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user and nice
    total = sum(vals[:8])
    steal = vals[7] if len(vals) > 7 else 0
    return steal, total


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_one(checkout, workload, seed, seconds):
    steal0, total0 = cpu_times()
    load_before = load1()
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    wall = time.monotonic() - t0
    steal1, total1 = cpu_times()
    rec = {"wall_s": round(wall, 1), "load1_before": load_before, "load1_after": load1(),
           "steal_share": round((steal1 - steal0) / max(1, total1 - total0), 4)}
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    try:
        out = json.loads(lines[-1])
        rec.update({"correct": out.get("correct"), "attempted": out.get("attempted"),
                    "failed": out.get("failed"),
                    "metrics": {k: v["value"] for k, v in out.get("metrics", {}).items()}})
    except (IndexError, ValueError):
        rec.update({"correct": False, "error": (proc.stderr or proc.stdout)[-2000:]})
    return rec


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(pairs, gated):
    summary = {}
    for name, spec in gated.items():
        lower = spec.get("better", "lower") == "lower"

        def of(ps, side):
            return [p[side]["metrics"][name] for p in ps
                    if name in p[side].get("metrics", {})]

        row = {}
        for label, ps in (("all", pairs), ("unflagged", [p for p in pairs if not p["slow_both"]])):
            par, chg = of(ps, "parent"), of(ps, "change")
            if len(par) < 2 or len(par) != len(chg):
                continue
            q1, q3 = quartiles(par)
            wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
            row[label] = {"pairs": len(par), "parent_median": statistics.median(par),
                          "change_median": statistics.median(chg),
                          "ratio": statistics.median(chg) / statistics.median(par),
                          "parent_iqr": q3 - q1, "change_wins": wins}
        summary[name] = row
    return summary


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 12101-12110 or 5,7,9")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--out", required=True, help="JSON file to write")
    ap.add_argument("--what", default="", help="one line on what is compared")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        gated = {m["name"]: m for m in json.load(f)["end_to_end"]}
    result = {"what": args.what or f"perfbench run.py --seconds {args.seconds:g} --trace 0, "
                                    "one alternating parent/change pair per seed",
              "nproc": os.cpu_count(), "workloads": {}}
    for workload in args.workload:
        pairs = []
        for i, seed in enumerate(seeds_of(args.seeds)):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run_one(getattr(args, side), workload, seed, args.seconds)
                m = pair[side].get("metrics", {})
                print(f"{workload} seed {seed} {side}: pass_s {m.get('pass_s')} "
                      f"load {pair[side]['load1_before']} steal {pair[side]['steal_share']}",
                      file=sys.stderr, flush=True)
            pairs.append(pair)
        meds = {side: {name: statistics.median([p[side]["metrics"][name] for p in pairs
                                                 if name in p[side].get("metrics", {})] or [0.0])
                       for name in gated} for side in ("parent", "change")}
        for p in pairs:
            def slow(side):
                return any(name in p[side].get("metrics", {}) and meds[side][name] > 0 and
                           (p[side]["metrics"][name] / meds[side][name] - 1
                            if spec.get("better", "lower") == "lower"
                            else 1 - p[side]["metrics"][name] / meds[side][name]) > spec["bound"]
                           for name, spec in gated.items())
            p["slow_both"] = slow("parent") and slow("change")
        result["workloads"][workload] = {"pairs": pairs, "summary": summarize(pairs, gated)}
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
    for workload, w in result["workloads"].items():
        for name, row in w["summary"].items():
            a = row.get("all")
            if a:
                print(f"{workload} {name}: parent {a['parent_median']:.3f} change {a['change_median']:.3f} "
                      f"ratio {a['ratio']:.3f} parent IQR {a['parent_iqr']:.3f} "
                      f"change wins {a['change_wins']}/{a['pairs']}; "
                      f"{sum(p['slow_both'] for p in w['pairs'])} pairs slow on both sides")


if __name__ == "__main__":
    main()
