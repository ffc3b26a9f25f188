#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload lifecycle|analytic|cdc_ingest \
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the engine
and the harness with sbt into `target/` directories and `.bench_build/`;
later runs reuse the build while the sources are unchanged. Inputs are
generated from the seed (`perfbench/gen.py`). The JVM side
(`perfbench/src`) runs the workload and writes raw samples; this script
checks the outputs, prints a report with every metric by name and unit,
and ends with one JSON line: the end-to-end metrics with `--trace 0`,
the per-layer metrics with `--trace 1`. A traced run also writes its
spans and a per-layer self-time table under `.bench_build/results/`.
The gated metric names, units and bounds are read from `BENCHMARK.json`;
workload parameters, the per-loop-kind meaning of each gated name and
the prediction table are in `perfbench/workloads.json`.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
T_START = time.monotonic()
RUN_LIMIT_S = 160  # the JVM run; checks and the report follow within 180 s
BUILD_LIMIT_S = 840
NOMINAL_PASS_S = 5.0  # a closed-loop warm pass on a 4-vCPU VM; sets the pass count

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ----------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"not a graft checkout: {need} missing under {ROOT}")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            die(f"'{tool}' not found on PATH")
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            timeout=BUILD_LIMIT_S)
    lines = r.stdout.decode(errors="replace").splitlines()
    with open(log, "a") as out:
        out.write("\n".join(lines))
    cps = [ln.strip() for ln in lines if ln.startswith("/") and ".jar" in ln]
    if r.returncode != 0 or not cps:
        die(f"build failed (exit {r.returncode}); see {log}")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cps[-1]}, f)
    return cps[-1]


# ------------------------------------------------------------------ run

def inputs(sf, seed):
    d = os.path.join(BUILD, "data", f"sf{sf}-seed{seed}")
    if not os.path.exists(os.path.join(d, "embeddings.parquet")):
        sys.path.insert(0, HERE)
        import gen
        gen.generate(d, sf, seed)
    return d


def run_jvm(cp, spec, wl, args, data, work):
    out = os.path.join(work, "out.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    jvm = ["java", "-Xmx" + spec["heap"], "-XX:+UseG1GC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={work}"]
    for p in JAVA_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    main = ["perfbench.Main", "--workload", wl["run_as"], "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--work", work, "--out", out,
            "--setup-reps", str(spec["setup_reps"])]
    if wl["loop"] == "closed":
        # a fixed pass count: --seconds of warm work at the nominal pass time
        main += ["--warm-passes", str(max(2, round(args.seconds / NOMINAL_PASS_S)))]
    for k in ("queries", "base-rows", "rates", "read-rate", "compact-every", "trigger-s"):
        v = wl.get(k.replace("-", "_"))
        if v is not None:
            main += [f"--{k}", ",".join(map(str, v)) if isinstance(v, list) else str(v)]
    left = wl.get("time_limit_s", RUN_LIMIT_S) - (time.monotonic() - T_START)
    log = os.path.join(BUILD, "logs", f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as lf:
        try:
            r = subprocess.run(jvm + ["-cp", cp] + main, cwd=work, stdout=lf,
                               stderr=subprocess.STDOUT, timeout=max(10, left))
        except subprocess.TimeoutExpired:
            die(f"workload did not finish within the time limit; see {log}")
    if r.returncode != 0 or not os.path.exists(out):
        die(f"JVM exited with {r.returncode}; see {log}")
    with open(out) as f:
        return json.load(f)


# -------------------------------------------------------------- checks

def oracle_check(data, work, oracle_sql, names):
    """Compare each cold-pass result with the DuckDB oracle, using the
    comparison rules of tools/check.py. Returns {name: error or None}."""
    spec = importlib.util.spec_from_file_location("graft_check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    import duckdb
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    errs = {}
    for name in names:
        res = os.path.join(work, "results", name)
        if name not in oracle_sql:
            errs[name] = "no oracle SQL"
            continue
        try:
            got = con.execute(f"SELECT * FROM '{res}/*.parquet'").df()
            desc = con.execute(f"DESCRIBE {oracle_sql[name]}").fetchall()
            huge = [d[0] for d in desc if "HUGEINT" in str(d[1]).upper()]
            errs[name] = (f"oracle emits HUGEINT {huge}" if huge else
                          check.compare(name, got, con.execute(oracle_sql[name]).df()))
        except Exception as e:  # a missing result or a failing oracle both fail the query
            errs[name] = f"{type(e).__name__}: {e}"[:300]
    return errs


# ------------------------------------------------------------- metrics

def tail(vals):
    """(value, percentile, n) at the highest percentile that leaves at
    least 10 samples beyond it; the maximum when n < 11."""
    s = sorted(vals)
    n = len(s)
    i = n - 11 if n >= 11 else n - 1
    return s[i], 100.0 * (i + 1) / n, n


def quantile(vals, q):
    s = sorted(vals)
    return s[min(len(s) - 1, int(q * len(s)))] if s else 0.0


def closed_metrics(out, oracle_errs):
    samples = out["result"]["samples"]
    cold = [s for s in samples if s["pass"] == 0]
    warm = [s for s in samples if s["pass"] > 0]
    by_q = {}
    for s in warm:
        by_q.setdefault(s["name"], []).append(s)
    walls = [s["wall_s"] for s in warm]
    t, tp, tn = tail(walls)
    passes = {}
    for s in warm:
        passes[s["pass"]] = passes.get(s["pass"], 0.0) + s["wall_s"]
    pt, ptp, ptn = tail(passes.values())
    bad = [s for s in samples if not s["ok"]]
    bad_check = [n for n, e in oracle_errs.items() if e]
    cold_pass = sum(s["wall_s"] for s in cold)
    m = {
        "cold_s": (out["setup_s"][0] + cold_pass, "s", "cold set-up plus cold pass"),
        "cold_pass_s": (cold_pass, "s"),
        "pass_s": (sum(statistics.median(x["wall_s"] for x in v) for v in by_q.values()), "s"),
        "query_p50_s": (statistics.median(walls), "s"),
        "query_tail_s": (t, "s", f"p{tp:.1f} of {tn} warm samples"),
        "slowest_s": (max(statistics.median(x["wall_s"] for x in v) for v in by_q.values()), "s",
                      "largest per-query median warm time"),
        "pass_tail_s": (pt, "s", f"p{ptp:.1f} of {ptn} warm passes"),
    }
    per_query = {n: {"build_s": statistics.median(x["build_s"] for x in v),
                     "exec_s": statistics.median(x["exec_s"] for x in v),
                     "cold_s": next(c["wall_s"] for c in cold if c["name"] == n),
                     "warm_s": [round(x["wall_s"], 3) for x in v]}
                 for n, v in sorted(by_q.items())}
    failures = [f"{s['name']} pass {s['pass']}: {s['error']}" for s in bad] + \
               [f"{n}: wrong output: {oracle_errs[n]}" for n in bad_check]
    return m, len(samples), len(bad) + len(bad_check), failures, {
        "warm_passes": max(s["pass"] for s in samples), "per_query": per_query}


def cdc_metrics(out, limit_s, lag_limit_s):
    r = out["result"]
    due = r["due_ns"]
    lag = r["gen_lag_ns"]
    batches = r["batches"]
    commit_of = [0] * len(due)
    prev = 0
    for b in batches:
        for s in range(prev + 1, b["max_seq"] + 1):
            commit_of[s] = b["commit"]
        prev = max(prev, b["max_seq"])
    steps, valid_vis = [], []
    reads = r["reads"]
    for st in r["steps"]:
        seqs = range(st["first_seq"], st["last_seq"] + 1)
        vis = [(commit_of[s] - due[s]) / 1e9 for s in seqs if commit_of[s]]
        lags = [lag[s] / 1e9 for s in seqs]
        backlog = sum(1 for s in seqs if not commit_of[s] or commit_of[s] > st["end"])
        rlag = [x["lag"] / 1e9 for x in reads if st["start"] <= x["due"] < st["end"]]
        glag = max(quantile(lags, 0.99), quantile(rlag, 0.99))
        vt = tail(vis)[0] if vis else float("inf")
        row = {"rate_eps": st["rate"], "events": len(seqs),
               "visible_p50_s": statistics.median(vis) if vis else None,
               "visible_tail_s": vt, "gen_lag_p99_s": glag, "backlog_rows": backlog,
               "valid": glag <= lag_limit_s}
        row["meets_limit"] = row["valid"] and vt <= limit_s and backlog <= st["rate"] * limit_s
        steps.append(row)
        if row["valid"]:
            valid_vis += vis
    points = [x for x in reads if x["kind"] == "point" and "error" not in x]
    alls = [(x["end"] - x["due"]) / 1e9 for x in reads if x["kind"] == "all" and "error" not in x]
    rd = [(x["end"] - x["due"]) / 1e9 for x in points]
    vt, vtp, vtn = tail(valid_vis) if valid_vis else (float("nan"), 0, 0)
    rt, rtp, rtn = tail(rd) if rd else (float("nan"), 0, 0)
    applied = [b for b in batches if b["applied"]]
    meets = [s["rate_eps"] for s in steps if s["meets_limit"]]
    m = {
        "cold_s": (out["setup_s"][0] + ((batches[0]["commit"] - due[1]) / 1e9 if batches else float("nan")),
                   "s", "cold set-up plus first event to first commit"),
        "batch_apply_s": (statistics.median(b["merge_s"] + b["compact_s"] for b in applied)
                          if applied else float("nan"), "s", "median micro-batch merge plus scheduled compaction"),
        "visible_p50_s": (statistics.median(valid_vis) if valid_vis else float("nan"), "s"),
        "visible_tail_s": (vt, "s", f"p{vtp:.1f} of {vtn} events"),
        "ingest_max_eps": (max(meets) if meets else 0.0, "events/s",
                           f"limit visible_tail_s <= {limit_s} s"),
        "read_p50_s": (statistics.median(rd) if rd else float("nan"), "s"),
        "read_tail_s": (rt, "s", f"p{rtp:.1f} of {rtn} point reads"),
        "find_all_p50_s": (statistics.median(alls) if alls else float("nan"), "s"),
    }
    bad_reads = [x for x in reads if not x["ok"]]
    failures = [f"read due {x['due']}: {x.get('error', 'wrong output')}" for x in bad_reads]
    failures += [f"stream: {e}" for e in r["errors"]]
    if not r["final_ok"]:
        failures.append("final DeletionVectors.read differs from the model")
    if any(not s["valid"] for s in steps) and not valid_vis:
        failures.append("every rate step was invalid: the generator fell behind")
    attempted = len(batches) + len(reads) + 1
    t0 = r["window"][0]
    bl = [(round((b["start"] - t0) / 1e9, 2), round(b["merge_s"], 2), round(b["compact_s"], 2), b["rows"]) for b in batches]
    rl = [(x["kind"], round((x["due"] - t0) / 1e9, 2), round((x["end"] - x["due"]) / 1e9, 3)) for x in reads]
    return m, attempted, len(failures), failures, {"steps": steps, "batches": bl, "reads": rl}


# ---------------------------------------------------------------- trace

LAYERS = ["ops", "sql", "exec", "sources", "streaming", "bench", "idle"]
PRIO = {"exec": 3, "sql": 2}


def self_times(intervals, a, b):
    """Attribute every instant of [a, b] to the deepest interval active
    then (ties: exec over sql over the rest); uncovered time is idle."""
    import heapq
    ev = []
    for i, (s, e, depth, layer) in enumerate(intervals):
        s, e = max(s, a), min(e, b)
        if e > s:
            ev.append((s, 1, i))
            ev.append((e, 0, i))
    ev.sort()
    out = {k: 0.0 for k in LAYERS}
    heap, gone, t = [], set(), a
    for x, kind, i in ev:
        while heap and heap[0][2] in gone:
            heapq.heappop(heap)
        layer = intervals[heap[0][2]][3] if heap else "idle"
        out[layer] += (x - t) / 1e9
        t = x
        if kind:
            heapq.heappush(heap, (-intervals[i][2], -PRIO.get(intervals[i][3], 0), i))
        else:
            gone.add(i)
    out["idle"] += (b - t) / 1e9
    return out


def trace_metrics(out, wl_kind):
    tr = out["trace"]
    a, b = out["result"]["window"]
    wall = (b - a) / 1e9
    spans = {s["id"]: s for s in tr["spans"]}
    cpus = out["cpus"]

    def root(sid):
        while sid in spans and spans[sid]["parent"]:
            sid = spans[sid]["parent"]
        return sid

    def depth(sid):
        d = 0
        while sid in spans:
            d += 1
            sid = spans[sid]["parent"]
        return d

    # cdc: the batch span covers its whole micro-batch trigger
    for pr in tr["progress"]:
        if pr["query"] == "perfbench_cdc":
            for s in spans.values():
                if s["name"] == f"batch:{pr['batch']}":
                    s["start"] = min(s["start"], pr["start"])
                    s["end"] = max(s["end"], pr["start"] + pr["trigger_ms"] * 1_000_000)
    in_win = lambda x: a <= x["start"] and x["end"] <= b
    jobs = [j for j in tr["jobs"] if in_win(j)]
    stages = [s for s in tr["stages"] if a <= s["end"] <= b]
    phases = [ph for ph in tr["phases"] if in_win(ph) and ph["phase"] in ("analysis", "optimization", "planning")]
    progress = [pr for pr in tr["progress"] if a <= pr["start"] <= b]

    # timelines: one per root kind (closed loop: one; cdc: writer + reader)
    def timeline_of(sid):
        if wl_kind == "closed":
            return "client"
        r = spans.get(root(sid))
        return "writer" if r and r["layer"] == "streaming" else "reader"

    iv = {}
    for s in spans.values():
        iv.setdefault(timeline_of(s["id"]), []).append((s["start"], s["end"], depth(s["id"]), s["layer"]))
    for j in jobs:
        tl = timeline_of(j["span"]) if j["span"] in spans else ("client" if wl_kind == "closed" else "writer")
        iv.setdefault(tl, []).append((j["start"], j["end"], depth(j["span"]) + 1, "exec"))
    host = sorted(spans.values(), key=lambda s: s["start"])
    for ph in phases:
        c = [s for s in host if s["start"] <= ph["start"] and ph["end"] <= s["end"]]
        if c:
            best = min(c, key=lambda s: s["end"] - s["start"])
            iv.setdefault(timeline_of(best["id"]), []).append(
                (ph["start"], ph["end"], depth(best["id"]) + 1, "sql"))
    selfs = {tl: self_times(v, a, b) for tl, v in iv.items()}

    res = out["result"]
    if wl_kind == "closed":
        norm = max(1, max(s["pass"] for s in res["samples"]))
        warm = [s for s in res["samples"] if s["pass"] > 0]
        builders = {s["id"] for s in spans.values() if s["layer"] == "ops" and in_win(s)}
        gap = 0.0
        for q in warm:
            qj = sorted((j["start"], j["end"]) for j in jobs if root(j["span"]) == q["span"])
            covered, cur = 0, None
            for s, e in qj:
                if cur and s <= cur[1]:
                    cur[1] = max(cur[1], e)
                else:
                    if cur:
                        covered += cur[1] - cur[0]
                    cur = [s, e]
            if cur:
                covered += cur[1] - cur[0]
            gap += q["wall_s"] - covered / 1e9
        build_s = sum((spans[i]["end"] - spans[i]["start"]) / 1e9 for i in builders)
        build_jobs = sum(1 for j in jobs if j["span"] in builders)
    else:
        norm, gap, build_s, build_jobs = 1, 0.0, 0.0, 0
    run_s = sum(s.get("run_ms", 0) for s in stages) / 1e3
    mb = lambda k: sum(s.get(k, 0) for s in stages) / 2**20
    dur = lambda name: [(s["end"] - s["start"]) / 1e9 for s in spans.values()
                        if s["name"] == name and in_win(s)]
    ph = lambda name: sum((x["end"] - x["start"]) / 1e9 for x in phases if x["phase"] == name)
    m = {
        "ops.build_s": (build_s / norm, "s"),
        "ops.build_jobs": (build_jobs / norm, "count"),
        "exec.driver_gap_s": (gap / norm, "s"),
        "exec.task_cpu_s": (sum(s.get("cpu_ns", 0) for s in stages) / 1e9 / norm, "s"),
        "exec.task_run_s": (run_s / norm, "s"),
        "exec.gc_s": (sum(s.get("gc_ms", 0) for s in stages) / 1e3 / norm, "s"),
        "exec.core_busy": (run_s / (wall * cpus), "ratio"),
        "exec.shuffle_write_mb": (mb("shuffle_write") / norm, "MB"),
        "exec.shuffle_read_mb": (mb("shuffle_read") / norm, "MB"),
        "exec.spill_mb": (mb("spill") / norm, "MB"),
        "exec.output_mb": (mb("output") / norm, "MB"),
        "exec.jobs": (len(jobs) / norm, "count"),
        "exec.stages": (len(stages) / norm, "count"),
        "exec.tasks": (sum(s["tasks"] for s in stages) / norm, "count"),
        "sql.analysis_s": (ph("analysis") / norm, "s"),
        "sql.optimizer_s": (ph("optimization") / norm, "s"),
        "sql.planning_s": (ph("planning") / norm, "s"),
        "sql.executions": (sum(1 for x in phases if x["phase"] == "planning") / norm, "count"),
    }
    merges, compacts = dur("merge"), dur("compact_dv")
    m["sources.merge_s"] = (statistics.median(merges) if merges else 0.0, "s")
    m["sources.compact_s"] = (statistics.median(compacts) if compacts else 0.0, "s")
    m["sources.snapshot_s"] = (statistics.median(dur("snapshot")) if dur("snapshot") else 0.0, "s")
    m["sources.lookup_s"] = (statistics.median(
        [(x["end"] - x["start"]) / 1e9 for x in spans.values() if x["name"] == "lookup"
         and in_win(x) and spans.get(x["parent"], {}).get("name") == "point_read"] or [0.0]), "s")
    if wl_kind == "cdc":
        row_bytes = res["base_bytes"] / max(1, res["base_rows"])
        m["sources.versions"] = (len(merges) + len(compacts), "count")
        m["sources.write_amp"] = (mb("output") * 2**20 / max(1.0, res["events"] * row_bytes), "ratio")
        m["sources.space_amp"] = (res["store_bytes"] / max(1.0, res["final_rows"] * row_bytes), "ratio")
    else:
        m["sources.versions"] = (0, "count")
        m["sources.write_amp"] = (0.0, "ratio")
        m["sources.space_amp"] = (0.0, "ratio")
    trig = [x["trigger_ms"] / 1e3 for x in progress]
    addb = [x["add_batch_ms"] / 1e3 for x in progress]
    m["streaming.batches"] = (len(progress) / norm, "count")
    m["streaming.rows_per_batch"] = (statistics.mean(x["rows"] for x in progress) if progress else 0.0, "rows")
    m["streaming.trigger_s"] = (statistics.median(trig) if trig else 0.0, "s")
    m["streaming.add_batch_s"] = (statistics.median(addb) if addb else 0.0, "s")
    m["streaming.overhead_s"] = (statistics.median(t - ab for t, ab in zip(trig, addb)) if trig else 0.0, "s")
    if wl_kind == "cdc":
        due, done = res["due_ns"], sorted((b["commit"], b["max_seq"]) for b in res["batches"])
        backlog = []
        for bt in res["batches"]:
            made = sum(1 for d in due[1:] if d <= bt["start"])
            committed = max([ms for c, ms in done if c <= bt["start"]] or [0])
            backlog.append(made - committed)
        m["streaming.backlog_rows"] = (max(backlog) if backlog else 0, "rows")
        lags = [x / 1e9 for x in res["gen_lag_ns"][1:]] + [x["lag"] / 1e9 for x in res["reads"]]
        m["gen.lag_s"] = (quantile(lags, 0.99), "s")
    else:
        m["streaming.backlog_rows"] = (0, "rows")
        m["gen.lag_s"] = (0.0, "s")
    for layer in LAYERS:
        m[f"self.{layer}_s"] = (sum(sv[layer] for sv in selfs.values()) / norm, "s")
    return m, selfs, wall


# ----------------------------------------------------------------- main

def main():
    # on SIGTERM, unwind through subprocess.run, which kills the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except OSError:
        die(f"BENCHMARK.json missing under {ROOT}")
    if args.workload not in spec["workloads"]:
        die(f"unknown workload '{args.workload}'")
    wl = spec["workloads"][args.workload]
    cp = build()
    global T_START
    T_START = time.monotonic()
    data = inputs(wl["sf"], args.seed) if "sf" in wl else ""

    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = run_jvm(cp, spec, wl, args, data, work)
        if wl["run_as"] == "survey":
            return survey(out, wl)
        kind = "closed" if wl["loop"] == "closed" else "cdc"
        if kind == "closed":
            errs = oracle_check(data, work, out["oracle_sql"], wl["queries"])
            m, attempted, failed, failures, extra = closed_metrics(out, errs)
        else:
            m, attempted, failed, failures, extra = cdc_metrics(
                out, wl["visible_limit_s"], wl["gen_lag_limit_s"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    m["setup_s"] = (statistics.median(out["setup_s"]), "s",
                    "median of " + ", ".join(f"{x:.3f}" for x in out["setup_s"]))
    m["fail_ratio"] = (failed / max(1, attempted), "ratio")
    m["peak_rss_mb"] = (out["peak_rss_kb"] / 1024.0, "MB")
    m["live_mb"] = (out["live_mb"], "MB", "heap after a full GC plus non-heap, after the workload")

    print(f"== {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"cpus={out['cpus']} sf={wl.get('sf')}")
    for name, v in m.items():
        print(f"{name:18s} {v[0]:12.4f} {v[1]}" + (f"   ({v[2]})" if len(v) > 2 else ""))
    extra["timeline_s"] = dict(out["jvm_timeline_s"], python_total=round(time.monotonic() - T_START, 3))
    for k, v in extra.items():
        print(f"{k}: {json.dumps(v)}")
    for f in failures[:20]:
        print(f"FAIL {f}")

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}"
    if args.trace:
        lm, selfs, wall = trace_metrics(out, kind)
        with open(os.path.join(results, f"{tag}-spans.json"), "w") as f:
            json.dump(out["trace"], f)
        print(f"-- per-layer metrics (traced window {wall:.3f} s)")
        for name, v in lm.items():
            print(f"{name:26s} {v[0]:12.4f} {v[1]}")
        print("-- self time per layer (s) over the traced window")
        print(f"{'timeline':10s}" + "".join(f"{x:>10s}" for x in LAYERS) + f"{'sum':>10s}{'wall':>10s}")
        for tl, sv in sorted(selfs.items()):
            print(f"{tl:10s}" + "".join(f"{sv[x]:10.3f}" for x in LAYERS)
                  + f"{sum(sv.values()):10.3f}{wall:10.3f}")
        untraced = os.path.join(results, f"{tag}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["metrics"]
            print("-- tracing overhead (traced / untraced - 1, same seed)")
            for name, v in m.items():
                if name in base and base[name]["value"]:
                    print(f"{name:18s} {v[0] / base[name]['value'] - 1:+.3f}")
        report = {k: {"value": v[0], "unit": v[1]} for k, v in lm.items()}
        keep = {n["name"]: n["name"] for n in bench["per_layer"]}
    else:
        report = {k: {"value": v[0], "unit": v[1]} for k, v in m.items()}
        keep = {n["name"]: spec["gate"][n["name"]][kind] for n in bench["end_to_end"]}
    with open(os.path.join(results, f"{tag}-trace{args.trace}.json"), "w") as f:
        json.dump({"metrics": report, "failures": failures}, f)
    # a gated name carries, per loop kind, the report metric workloads.json maps it to
    final = {name: report[src] for name, src in keep.items()}
    for n in bench["end_to_end"] + bench["per_layer"]:
        if n["name"] in final and final[n["name"]]["unit"] != n["unit"]:
            die(f"{n['name']} is measured in {final[n['name']]['unit']}, BENCHMARK.json says {n['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": final}))


def survey(out, wl):
    """Per query: builder s, exec s and Spark jobs launched inside the
    builder, cold and warm; the evidence the query lists are chosen by."""
    jobs = out["trace"]["jobs"]
    spans = out["trace"]["spans"]
    rows = {}
    for s in out["result"]["samples"]:
        kids = {x["id"]: x["layer"] for x in spans if x["parent"] == s["span"]}
        bj = sum(1 for j in jobs if kids.get(j["span"]) == "ops")
        ej = sum(1 for j in jobs if kids.get(j["span"]) == "exec")
        r = rows.setdefault(s["name"], {})
        tag = "cold" if s["pass"] == 0 else "warm"
        r.update({f"{tag}_build_s": round(s["build_s"], 4), f"{tag}_exec_s": round(s["exec_s"], 4),
                  f"{tag}_build_jobs": bj, f"{tag}_exec_jobs": ej, f"{tag}_ok": s["ok"]})
        if not s["ok"]:
            r[f"{tag}_error"] = s["error"]
    path = os.path.join(HERE, "evidence", f"survey_sf{wl['sf']}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"sf": wl["sf"], "cpus": out["cpus"], "queries": rows}, f, indent=1, sort_keys=True)
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
