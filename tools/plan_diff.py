#!/usr/bin/env python3
"""Diff two `graft.Explain` outputs section by section.

Usage: python3 tools/plan_diff.py A.txt B.txt [--rename OLD=NEW ...]

Explain prints one section per query or exhibit, each opened by a
`==== name (comment) ====` line. A section is keyed by its name (the
first word after `====`); its body is every line up to the next
header. Before comparing, run-to-run noise is masked:

  - expression ids (`doc_id#17L` -> `doc_id#_L`), `plan_id=N` and RDD
    ids (`MapPartitionsRDD[842]`), which count what the session built
    before;
  - scratch temp directories (`graft-exhibit-dv1373...` -> `graft-exhibit-dv_`,
    `graft_pipe02_7956...` -> `graft_pipe02_`)
    and the UUIDs in commit directories and part-file names;
  - lambda class names and object hashes (`$Lambda$7199/0x7f00ad84`,
    `@6f2a1c3b`);
  - source line numbers in call sites (`localCheckpoint at
    StreamQueries.scala:458`), which move with any edit above them;
  - whole-stage codegen ids (`[codegen id : 3]`, `*(3) Project`) and
    the stage number an AQE `ShuffleQueryStage`/`BroadcastQueryStage`/
    `ResultQueryStage` node prints as its `Arguments: N` line, which
    count the stages AQE built before.

sbt status lines (`[success] Total time ...`) are dropped.

`--rename OLD=NEW` compares section OLD of the first file with
section NEW of the second (a section renamed between the two runs).

Prints a unified diff per differing section and one summary line;
exits 1 if any section differs or is present on one side only.
"""
import argparse
import difflib
import re
import sys

HEADER = re.compile(r"^==== (\S+)")
MASKS = [
    (re.compile(r"#\d+"), "#_"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"RDD\[\d+\]"), "RDD[_]"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
     "<uuid>"),
    (re.compile(r"(graft[-_][A-Za-z0-9_.-]*?[A-Za-z_.-])\d{6,}"), r"\1_"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$_"),
    (re.compile(r"@[0-9a-f]{5,}\b"), "@_"),
    (re.compile(r"(\w\.scala):\d+"), r"\1:_"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : _]"),
    (re.compile(r"\*\(\d+\) "), "*(_) "),
]
# a formatted-plan node header, and a query stage's numeric argument
NODE = re.compile(r"^\(\d+\) (\S+)")
STAGE_ARG = re.compile(r"^Arguments: \d+$")
# sbt's own status lines around the program's output
SBT_LINE = re.compile(r"^\[(success|info|warn|error)\] ")


def mask(line):
    for pat, rep in MASKS:
        line = pat.sub(rep, line)
    return line.rstrip()


def sections(path):
    out = {}
    name = None
    node = None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            m = HEADER.match(raw)
            if m:
                name = m.group(1).rstrip("=").strip()
                out[name] = []
            elif name is not None and not SBT_LINE.match(raw):
                line = raw.rstrip("\n")
                n = NODE.match(line)
                if n:
                    node = n.group(1)
                elif node and node.endswith("QueryStage") and STAGE_ARG.match(line):
                    line = "Arguments: _"
                out[name].append(mask(line))
    # trailing blank lines are layout, not plan
    for body in out.values():
        while body and not body[-1]:
            body.pop()
    return out


def main(argv):
    ap = argparse.ArgumentParser(description="Diff two Explain outputs.")
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--rename", action="append", default=[],
                    metavar="OLD=NEW")
    args = ap.parse_args(argv)
    renames = dict(r.split("=", 1) for r in args.rename)
    a = {renames.get(k, k): v for k, v in sections(args.a).items()}
    b = sections(args.b)
    differ, only = [], []
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            only.append(name)
            print(f"-- {name}: only in {args.a if name in a else args.b}")
        elif a[name] != b[name]:
            differ.append(name)
            sys.stdout.writelines(
                l + "\n" for l in difflib.unified_diff(
                    a[name], b[name], f"{args.a}:{name}",
                    f"{args.b}:{name}", lineterm="", n=2))
    same = len(set(a) & set(b)) - len(differ)
    print(f"{same} sections identical, {len(differ)} differ, "
          f"{len(only)} on one side only")
    return 1 if differ or only else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
