#!/usr/bin/env python3
"""Compare two `graft.PlanDump` outputs query by query.

    python3 tools/plan_diff.py <parent_dump> <change_dump> [--expect q1,q2]

A dump is the stdout of `runMain graft.PlanDump <sfDir>`, either raw or as
sbt prints it (`[info] ` prefixes; `[error]`/`[warn]`/`[success]` log
lines are dropped). Each `===== name =====` header opens one query's
plan. Before comparing, every plan line is normalised for tokens that
change from run to run without changing the plan:

  - expression ids `#123`, exchange counters `plan_id=45` and RDD ids
    `MapPartitionsRDD[2537]`;
  - the numeric suffix of generated lambda variables (`lambda x_33`);
  - Spark application ids in temp paths (`local-1792248081146`);
  - the directory holding a forecast model store (`graft_model_store_*`):
    the driver's per-context temp dir, `spark-<uuid>/userFiles-<uuid>`,
    or `java.io.tmpdir` in older dumps;
  - JVM lambda classes and object addresses (`$$Lambda$6089/0x7fe3@34a5`,
    `PairAgg$@35ad04e3`);
  - the checkout root, i.e. any path prefix before `/target/`.

Prints every query whose normalised plan differs (or that only one dump
has), marking those named in `--expect`. Exits 1 when any difference is
not expected, else 0. Exits 2 when either dump holds no query at all
(say, a PlanDump that died before its first header): two empty dumps
are not "identical".
"""
import argparse
import re
import sys

HEADER = re.compile(r"^===== (.+) =====$")
SBT_NOISE = re.compile(r"^\[(error|warn|success|debug)\]")

NORMALISE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\blambda (\w+?)_\d+\b"), r"lambda \1_N"),
    (re.compile(r"local-\d+"), "local-APP"),
    (re.compile(r"[^\s\[\],:]*/graft_model_store_"), "<tmp>/graft_model_store_"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"(\w\$?)@[0-9a-f]{5,}\b"), r"\1@ADDR"),
    (re.compile(r"[^\s\[\],:]*/target/"), "<root>/target/"),
]


def normalise(line):
    for pattern, repl in NORMALISE:
        line = pattern.sub(repl, line)
    return line


def parse(lines):
    """Map each query name to its list of normalised plan lines."""
    plans = {}
    current = None
    for raw in lines:
        line = raw.rstrip("\n")
        if SBT_NOISE.match(line):
            continue
        if line.startswith("[info] "):
            line = line[len("[info] "):]
        m = HEADER.match(line)
        if m:
            current = m.group(1)
            plans[current] = []
        elif current is not None:
            plans[current].append(normalise(line))
    return plans


def differing(parent, change):
    """Sorted names whose plans differ or that only one dump has."""
    names = set(parent) | set(change)
    return sorted(n for n in names if parent.get(n) != change.get(n))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent_dump")
    ap.add_argument("change_dump")
    ap.add_argument("--expect", default="",
                    help="comma-separated queries allowed to differ")
    args = ap.parse_args(argv)
    expect = {q for q in args.expect.split(",") if q}
    with open(args.parent_dump) as f:
        parent = parse(f)
    with open(args.change_dump) as f:
        change = parse(f)
    for path, plans in ((args.parent_dump, parent), (args.change_dump, change)):
        if not plans:
            print(f"{path}: no '===== name =====' query header; "
                  "not a PlanDump output", file=sys.stderr)
            return 2
    diff = differing(parent, change)
    unexpected = [n for n in diff if n not in expect]
    for n in diff:
        tag = "expected" if n in expect else "UNEXPECTED"
        if n not in parent or n not in change:
            tag += ", only in " + ("change" if n not in parent else "parent")
        print(f"{n}: differs ({tag})")
    print(f"{len(set(parent) | set(change))} queries, {len(diff)} differ, "
          f"{len(unexpected)} unexpected")
    return 1 if unexpected else 0


if __name__ == "__main__":
    sys.exit(main())
