"""The repo's performance benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload <dashboard|rebuild> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (first run only), generates the seeded
inputs under `perfbench/.work`, runs the workload in one JVM on
`local[4]` with one closed-loop client, checks the outputs, and prints
one JSON line: `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end ones of `BENCHMARK.json`;
with `--trace 1` the per-layer ones, from a separate traced run. See
`perfbench/README.md` for the workloads and what each metric means.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import pathlib
import shutil
import subprocess
import sys
import time

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import gen  # noqa: E402

# generated inputs per workload: retail scale (1.0 = the sf0.01 fixture,
# about 60k line items) and seeded base documents (the rebuild JVM
# replicates them into the scale rehearsal's admit_ingest layout)
SIZE = {"dashboard": (0.05, 100), "rebuild": (0.05, 60)}
DEADLINE_S = 175


def parse():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True,
                   choices=sorted(SIZE))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args()


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def run_jvm(args, work, data, started):
    jvm = work / "jvm"
    (jvm / "tmp").mkdir(parents=True)
    cmd = build.java(jvm / "tmp", "--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--data", str(data))
    log_path = work / "jvm.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=jvm, stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("workload exceeded its time limit")
    text = log_path.read_text(errors="replace")
    sys.stderr.write("".join(l + "\n" for l in text.splitlines()
                             if l.startswith("[perfbench]")))
    if proc.returncode != 0 or not (jvm / "result.json").is_file():
        sys.stderr.write(text[-6000:])
        fail(f"JVM exited with {proc.returncode}")
    return json.loads((jvm / "result.json").read_text())


def digest(frame):
    """Order-free content digest: the sum of per-row hashes over the
    columns in name order."""
    frame = frame.reindex(sorted(frame.columns), axis=1)
    total = 0
    for row in frame.itertuples(index=False):
        h = hashlib.blake2b(repr(tuple(str(v) for v in row)).encode(), digest_size=8)
        total = (total + int.from_bytes(h.digest(), "little")) % (1 << 64)
    return f"{total:016x}"


def read_dump(d):
    import pandas as pd
    files = sorted(d.glob("*.parquet"))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else None


def check_outputs(workload, seed, work, data):
    """Record each verified op's row count and content digest, and for
    dashboard ops with an oracle compare the output with DuckDB under the
    repo's comparison rules. Returns the names of ops that failed."""
    verify = work / "jvm" / "verify"
    dumps = {d.name: d for d in verify.iterdir() if d.is_dir()} if verify.is_dir() else {}
    frames = {n: read_dump(d) for n, d in sorted(dumps.items())}
    record = {n: {"rows": len(f), "digest": digest(f)}
              for n, f in frames.items() if f is not None}
    out = BENCH / ".results"
    out.mkdir(exist_ok=True)
    (out / f"verify-{workload}-{seed}.json").write_text(json.dumps(record, indent=1))
    if workload != "dashboard":
        return []
    spec = importlib.util.spec_from_file_location("verify_local", ROOT / "tools" / "verify_local.py")
    vl = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(vl)
    import duckdb
    con = duckdb.connect()
    for t in vl.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    oracles = json.loads((work / "jvm" / "oracle_sql.json").read_text())
    bad = []
    for name, frame in frames.items():
        if name not in oracles or frame is None:
            continue
        try:
            err = vl.compare(name, frame, con.execute(oracles[name]).fetchdf())
        except Exception as e:  # an oracle that cannot run is a failed check
            err = f"oracle error: {e}"
        if err is not None and "[ok-ish]" not in str(err):
            sys.stderr.write(f"[perfbench] ORACLE MISMATCH {name}: {err}\n")
            bad.append(name)
    return bad


def main():
    args = parse()
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources under {ROOT}; run from a checkout of the repo")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    build.build()
    started = time.time()
    work = BENCH / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = work / "data"
        gen.generate(str(data), args.seed, *SIZE[args.workload])
        result = run_jvm(args, work, data, started)
        bad = check_outputs(args.workload, args.seed, work, data)
        if args.trace:
            shutil.copy(work / "jvm" / "trace.json",
                        BENCH / ".results" / f"trace-{args.workload}-{args.seed}.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    missing = [n for n in names if n not in result["metrics"]]
    if missing:
        fail(f"metrics missing from the run: {missing}")
    failed = result["failed"] + len(bad)
    for name in result["failed_ops"] + bad:
        sys.stderr.write(f"[perfbench] failed op: {name}\n")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": result["attempted"],
        "failed": failed,
        "metrics": {n: result["metrics"][n] for n in names}}))


if __name__ == "__main__":
    main()
