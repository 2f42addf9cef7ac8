#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <wire|analytics> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and harness if needed (see build.py), runs the workload
in one JVM, finishes the output checks (analytics outputs against their
DuckDB twins) and prints, as the last stdout line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`: every end-to-end metric of
BENCHMARK.json with --trace 0, every per-layer metric with --trace 1.
Exits non-zero if an output check fails or the workload cannot run.
"""
import argparse
import decimal
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("wire", "analytics")
RUN_BUDGET_S = 175

def run_jvm(root, classpath, args, trace, deadline):
    """One JVM run of the workload; returns (result dict, run dir)."""
    run_dir = os.path.join(build.build_dir(root), "run",
                           f"{args.workload}-{os.getpid()}-{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    cmd = build.java_command(root, classpath, run_dir, args.workload,
                             args.seed, args.seconds, trace, out)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                             cwd=run_dir, env=build.java_env(run_dir))
        try:
            p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"{args.workload}: JVM ran past the run budget "
                     f"(log: {log})")
    if p.returncode != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        sys.exit(f"{args.workload}: JVM exited with {p.returncode}")
    with open(out) as f:
        return json.load(f), run_dir


def canon_value(v):
    """Comparable text of one cell, by kind as the repo's oracle check
    compares them: integers exact, decimals and doubles as doubles."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "i" + str(v)
    if isinstance(v, (float, decimal.Decimal)):
        v = float(v)
        if math.isnan(v):
            return "fnan"
        return "f" + repr(v + 0.0)
    return "s" + str(v)


def digest(cursor):
    """(sorted column names, row count, order-independent digest)."""
    cols = [d[0] for d in cursor.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("\x1f".join(canon_value(r[i]) for i in order)
                  for r in cursor.fetchall())
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return [cols[i] for i in order], len(rows), h.hexdigest()


def check_analytics(info):
    """Each query's Spark output against its DuckDB twin over the same
    generated parquet: same columns, row count and digest."""
    import duckdb
    errors = []
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM read_parquet("
                f"'{info['data']}/events.parquet/*.parquet')")
    for name, sql in info["oracle"].items():
        try:
            want = digest(con.execute(sql))
            got = digest(con.execute(
                f"SELECT * FROM read_parquet('{info['out']}/{name}/*.parquet')"))
        except Exception as e:  # a missing output or a broken twin
            errors.append(f"{name}: {e}")
            continue
        if got != want:
            errors.append(f"{name}: spark {got[1]} rows {got[2][:12]}, "
                          f"duckdb {want[1]} rows {want[2][:12]}")
    return errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build.build(root)
    deadline = time.monotonic() + RUN_BUDGET_S

    res, run_dir = run_jvm(root, classpath, args, args.trace, deadline)
    errors = list(res["errors"])
    if "analytics_check" in res:
        errors += check_analytics(res["analytics_check"])
    spans = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(spans):  # traced runs: keep the last run's spans
        keep = os.path.join(build.build_dir(root),
                            f"spans-{args.workload}.jsonl")
        shutil.move(spans, keep)
        res["notes"].append(f"spans: {keep}")
    shutil.rmtree(run_dir, ignore_errors=True)

    m = res["metrics"]
    if args.trace:  # a layer the workload bypasses reads 0
        for w in spec["per_layer"]:
            m.setdefault(w["name"], 0.0)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [w["name"] for w in wanted if m.get(w["name"]) is None]
    if missing:
        sys.exit(f"{args.workload}: metrics not measured: {missing}; "
                 f"errors: {errors}")

    for n in res["notes"]:
        print(n)
    for e in errors:
        print(f"CHECK FAILED: {e}")
    for w in spec["end_to_end"] + spec["per_layer"]:
        if w["name"] in m:
            print(f"{w['name']:40s} {m[w['name']]:>16.6g} {w['unit']}")
    print(json.dumps({
        "correct": not errors,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {w["name"]: {"value": m[w["name"]], "unit": w["unit"]}
                    for w in wanted},
    }))
    sys.exit(0 if not errors else 1)


if __name__ == "__main__":
    main()
