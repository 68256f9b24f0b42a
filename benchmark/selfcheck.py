#!/usr/bin/env python3
"""Same-seed self-check: the counts the benchmark records must repeat exactly.

    python3 benchmark/selfcheck.py --workload <name> --seed <n> [--seconds <s>]

Runs the workload twice (untraced) with the same seed and compares, op by op
(ops are numbered by their place in the fixed input sequence), every count in
the two reports: Spark jobs per op, rows written, candidate pairs, edges by
kind, clusters, matches per find call, and (when both runs ran the same ops)
the closing checks. Exits 1 on any difference.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args, n):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    rc = subprocess.run(cmd, cwd=ROOT).returncode
    if rc != 0:
        sys.exit(f"selfcheck: run {n} exited {rc}")
    rep = os.path.join(ROOT, ".bench_build", "reports", f"{args.workload}-s{args.seed}-t0.json")
    keep = f"{rep[:-5]}-selfcheck{n}.json"
    shutil.copy(rep, keep)
    with open(keep) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    a, b = run(args, 1), run(args, 2)
    ops_a = {o["seq"]: o["counts"] for o in a["ops"]}
    ops_b = {o["seq"]: o["counts"] for o in b["ops"]}
    common = sorted(set(ops_a) & set(ops_b))
    diffs = [f"op {s}: {ops_a[s]} != {ops_b[s]}" for s in common if ops_a[s] != ops_b[s]]
    # the closing check covers everything ingested, so it is comparable only
    # when both runs ran the same ops
    fa = (a.get("finish") or {}).get("counts")
    fb = (b.get("finish") or {}).get("counts")
    if set(ops_a) == set(ops_b) and fa != fb:
        diffs.append(f"finish: {fa} != {fb}")
    print(f"selfcheck {args.workload} seed {args.seed}: {len(common)} common ops compared, "
          f"{len(diffs)} differences")
    for d in diffs:
        print("  " + d)
    sys.exit(1 if diffs or not common else 0)


if __name__ == "__main__":
    main()
