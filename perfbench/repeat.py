#!/usr/bin/env python3
"""Count repeatability check: run one seed traced twice and compare the
job, stage and task counts of every traced operation and every span.

    python3 perfbench/repeat.py --workload corpus --seed 1 [--seconds 10]

Counts are read after the listener bus is drained, so a difference here is
a difference in what the program ran, not listener lag. Also compares the
operations of one kind within each run. Exits 1 if any count differs.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTS = ("jobs", "stages", "tasks")


def traced_run(workload, seed, seconds, keep):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                   check=True, stdout=subprocess.DEVNULL, cwd=ROOT)
    src = os.path.join(ROOT, ".bench_build", "traces", f"{workload}-seed{seed}.json")
    shutil.copyfile(src, keep)
    with open(keep) as fh:
        return json.load(fh)["ops"]


def profile(op):
    """(counts of the op, counts per span path) of one traced operation."""
    by_id = {s["id"]: s for s in op["spans"]}

    def path(s):
        return s["name"] if s["parent"] not in by_id else path(by_id[s["parent"]]) + "/" + s["name"]
    spans = {}
    for s in op["spans"]:
        key = path(s)
        prev = spans.get(key, (0, 0, 0))
        spans[key] = tuple(p + s[c] for p, c in zip(prev, COUNTS))
    return tuple(op[c] for c in COUNTS), spans


def diff(label, a, b):
    out = []
    if a[0] != b[0]:
        out.append(f"{label}: op (jobs, stages, tasks) {a[0]} vs {b[0]}")
    for key in sorted(set(a[1]) | set(b[1])):
        x, y = a[1].get(key), b[1].get(key)
        if x != y:
            out.append(f"{label}: span {key} {x} vs {y}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    keep = os.path.join(ROOT, ".bench_build", "traces")
    os.makedirs(keep, exist_ok=True)
    runs = [traced_run(args.workload, args.seed, args.seconds,
                       os.path.join(keep, f"{args.workload}-seed{args.seed}-run{i}.json"))
            for i in (1, 2)]
    problems = []
    for r, ops in enumerate(runs, start=1):
        first = {}
        for op in ops:
            p = profile(op)
            if op["kind"] == "case":  # cases differ in size; compare across runs only
                continue
            if op["kind"] in first:
                problems += diff(f"run{r} {op['kind']}#{op['n']} vs first", first[op["kind"]], p)
            else:
                first[op["kind"]] = p
    a = {(o["kind"], o["n"]): profile(o) for o in runs[0]}
    b = {(o["kind"], o["n"]): profile(o) for o in runs[1]}
    for key in sorted(set(a) & set(b)):
        problems += diff(f"{key[0]}#{key[1]} run1 vs run2", a[key], b[key])
    for key in sorted(set(a) & set(b)):
        print(f"{key[0]}#{key[1]}: (jobs, stages, tasks) run1={a[key][0]} run2={b[key][0]}")
    for p in problems:
        print("DIFF", p)
    print(f"{args.workload} seed={args.seed}: {len(set(a) & set(b))} operations compared, "
          f"{len(problems)} count differences")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
