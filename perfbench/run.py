#!/usr/bin/env python3
"""Outside-in benchmark of graft on local[4].

    python3 perfbench/run.py --workload corpus|interval \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program from source
(build.py), generates the workload's inputs from the seed (gen.py), runs
one JVM that sets up, warms up and then times the layers' public APIs in a
closed loop for S seconds, checks every output against an independent
oracle outside the timed window, and prints a summary followed by one JSON
line. With --trace 0 the JSON carries the end-to-end metrics; with
--trace 1 the per-layer metrics of traced operations (spans and Spark
listener counters), and the spans are written to .bench_build/traces/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the benchmark directory clean

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("corpus", "interval")
# operation kinds per workload, in metric-slot order (op1, op2)
KINDS = {"corpus": ("curate", "pretrain"), "interval": ("window", "case")}
# the oracle query of each kind whose output is a file
ORACLE = {"curate": "pipeline_curate", "pretrain": "pipeline_pretrain_bpe",
          "window": "interval_lsfe"}
# fixed driver heap and the throughput collector: with G1 and a growing
# heap, whole runs came out 15-20% slower at random
# (no perf-data file, which would land outside the checkout)
JVM_FLAGS = ("-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData")
DEADLINE_S = 170  # the whole run, build excluded
PER_LAYER = ("build_s", "build_jobs", "exec_s", "jobs", "stages", "tasks",
             "shuffle_write_mb", "input_mb", "executor_cpu_s", "executor_run_s",
             "gc_s", "spill_mb", "driver_gap_s", "core_busy_ratio",
             "task_overhead_s")
UNITS = {"_s": "s", "_mb": "MB", "_ratio": "ratio", "_ms": "ms"}


def unit(name):
    base = name.rsplit(".", 1)[0] if name.endswith((".p50", ".p95")) else name
    for suffix, u in UNITS.items():
        if base.endswith(suffix):
            return u
    return "count"


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def quantile(values, q):
    """Linear-interpolated quantile (q in [0, 1])."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


# ---------------------------------------------------------------- checks

def oracle_connection(workload, data, oracles):
    """DuckDB over the generated files, with each needed oracle materialized."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    if workload == "corpus":
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{data}/documents.parquet')")
    else:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{data}/events.parquet')")
    for kind in KINDS[workload]:
        if kind in ORACLE:
            con.execute(f"CREATE TABLE exp_{kind} AS {oracles[ORACLE[kind]]}")
    return con


def check_output(con, kind, path):
    """None when the output at `path` equals the oracle result, else why not.
    Integer and string columns compare exactly; float columns to 1e-9."""
    con.execute(f"CREATE OR REPLACE VIEW got AS SELECT * FROM read_parquet('{path}/*.parquet')")
    exp = {r[0]: r[1] for r in con.execute(f"DESCRIBE exp_{kind}").fetchall()}
    got = {r[0]: r[1] for r in con.execute("DESCRIBE got").fetchall()}
    if sorted(exp) != sorted(got):
        return f"columns {sorted(got)} != {sorted(exp)}"
    n_exp = con.execute(f"SELECT count(*) FROM exp_{kind}").fetchone()[0]
    n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
    if n_exp != n_got:
        return f"rows {n_got} != {n_exp}"
    cols = sorted(exp)
    floats = [c for c in cols if any(t in exp[c] or t in got[c] for t in ("DOUBLE", "FLOAT"))]
    sel = ", ".join(f'"{c}"' for c in cols)
    if not floats:
        diff = con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT {sel} FROM got EXCEPT ALL SELECT {sel} FROM exp_{kind}))"
            f" + (SELECT count(*) FROM (SELECT {sel} FROM exp_{kind} EXCEPT ALL SELECT {sel} FROM got))"
        ).fetchone()[0]
        return None if diff == 0 else f"{diff} rows differ"
    import numpy as np
    a = con.execute(f"SELECT {sel} FROM got ORDER BY ALL").fetchdf()
    b = con.execute(f"SELECT {sel} FROM exp_{kind} ORDER BY ALL").fetchdf()
    for c in cols:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if c in floats:
            ok = np.allclose(x.astype(float), y.astype(float), rtol=1e-9, atol=1e-9, equal_nan=True)
        else:
            ok = (x == y).all()
        if not ok:
            return f"column {c} differs"
    return None


def check_testkit_reference(cases, oracles):
    """Cross-check the generator's reference ids against the repo's
    interval_lsfe oracle SQL on the union of all cases. A disagreement is a
    benchmark defect, so it stops the run."""
    import duckdb
    import pandas as pd
    rows = []
    for cid, _, order, group, marker, start, end, iids, _ in cases:
        label = {start: "signup", end: "purchase"}
        for o, g, m, i in zip(order, group, marker, iids):
            rows.append((cid * 16 + g, o, None if m is None else label.get(m, "view"), i))
    df = pd.DataFrame(rows, columns=["user_id", "event_id", "event_type", "ref"])
    con = duckdb.connect()
    con.register("events", df)
    bad = con.execute(
        f"SELECT count(*) FROM ({oracles['interval_lsfe']}) o JOIN events e "
        "USING (user_id, event_id) WHERE o.iids <> e.ref").fetchone()[0]
    if bad:
        raise SystemExit(f"testkit reference disagrees with the interval_lsfe oracle on {bad} rows")


# ---------------------------------------------------------------- metrics

def end_to_end(workload, res):
    """op1_ms/op2_ms are the median walls of the workload's two operation
    kinds; the summary also names each by what it measures."""
    timed = [o for o in res["ops"] if o["phase"] == "timed"]
    walls = {k: [o["wall_s"] for o in timed if o["kind"] == k] for k in KINDS[workload]}
    a, b = KINDS[workload]
    named = {"setup_s": res["setup_s"], "peak_rss_mb": res["peak_rss_mb"],
             f"{a}_s": statistics.median(walls[a])}
    if b == "case":
        named["case_ms.p50"] = 1000 * statistics.median(walls[b])
        named["case_ms.p95"] = 1000 * quantile(walls[b], 0.95)
    else:
        named[f"{b}_s"] = statistics.median(walls[b])
    metrics = {"setup_s": named["setup_s"],
               "op1_ms": 1000 * statistics.median(walls[a]),
               "op2_ms": 1000 * statistics.median(walls[b]),
               "peak_rss_mb": named["peak_rss_mb"]}
    return named, metrics


def per_layer(workload, res):
    """Per-layer metrics of the traced operations, as medians per kind
    (op1 = first kind, op2 = second), the tracing overhead as the median
    traced minus the median untraced wall of the kind (every other timed
    operation is traced), and the span metrics the summary names: pipeline
    stage self times and jobs, test-kit phase times."""
    ops = [o for o in res["ops"] if o["phase"] == "timed"]
    traced = [o for o in ops if o["traced"]]
    named, metrics = {}, {}
    for slot, kind in enumerate(KINDS[workload], start=1):
        mine = [o for o in traced if o["kind"] == kind]
        for f in PER_LAYER:
            metrics[f"op{slot}.{f}"] = named[f"{kind}.{f}"] = \
                statistics.median(o[f] for o in mine)
        metrics[f"op{slot}.trace_overhead_s"] = named[f"{kind}.trace_overhead_s"] = \
            statistics.median(o["wall_s"] for o in mine) - statistics.median(
                o["wall_s"] for o in ops if o["kind"] == kind and not o["traced"])
        # pipeline stages are the children of the build span; test-kit
        # phases are the segments of the case span
        per_op = []
        for o in mine:
            spans = o["spans"]
            if kind == "case":
                parent = spans[0]["id"]
            else:
                parent = next((s["id"] for s in spans if s["name"] == "build"), None)
            agg = {}
            for s in spans:
                if s["parent"] == parent:
                    self_s, jobs = agg.get(s["name"], (0.0, 0))
                    agg[s["name"]] = (self_s + s["self_s"], jobs + s["jobs"])
            per_op.append(agg)
        labels = list(dict.fromkeys(k for agg in per_op for k in agg))
        for label in labels:
            self_s = statistics.median(agg.get(label, (0.0, 0))[0] for agg in per_op)
            jobs = statistics.median(agg.get(label, (0.0, 0))[1] for agg in per_op)
            if kind == "case":
                named[f"case.testing.{label}_ms"] = 1000 * self_s
                named[f"case.testing.{label}.jobs"] = jobs
            elif kind != "window":
                named[f"{kind}.pipeline.{label}.self_s"] = self_s
                named[f"{kind}.pipeline.{label}.jobs"] = jobs
        named[f"{kind}.self_sum_residual_s"] = max(
            abs(o["self_sum_s"] - o["span_wall_s"]) for o in mine)
        named[f"{kind}.unattributed_events"] = sum(o["unattributed_events"] for o in mine)
    return named, metrics


def mutants_killed_ratio(res, cases):
    """Share of the mutants of timed test cases that the test kit killed:
    a passing case killed all of its mutants, a failing one counts none."""
    total = killed = 0
    for o in res["ops"]:
        if o["kind"] == "case" and o["phase"] == "timed":
            m = len(cases[o["n"] % len(cases)][8])
            total += m
            killed += m if o["error"] is None else 0
    return killed / total if total else 1.0


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    w = args.workload

    try:
        t = time.time()
        classes = build.build()
        build_s = time.time() - t
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 1
    with open(os.path.join(classes, "oracles.json")) as fh:
        oracles = json.load(fh)

    started = time.time()
    work = os.path.join(build.OUT, "work", f"{w}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    try:
        t = time.time()
        props, cases = gen.generate(w, args.seed, data)
        if cases is not None:
            check_testkit_reference(cases, oracles)
        gen_s = time.time() - t
        log(f"{w} seed={args.seed} inputs {json.dumps(props)}")

        os.makedirs(out)
        result_file = os.path.join(work, "result.json")
        cmd = ["java", *build.ADD_OPENS, *JVM_FLAGS,
               "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}",
               "-cp", build.classpath(classes), "perfbench.Main", "run",
               "--workload", w, "--data", data, "--out", out,
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--result", result_file]
        jvm_log = os.path.join(work, "jvm.log")
        with open(jvm_log, "w") as jlog:
            try:
                proc = subprocess.run(cmd, stdout=jlog, stderr=subprocess.STDOUT,
                                      timeout=max(1.0, started + DEADLINE_S - time.time()))
            except subprocess.TimeoutExpired:
                print("benchmark JVM timed out", file=sys.stderr)
                return 1
        if proc.returncode != 0:
            with open(jvm_log) as fh:
                sys.stderr.write(fh.read()[-4000:])
            print(f"benchmark JVM failed with code {proc.returncode}", file=sys.stderr)
            return 1
        with open(result_file) as fh:
            res = json.load(fh)

        # output check against the oracle, after the JVM has exited
        t = time.time()
        con = oracle_connection(w, data, oracles)
        oracle_s = time.time() - t
        t = time.time()
        failures = []
        for o in res["ops"]:
            why = o["error"]
            if why is None and o["out"] is not None:
                why = check_output(con, o["kind"], o["out"])
            if why is not None:
                failures.append(f"{o['kind']}#{o['n']} ({o['phase']}): {why}")
        check_s = time.time() - t
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = len(res["ops"]), len(failures)
    for f in failures[:10]:
        log(f"FAILED {f}")
    counts = {k: sum(1 for o in res["ops"] if o["kind"] == k and o["phase"] == "timed")
              for k in KINDS[w]}
    log(f"{w} build_s={build_s:.2f} gen_s={gen_s:.2f} oracle_s={oracle_s:.2f} check_s={check_s:.2f} "
        f"loop_s={res['loop_s']:.2f} timed_ops={json.dumps(counts)} "
        f"setup_s={res['setup_s']:.3f}")
    log(f"{w} session {json.dumps(res['session'], sort_keys=True)}")
    for k in KINDS[w]:
        walls = [round(o["wall_s"], 3) for o in res["ops"]
                 if o["kind"] == k and o["phase"] == "timed" and not o["traced"]]
        log(f"{w} {k} untraced walls_s (n={len(walls)}) {walls}")

    if args.trace:
        named, metrics = per_layer(w, res)
        trace_dir = os.path.join(build.OUT, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{w}-seed{args.seed}.json"), "w") as fh:
            json.dump({"workload": w, "seed": args.seed, "inputs": props,
                       "ops": [o for o in res["ops"] if o["traced"]]}, fh)
    else:
        named, metrics = end_to_end(w, res)
    named["failed_ratio"] = failed / attempted
    if cases is not None:
        named["case.testing.mutants_killed_ratio"] = mutants_killed_ratio(res, cases)
    for k, v in named.items():
        log(f"{w} {k} = {v:.6g} {unit(k)}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
