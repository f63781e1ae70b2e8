#!/usr/bin/env python3
"""Run every workload several times, each with another seed, and record the
medians, quartiles and run-to-run spread of each end-to-end metric, plus
one traced run per workload.

    python3 perfbench/baseline.py --runs 10

The spread is (Q3 - Q1) / median over the runs, quartiles as
`statistics.quantiles(values, n=4)` gives them; BENCHMARK.json's bound for
a metric should be at least three times its spread.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds, trace):
    """(record line, result line) of one run; result None if it failed."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    record = next((json.loads(x[len("record "):]) for x in lines
                   if x.startswith("record ")), None)
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    if result is None:
        sys.stderr.write(p.stderr[-2000:])
    return record, result


def summarize(values, bound):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
            "bound": bound, "values": values}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    out = {"run_seconds": seconds, "runs": a.runs,
           "seeds": list(range(a.first_seed, a.first_seed + a.runs)),
           "workloads": {}}
    for w in (w["name"] for w in bench["workloads"]):
        values, env, failed, t0 = {}, None, 0, time.time()
        for seed in out["seeds"]:
            record, result = run_once(w, seed, seconds, 0)
            if result is None or not result["correct"]:
                failed += 1
                continue
            env = env or {k: record[k] for k in
                          ("cores", "mem_gb", "jdk", "spark", "inputs")}
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        t1 = time.time()
        _, traced = run_once(w, a.first_seed, seconds, 1)
        out["workloads"][w] = {
            "environment": env, "failed_runs": failed + (traced is None),
            "seconds_per_run": (t1 - t0) / a.runs,
            "seconds_traced_run": time.time() - t1,
            "end_to_end": {n: summarize(v, bounds.get(n))
                           for n, v in values.items() if len(v) >= 2},
            "per_layer": {n: m["value"] for n, m in
                          (traced or {}).get("metrics", {}).items()},
        }
        print(json.dumps({w: {n: (round(s["median"], 4), round(s["spread"], 4))
                              for n, s in out["workloads"][w]["end_to_end"].items()}}),
              flush=True)
        with open(os.path.join(HERE, "baseline.json"), "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
