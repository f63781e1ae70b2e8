#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olist_corpus --seed 1 --seconds 1 --trace 0

Builds the program (perfbench/build.py), generates the workload's inputs
from the seed (perfbench/gen.py), runs closed-loop timed passes from a cold
JVM (perfbench.Main, local[nproc]), checks the answers against DuckDB
(perfbench/oracle.py), and prints a summary, one record line and, last,
the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
(perfbench/stats.py). Exits non-zero when an answer is wrong or the run
fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

# Input size per part. corpus_funnel's input does not depend on --seed: it
# is generated with CORPUS_SEED so its recorded DuckDB answer applies (see
# oracle.py).
SIZES = {"olist_elt": 100000, "tpch22": 0.01, "corpus_funnel": 1000}
CORPUS_SEED = 42
# A workload is one part or several run back to back in one pass.
WORKLOADS = {name: (name,) for name in SIZES}
WORKLOADS["olist_corpus"] = ("olist_elt", "corpus_funnel")
HEAP = "4g"
# C1 only. On a 4-vCPU VM a cold tpch22 pass with C2 spends about 55
# CPU-seconds compiling, two of the four cores for its whole length, so its
# wall time follows whatever else the host runs: two busy neighbour threads
# made it 30-50% slower. With C1 only the same threads did not slow it,
# and the cold pass is as fast or faster at half the CPU time.
JIT = ["-XX:TieredStopAtLevel=1"]
DEADLINE_S = 170.0
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def generate(part, seed, input_dir):
    """Write one part's inputs; returns its input description."""
    size = SIZES[part]
    if part == "olist_elt":
        gen.olist_csvs(input_dir, seed, size)
        return {"orders": size}
    if part == "tpch22":
        gen.tpch_tables(input_dir, seed, size)
        return {"sf": size}
    gen.documents(input_dir, CORPUS_SEED, size)
    return {"docs": size, "generator_seed": CORPUS_SEED}


def run_jvm(classes, args, work, timeout):
    """Run perfbench.Main in its own process group; kill it on timeout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + JIT + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "perfbench.Main"] + args)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=log, env=env,
                                cwd=work, start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM (see main): never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"JVM exited {rc}:\n{tail}")


def verify(workload, rec, inputs, input_dir, tmp):
    """Check the kept answer against DuckDB, then every timed pass against
    the kept one. Returns (failed passes, problems).
    """
    problems = []
    answers = rec["answers"]
    if answers is None:
        problems.append("no pass completed")
    for part in WORKLOADS[workload] if answers else ():
        if part == "olist_elt":
            with open(os.path.join(answers, "fct_orders.path")) as f:
                rows, why = oracle.check_fct_orders(input_dir, f.read(), tmp)
            if rows != inputs[part]["orders"]:
                problems.append(f"fct_orders has {rows} rows, "
                                f"expected {inputs[part]['orders']}")
            if why:
                problems.append(f"fct_orders differs from the DuckDB replay: {why}")
            continue
        if part == "corpus_funnel":
            wrong = oracle.check_expected(part, inputs[part], answers)
        else:
            wrong = oracle.check_oracle_sql(
                input_dir, answers,
                {n: rec["oracle_sql"][n] for n in stats.TPCH}, tmp)
        problems += [f"{name}: {why}" for name, why in wrong.items()]
    kept = {p["index"]: p for p in rec["passes"]}.get(rec["kept_pass"])
    good = kept["digest"] if kept and not problems else None
    failed = 0
    for p in rec["passes"]:
        bad = not p["ok"] or p["digest"] != good
        tests = p["facts"].get("tests", {}) if p["ok"] else {}
        if any(v != 0 for v in tests.values()):
            problems.append(f"pass {p['index']}: failing tests {tests}")
            bad = True
        if p["error"]:
            problems.append(f"pass {p['index']}: {p['error'][:300]}")
        elif good and p["digest"] != good:
            problems.append(f"pass {p['index']}: result differs from the checked one")
        failed += bad
    return failed, problems


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="corpus_funnel: replay the oracle SQL in DuckDB "
                    "(minutes) and record its answers before checking")
    a = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    try:
        classes = build.build()
    except Exception as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(build.BUILD_DIR, "work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    input_dir, tmp = os.path.join(work, "input"), os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        t_setup = time.time()
        inputs = {p: generate(p, a.seed, input_dir) for p in WORKLOADS[a.workload]}
        out = os.path.join(work, "record.json")
        run_jvm(classes, [
            "--workload", "+".join(WORKLOADS[a.workload]),
            "--input", input_dir, "--work", work,
            "--out", out, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores)],
            work, DEADLINE_S - (time.time() - t_setup))
        with open(out) as f:
            rec = json.load(f)
        if a.record_expected and "corpus_funnel" in inputs:
            oracle.record_expected(
                "corpus_funnel", inputs["corpus_funnel"], input_dir,
                {n: rec["oracle_sql"][n] for n in stats.PRESETS}, tmp)
        failed, problems = verify(a.workload, rec, inputs, input_dir, tmp)
    except Exception as e:
        print(f"perfbench: {a.workload} failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    passes = rec["passes"]
    timed = [p for p in passes if p["role"] == "timed"]
    walls = [p["wall_s"] for p in timed]
    attempted = len(passes)
    if a.trace:
        metrics = stats.layer_metrics(rec)
    else:
        metrics = {
            "setup_s": {"value": rec["setup_end_ms"] / 1e3 - t_setup, "unit": "s"},
            "wall_s": {"value": stats.median(walls), "unit": "s"},
            "cpu_s": {"value": stats.median(p["cpu_s"] for p in timed), "unit": "s"},
            "heap_retained_mb": {"value": stats.median(p["heap_mb"] for p in timed),
                                 "unit": "MB"},
        }
    tail = stats.tail_percentile(walls)
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "inputs": inputs, "cores": cores,
        "mem_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "jdk": rec["java_version"], "spark": rec["spark_version"],
        "error_rate": stats.error_rate(attempted, failed),
        "wall_s_tail": ({"percentile": tail[0], "value": tail[1], "beyond": tail[2]}
                        if tail else None),
        "wall_s_samples": walls, "problems": problems, "metrics": metrics,
    }
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    print(f"{a.workload} seed={a.seed} passes={attempted} failed={failed} "
          f"error_rate={record['error_rate']:.3f} (ratio)")
    for name, m in metrics.items():
        print(f"  {name:44s} {m['value']:14.4f} {m['unit']}")
    print("record " + json.dumps(record))
    correct = failed == 0 and not problems
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
