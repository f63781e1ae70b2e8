#!/usr/bin/env python3
"""sf1 VALUE-level oracle gate (VERDICT r10 "Next round" #3).

The r10 sf1 run was an execution stress: the four overflow bugs it
caught announced themselves by CRASHING. A silent value drift at scale
(fp accumulation order, a 32-bit intermediate, a shifted quantile cut)
would have passed it. This script closes that gap: it runs the driver's
exact DuckDB hash-compare, but against the ScaleGen sf1 tables, with a
per-entry timeout (some oracle replays — recursive-CTE graph kernels,
tokenizer training — are built for 60k-row verification, not 6M; a
timeout is recorded as `oracle_timeout`, not a failure).

Usage:
  GRAFT_MAIN=graft.ScaleGen tools/run_verify.sh /root/testdata/sf0.1 /tmp/testdata/sf1 10
  SPARK_DRIVER_MEM=48g SPARK_GRAFT_CPUS=32 tools/run_verify.sh /tmp/testdata/sf1 /tmp/verify_sf1
  python3 tools/check_correctness_sf1.py /tmp/verify_sf1 /tmp/testdata/sf1 CORRECTNESS_SF1.json [timeout_sec] [workers]

Each entry runs in its own subprocess (oracle + compare both inside it,
only a small result dict crosses the process boundary), `workers` at a
time. Exit 1 iff any compared entry FAILS (timeouts and noOracle do not
fail).
"""
import glob
import json
import multiprocessing as mp
import os
import sys
import tempfile


def compare_one(outdir, name, sfdir, sql, result_path):
    """Subprocess: run the oracle in DuckDB, compare against the Spark
    dump, write a small result dict as JSON."""
    import duckdb
    import pandas as pd
    from check_correctness import compare

    res = {}
    try:
        spark = pd.read_parquet(os.path.join(outdir, name))
        con = duckdb.connect()
        con.execute(f"SET threads TO {os.environ.get('DUCKDB_THREADS', '4')}")
        # spill to /tmp, never the repo cwd (a 6M-row replay once wrote
        # a 458 MB duckdb_temp_storage into the tree and filled the disk)
        tmp = os.environ.get("DUCKDB_TMP", "/tmp/ducktmp")
        os.makedirs(tmp, exist_ok=True)
        con.execute(f"SET temp_directory='{tmp}'")
        con.execute(
            f"SET memory_limit='{os.environ.get('DUCKDB_MEM', '24GB')}'")
        # fail fast instead of filling the disk (a runaway spill once
        # starved every concurrent worker's temp writes)
        con.execute("SET max_temp_directory_size='"
                    + os.environ.get("DUCKDB_MAX_TMP", "35GB") + "'")
        for p in glob.glob(os.path.join(sfdir, "*.parquet")):
            t = os.path.basename(p)[:-8]
            # ScaleGen writes Spark directory-layout parquet; the
            # driver's testdata is single files — handle both
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
        odf = con.execute(sql).df()
        c = compare(spark, odf)
        s, o = c.s, c.o
        ok = c.ok_rows and c.ok_schema and c.ok_vals and c.hash_eq
        res = {
            "status": "pass" if ok else "FAIL",
            "rows_match": c.ok_rows, "schema_match": c.ok_schema,
            "hash_match": bool(c.hash_eq) if c.ok_rows else False,
            "spark_rows": len(s), "oracle_rows": len(o),
        }
        if not ok and c.ok_rows and c.ok_schema:
            try:
                cmp = s.compare(o)
                res["first_diffs"] = cmp.head(3).to_string()
            except Exception:  # noqa: BLE001
                pass
    except Exception as e:  # noqa: BLE001 - report any oracle error
        msg = str(e)
        # resource exhaustion is a REPLAY-capacity boundary (like a
        # timeout), not a wrong answer: the engine side ran clean and
        # DuckDB could not fit the replay in temp/memory budget.
        # Classify by the SPECIFIC DuckDB exception types + the exact
        # overflow messages, not loose substrings (ADVICE r11: a genuine
        # oracle error whose message merely mentioned the temp directory
        # would have been silently excused).
        capacity = (
            isinstance(e, duckdb.OutOfMemoryException)
            or (isinstance(e, (duckdb.IOException, duckdb.OutOfRangeException))
                and ("No space left on device" in msg
                     or "max_temp_directory_size" in msg
                     or "exceed the maximum size of the temporary" in msg)))
        res = {"status": "oracle_capacity" if capacity else "oracle_error",
               "err": msg[:500]}
    with open(result_path, "w") as f:
        json.dump(res, f)


def main():
    outdir, sfdir = sys.argv[1], sys.argv[2]
    record_path = sys.argv[3] if len(sys.argv) > 3 else "CORRECTNESS_SF1.json"
    timeout = int(sys.argv[4]) if len(sys.argv) > 4 else 300
    workers = int(sys.argv[5]) if len(sys.argv) > 5 else 4
    only = set(sys.argv[6].split(",")) if len(sys.argv) > 6 else None

    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    names = sorted(d for d in os.listdir(outdir)
                   if os.path.isdir(os.path.join(outdir, d)))
    results = {}
    # focused re-run: seed results from the existing record, re-compare
    # only the named entries, merge back (fix-one-entry iteration aid)
    if only is not None:
        if os.path.exists(record_path):
            results = json.load(open(record_path)).get("results", {})
        names = [n for n in names if n in only]
    tmpdir = tempfile.mkdtemp(prefix="sf1gate_")

    pending = []
    for name in names:
        if name not in oracle:
            import pandas as pd
            n = len(pd.read_parquet(os.path.join(outdir, name)))
            results[name] = {"status": "no_oracle", "spark_rows": n}
            print(f"{name:28s} noOracle rows={n}", flush=True)
            continue
        pending.append(name)

    def start(name):
        rp = os.path.join(tmpdir, name + ".json")
        p = mp.Process(target=compare_one,
                       args=(outdir, name, sfdir, oracle[name], rp))
        p.start()
        return (name, p, rp, mp_time())

    def mp_time():
        import time
        return time.monotonic()

    running = []
    queue = list(pending)
    while queue or running:
        while queue and len(running) < workers:
            running.append(start(queue.pop(0)))
        import time
        time.sleep(1)
        still = []
        for (name, p, rp, t0) in running:
            if p.is_alive():
                if mp_time() - t0 > timeout:
                    p.terminate()
                    p.join()
                    results[name] = {"status": "oracle_timeout",
                                     "timeout_s": timeout}
                    print(f"{name:28s} ORACLE-TIMEOUT ({timeout}s)",
                          flush=True)
                else:
                    still.append((name, p, rp, t0))
                continue
            p.join()
            try:
                res = json.load(open(rp))
            except Exception:  # noqa: BLE001
                res = {"status": "oracle_error", "err": "no result written"}
            results[name] = res
            st = res["status"]
            if st == "pass":
                print(f"{name:28s} OK   rows={res['spark_rows']}",
                      flush=True)
            else:
                # (fails is recounted from `results` after the loop —
                # no in-loop counter, ADVICE r11)
                print(f"{name:28s} {st.upper()} "
                      f"{res.get('err', '')[:140]}", flush=True)
                if "first_diffs" in res:
                    print(res["first_diffs"], flush=True)
        running = still

    fails = sum(1 for r in results.values()
                if r["status"] in ("FAIL", "oracle_error"))
    summary = {
        "sf_dir": sfdir, "entries": len(results),
        "pass": sum(1 for r in results.values() if r["status"] == "pass"),
        "fail": fails,
        "oracle_timeout": sum(1 for r in results.values()
                              if r["status"] == "oracle_timeout"),
        "oracle_capacity": sum(1 for r in results.values()
                               if r["status"] == "oracle_capacity"),
        "no_oracle": sum(1 for r in results.values()
                         if r["status"] == "no_oracle"),
        "results": results,
    }
    with open(record_path, "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(f"\nSF1 ORACLE GATE: {summary['pass']} pass, {fails} fail, "
          f"{summary['oracle_timeout']} timeout, "
          f"{summary['no_oracle']} no-oracle -> {record_path}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
