#!/usr/bin/env python3
"""Gated sf1 bench record: run graft.Bench over the heavy tier + the
next-10 heaviest entries against the ScaleGen sf1 dataset and write
BENCH_SF1.json in the same {"queries": {name: seconds}} shape
BENCH_LOCAL.json uses, so tools/check_bench_regression.py can gate it:

  sbt -batch compile package
  GRAFT_MAIN=graft.ScaleGen tools/run_verify.sh /root/testdata/sf0.1 /tmp/testdata/sf1 10
  python3 tools/bench_sf1.py
  python3 tools/check_bench_regression.py BENCH_SF1.json  # vs HEAD's copy

Times recorded are each query's min over Bench's timed passes
(`detail.<q>.min`: one untimed warm-up pass, then SPARK_GRAFT_BENCH_PASSES,
default 3, interleaved passes), the statistic SCALING.md's slope tables use.
"""
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1 = sys.argv[1] if len(sys.argv) > 1 else "/tmp/testdata/sf1"
OUT = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "BENCH_SF1.json")

# r10 heavy tier (SCALING.md) + the next-10 heaviest from BENCH_LOCAL.
NAMES = [
    "graph_mst", "graph_pagerank", "graph_ppr", "graph_diameter",
    "graph_hits", "f_bootstrap_ci", "text_topic_coherence",
    "llm_pipeline_e2e", "text_winnow_dups", "er_golden_record",
    "f_permutation_test", "profile_spearman", "text_plsa_topics",
    "profile_inclusion_deps", "mix_dsir_resample", "er_blocking_quality",
    "graph_butterflies", "m_basket_rules", "layout_bloom_skip",
    "graph_betweenness",
    # r11 eval-metrics tier: the four heaviest of the session's additions
    "graph_wl_refinement", "llm_bleu_pairs", "graph_rich_club",
    "llm_greedy_completion",
]


def main():
    env = dict(os.environ)
    env.setdefault("SPARK_DRIVER_MEM", "48g")
    env["GRAFT_MAIN"] = "graft.Bench"
    # GRAFT_BENCH_NAMES: comma-separated subset override (the sf10 probe
    # times only the top heavy tier — 10x data makes the full 24-name
    # batch a multi-hour run); GRAFT_BENCH_SF labels the record.
    names = (os.environ["GRAFT_BENCH_NAMES"].split(",")
             if os.environ.get("GRAFT_BENCH_NAMES") else NAMES)
    env["SPARK_GRAFT_SF_DIR"] = SF1
    env["SPARK_GRAFT_BENCH_ONLY"] = ",".join(names)
    with tempfile.TemporaryDirectory() as tmp:
        env["SPARK_GRAFT_BENCH_OUT"] = os.path.join(tmp, "bench.json")
        r = subprocess.run(
            [f"{REPO}/tools/run_verify.sh"],
            capture_output=True, text=True, env=env,
            timeout=int(os.environ.get("GRAFT_BENCH_TIMEOUT", "7200")))
        detail = {}
        if r.returncode == 0:
            with open(env["SPARK_GRAFT_BENCH_OUT"]) as f:
                detail = json.load(f)["detail"]
    qs = {n: detail[n]["min"] for n in names if n in detail}
    missing = [n for n in names if n not in qs]
    if r.returncode != 0 or missing:
        print(r.stdout[-3000:])
        print(r.stderr[-3000:])
        print("FAILED; missing:", missing)
        sys.exit(1)
    sf_label = os.environ.get("GRAFT_BENCH_SF", "1")
    rec = {"metric": f"sf{sf_label}_heavy_tier_total",
           "value": round(sum(qs.values()), 3),
           "unit": "sec", "sf": float(sf_label) if "." in sf_label
           else int(sf_label), "queries": qs}
    with open(OUT, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    print(json.dumps(rec, indent=1, sort_keys=True))
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
