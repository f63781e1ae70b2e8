#!/usr/bin/env python3
"""Randomized differential fuzz sweep (VERDICT r10 "Next round" #7).

For each seed: generate an adversarial corpus (graft.FuzzGen), dump the
fuzz entry list through graft.Verify, then hash-compare every entry
against DuckDB running the SAME oracle SQL over the generated parquet —
the exact driver gate, but on data the fixed TPC-H-ish distribution
never exercises (empty/single-char strings, all-tie keys, unicode,
boundary numerics, heavy skew).

Usage:
  sbt -batch compile package        # once
  python3 tools/fuzz_sweep.py [nSeeds] [workdir]

Writes <workdir>/FUZZ.json: per seed+entry OK/FAIL/SKIP, plus a summary.
Exit 1 iff any non-excluded entry fails.

Exclusions are CONTRACT boundaries, not bugs (each carries its reason).
Since r13 the exclusion map is EMPTY: the unicode regime (2) runs the
full entry list (byte-level BPE carries the complete 256-entry GPT-2
byte table; char tokenizers are codepoint-exact on both sides), and the
Unigram trainer — the last r12 exclusion — now walks CODEPOINTS end to
end (seed-piece enumeration, Viterbi DP, fallback pricing;
Unigram.cpOffsets), matching the oracle's substr/length unit on
surrogate-pair corpora too.
"""
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_SEEDS = int(sys.argv[1]) if len(sys.argv) > 1 else 20
WORK = sys.argv[2] if len(sys.argv) > 2 else "/tmp/fuzz_r11"

# Fuzz entry list: one value-sensitive slice of every oracle-bearing
# family (relational, window, stats, profiling, metrics, text, dedup,
# tokenizers, mixing, retrieval, embeddings, graph, events, timeseries,
# dbt-style tests).
ENTRIES = [
    # relational + window
    "a1_group_agg", "a2_unique_check", "j1_left_join_dim", "j3_anti_join",
    "j5_full_outer", "u1_union_all", "l1_order_limit", "p4_filter_predicate",
    "w1_rank_per_group", "w2_running_total", "w4_range_frame", "w5_ntile",
    "w8_percent_rank", "w6_first_last", "w7_topk_per_group", "j6_semi_join",
    "f_string_funcs",
    # stats
    "f_entropy", "f_mann_whitney", "f_ks_test", "f_chi_square",
    "f_percentile_cont", "f_mode", "f_winsorize", "f_histogram", "f_bh_fdr",
    # profiling + metrics
    "profile_spearman", "profile_columns", "profile_key_skew",
    "profile_drift_psi", "m_gini", "m_rfm_scores", "m_wow_growth",
    # text
    "text_stats", "text_top_bigrams", "text_tfidf", "text_zipf",
    "text_perplexity", "text_gopher_rules", "text_repetition",
    "text_winnowing", "text_lang_quality", "text_quality_score_frozen",
    "text_llr_collocations",
    # dedup
    "dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_jaccard",
    "llm_dedup_lines", "llm_substring_dedup",
    # tokenizers (char-level codepoint-exact; byte-level carries the
    # full GPT-2 byte table — both replay on any valid-UTF-8 corpus)
    "llm_bpe_token_counts", "llm_wordpiece_token_counts",
    "llm_unigram_token_counts", "llm_bpe_byte_counts",
    # mixing
    "mix_temperature_sample", "mix_token_budget", "mix_pack_sequences",
    "mix_kfold", "mix_stratified_sample", "mix_bt_ratings", "mix_best_of_n",
    "mix_grpo_advantage",
    # retrieval + embeddings
    "text_bm25_topk", "hybrid_rrf", "knn_cosine", "embed_kmeans",
    "embed_quantize_int8", "embed_near_dup",
    # graph + events + timeseries
    "graph_wcc", "graph_pagerank", "graph_triangles", "graph_bfs",
    # r12 additions: the Boruvka-round MST replay (all-tie weights stress
    # the (w desc, src, dst) tie-break; the minimal regime stresses the
    # empty/one-edge forest), adaptive-scale HITS, and the two
    # newly-oracle-backed ingest entries
    "graph_mst", "graph_hits", "source_jsonl_ingest", "olist_seed_ingest",
    "e_sessionize", "e_funnel", "e_event_runs", "e_seq_patterns",
    "e_transition_matrix", "ts_ema", "ts_mad_outliers", "ts_ols_trend",
    # multimodal metadata + dbt-style tests
    "multimodal_features_meta", "t_accepted_values",
    # eval metrics
    "text_readability", "llm_pass_at_k", "llm_bleu_pairs", "llm_rouge_l",
    "f_conformal_interval", "graph_wl_refinement", "e_did_estimator",
    "mix_source_ablation", "llm_watermark_detect", "graph_rich_club",
    "llm_greedy_completion", "ts_pacf", "f_mcnemar_test", "f_cohen_kappa", "f_auc_roc",
]

# (regime, entry) -> documented contract boundary. Regime 2 is unicode
# (BMP), regime 4 is astral (non-BMP / surrogate pairs).
EXCLUDE = {}


def sh(cmd, env=None, timeout=1800):
    e = dict(os.environ)
    if env:
        e.update(env)
    return subprocess.run(cmd, capture_output=True, text=True, env=e,
                          timeout=timeout)


def main():
    os.makedirs(WORK, exist_ok=True)
    results, fails = {}, 0
    for seed in range(1, N_SEEDS + 1):
        regime = seed % 5
        data = f"{WORK}/data_{seed}"
        dump = f"{WORK}/dump_{seed}"
        r = sh([f"{REPO}/tools/run_verify.sh", data, str(seed)],
               env={"GRAFT_MAIN": "graft.FuzzGen"})
        if r.returncode != 0:
            print(f"seed {seed}: FUZZGEN FAILED\n{r.stderr[-2000:]}")
            fails += 1
            results[str(seed)] = {"_fuzzgen": "error"}
            continue
        entries = [e for e in ENTRIES if (regime, e) not in EXCLUDE]
        r = sh([f"{REPO}/tools/run_verify.sh", data, dump] + entries)
        verify_err = r.stderr
        r = sh(["python3", f"{REPO}/tools/check_correctness.py", dump, data])
        seed_res = {}
        for line in r.stdout.splitlines():
            parts = line.split()
            if len(parts) >= 2 and parts[1] in ("OK", "FAIL", "noOracle"):
                seed_res[parts[0]] = parts[1]
        # entries that never produced a dump (engine-side error)
        for e in entries:
            if e not in seed_res:
                seed_res[e] = "ERROR"
        for e, (rg, reason) in ((k[1], (k[0], v)) for k, v in
                                EXCLUDE.items() if k[0] == regime):
            seed_res[e] = f"SKIP({reason.split(':')[0]})"
        bad = {e: s for e, s in seed_res.items()
               if s in ("FAIL", "ERROR")}
        if bad:
            fails += 1
            print(f"seed {seed} (regime {regime}): BAD {bad}")
            for ln in verify_err.splitlines():
                if "[verify]" in ln:
                    print("   ", ln[:200])
            for ln in r.stdout.splitlines():
                if " FAIL" in ln:
                    print("   ", ln[:200])
        else:
            nok = sum(1 for s in seed_res.values() if s == "OK")
            print(f"seed {seed} (regime {regime}): green "
                  f"({nok} OK / {len(seed_res)})")
        results[str(seed)] = seed_res
    summary = {
        "seeds": N_SEEDS,
        "entries_per_seed": len(ENTRIES),
        "bad_seeds": fails,
        "excluded": {f"regime{k[0]}:{k[1]}": v for k, v in EXCLUDE.items()},
        "results": results,
    }
    with open(f"{WORK}/FUZZ.json", "w") as f:
        json.dump(summary, f, indent=1)
    print(f"\nFUZZ: {N_SEEDS - fails}/{N_SEEDS} seeds green -> "
          f"{WORK}/FUZZ.json")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
