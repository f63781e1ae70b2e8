#!/usr/bin/env python3
"""Whole-inventory determinism sweep: diff two Verify dumps pairwise.

Usage:
  SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify <sfDir> /tmp/det_a"
  SPARK_GRAFT_CPUS=5 sbt -batch "runMain graft.Verify <sfDir> /tmp/det_b"
  python3 tools/check_determinism.py /tmp/det_a /tmp/det_b

Running the two dumps at DIFFERENT core counts varies partitioning,
task scheduling, and AQE decisions — any query whose result depends on
them (float re-association, unpinned ties, re-executed nondeterministic
subtrees like the old assignContiguousIds) diffs here even when a
single run hash-matches its oracle by luck. Exit 0 = every query's
row multiset is identical across the two runs.

When both dumps hold oracle_sql.json (two checkouts, e.g. a change and
its parent), the oracle strings are compared too, after collapsing
whitespace: every run of whitespace becomes one space, and none is kept
just inside a parenthesis. Keys missing on one side and keys whose SQL
differs are printed. This compare does not change the exit status:
olist_seed_ingest's SQL embeds the checkout's seeds/ path, so two
checkouts always differ on that key.
"""
import json, os, re, sys
import pandas as pd


def collapse(sql):
    sql = re.sub(r"\s+", " ", sql).strip()
    return re.sub(r"\( ", "(", re.sub(r" \)", ")", sql))


def oracle_diff(a, b):
    pa, pb = (os.path.join(d, "oracle_sql.json") for d in (a, b))
    if not (os.path.isfile(pa) and os.path.isfile(pb)):
        return
    with open(pa) as fa, open(pb) as fb:
        sa, sb = json.load(fa), json.load(fb)
    print(f"oracle_sql: {len(sa)} vs {len(sb)} keys")
    print("  only in a:", sorted(sa.keys() - sb.keys()) or "none")
    print("  only in b:", sorted(sb.keys() - sa.keys()) or "none")
    differ = sorted(k for k in sa.keys() & sb.keys()
                    if collapse(sa[k]) != collapse(sb[k]))
    print("  SQL differs:", differ or "none")


a, b = sys.argv[1], sys.argv[2]
names = sorted(d for d in os.listdir(a) if os.path.isdir(os.path.join(a, d)))
diff, missing = [], []
for n in names:
    pb = os.path.join(b, n)
    if not os.path.isdir(pb):
        missing.append(n)
        continue
    da = pd.read_parquet(os.path.join(a, n))
    db = pd.read_parquet(pb)
    if list(da.columns) != list(db.columns):
        diff.append((n, "schema"))
        continue
    if len(da) != len(db):
        diff.append((n, f"rows {len(da)} vs {len(db)}"))
        continue
    ka = da.astype(str).sort_values(by=list(da.columns)).reset_index(drop=True)
    kb = db.astype(str).sort_values(by=list(db.columns)).reset_index(drop=True)
    if not ka.equals(kb):
        diff.append((n, "values"))
print(f"checked: {len(names)}  missing-in-b: {missing}")
print("NONDETERMINISTIC:", diff if diff else "none")
oracle_diff(a, b)
sys.exit(1 if (diff or missing) else 0)
