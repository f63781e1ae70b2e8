#!/usr/bin/env python3
"""Local proxy for the driver's correctness gate: read Verify's parquet
dumps, run each oracle SQL in DuckDB over the same sf dir, sort columns by
name + rows, and compare values/dtypes/hash. Usage:
  python3 tools/check_correctness.py /tmp/verify_r2 /root/testdata/sf0.01

`canon` and `compare` are the compare rule; check_correctness_sf1.py
imports them.
"""
import collections
import sys, json, glob, os
import duckdb, pandas as pd
import pandas.util


def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


Compared = collections.namedtuple(
    "Compared", "s o ok_rows ok_schema ok_vals hash_eq")


def compare(spark, odf):
    """Both frames in canonical form, and whether their row counts, name
    lists, exact values and pandas hashes of the string forms agree
    (values only when counts and names do; hashes only when counts do)."""
    s, o = canon(spark), canon(odf)
    ok_rows = len(s) == len(o)
    ok_schema = list(s.columns) == list(o.columns)
    ok_vals = False
    if ok_rows and ok_schema:
        try:
            pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)
            ok_vals = True
        except AssertionError:
            ok_vals = False
    hs = pandas.util.hash_pandas_object(s.astype(str)).sum() if ok_rows else -1
    ho = pandas.util.hash_pandas_object(o.astype(str)).sum() if ok_rows else -2
    return Compared(s, o, ok_rows, ok_schema, ok_vals, hs == ho)


def main():
    outdir, sfdir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sfdir, "*.parquet")):
        t = os.path.basename(p)[:-8]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))

    fails = 0
    for name in sorted(os.listdir(outdir)):
        d = os.path.join(outdir, name)
        if not os.path.isdir(d):
            continue
        spark = pd.read_parquet(d)
        if name not in oracle:
            print(f"{name:24s} noOracle rows={len(spark)}")
            continue
        try:
            odf = con.execute(oracle[name]).df()
        except Exception as e:  # an oracle-side error fails THIS entry only
            fails += 1
            print(f"{name:24s} FAIL oracle-error: {str(e)[:160]}")
            continue
        c = compare(spark, odf)
        s, o = c.s, c.o
        ok = c.ok_rows and c.ok_schema and c.ok_vals and c.hash_eq
        status = "OK " if ok else "FAIL"
        if status == "FAIL":
            fails += 1
        print(f"{name:24s} {status} rows={len(s)}/{len(o)} schema={c.ok_schema} "
              f"vals={c.ok_vals} hash={'=' if c.hash_eq else '!'}")
        if status == "FAIL" and c.ok_rows and c.ok_schema:
            try:
                cmp = s.compare(o)
                if len(cmp):
                    print(cmp.head(5))
            except Exception as e:
                print("  compare error:", e)
            print("  spark dtypes:", dict(s.dtypes.astype(str)))
            print("  oracle dtypes:", dict(o.dtypes.astype(str)))
    print("FAILS:", fails)
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
