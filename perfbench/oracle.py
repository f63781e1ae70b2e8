"""Independent answers for the benchmark's outputs, computed by DuckDB over
the same generated inputs, and the comparison rule of
tools/check_correctness.py: columns sorted by name, rows sorted by value,
exact values, equal hash of the string forms.

Most answers are replayed live. The DuckDB replay of `llm_pipeline_e2e`
takes minutes even on a thousand documents, so the corpus workload runs on
one fixed input whose DuckDB answers are recorded in
perfbench/expected/<workload>.json (`run.py --record-expected`).
"""
import glob
import json
import os

import duckdb
import pandas as pd
import pandas.util


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def same(spark_df, oracle_df):
    """(equal, reason) under the check_correctness.py rule."""
    s, o = canon(spark_df), canon(oracle_df)
    if len(s) != len(o):
        return False, f"rows {len(s)} != {len(o)}"
    if list(s.columns) != list(o.columns):
        return False, f"columns {list(s.columns)} != {list(o.columns)}"
    try:
        pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return False, "values differ: " + str(e).splitlines()[0]
    hs = pandas.util.hash_pandas_object(s.astype(str)).sum()
    ho = pandas.util.hash_pandas_object(o.astype(str)).sum()
    return (hs == ho), ("" if hs == ho else "hash differs")


def _connect(tmp_dir):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


EXPECTED_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "expected")


def _tables(input_dir, tmp_dir):
    con = _connect(tmp_dir)
    for p in glob.glob(os.path.join(input_dir, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _compare(answers_dir, expected):
    """{name: reason} for every answer in `answers_dir` that differs from
    its expected frame; `expected` maps names to callables.
    """
    bad = {}
    for name, frame in sorted(expected.items()):
        try:
            ok, why = same(pd.read_parquet(os.path.join(answers_dir, name)),
                           frame())
        except Exception as e:  # a missing answer or oracle error fails it
            ok, why = False, f"{type(e).__name__}: {str(e)[:200]}"
        if not ok:
            bad[name] = why
    return bad


def check_oracle_sql(input_dir, answers_dir, oracle_sql, tmp_dir):
    """Replay each `SparkEntry.oracleSql` entry over the input parquet
    tables and compare.
    """
    con = _tables(input_dir, tmp_dir)
    try:
        return _compare(answers_dir, {
            n: (lambda sql=sql: con.execute(sql).df())
            for n, sql in oracle_sql.items()})
    finally:
        con.close()


def record_expected(workload, inputs, input_dir, oracle_sql, tmp_dir):
    """Replay the oracle SQL once and store its answers for `inputs`."""
    con = _tables(input_dir, tmp_dir)
    answers = {}
    for name, sql in sorted(oracle_sql.items()):
        df = con.execute(sql).df()
        answers[name] = {"columns": list(df.columns),
                         "rows": json.loads(df.to_json(orient="values"))}
    con.close()
    os.makedirs(EXPECTED_DIR, exist_ok=True)
    with open(os.path.join(EXPECTED_DIR, f"{workload}.json"), "w") as f:
        f.write(f'{{"inputs": {json.dumps(inputs)},\n "answers": {{')
        for i, (name, a) in enumerate(sorted(answers.items())):
            rows = ",\n    ".join(json.dumps(r) for r in a["rows"])
            f.write(f'{"," if i else ""}\n  {json.dumps(name)}: '
                    f'{{"columns": {json.dumps(a["columns"])},\n'
                    f'   "rows": [\n    {rows}]}}')
        f.write("}}\n")


def check_expected(workload, inputs, answers_dir):
    """Compare with the answers recorded for the same inputs."""
    with open(os.path.join(EXPECTED_DIR, f"{workload}.json")) as f:
        exp = json.load(f)
    if exp["inputs"] != inputs:
        return {"*": f"answers recorded for {exp['inputs']}, not {inputs}"}
    return _compare(answers_dir, {
        n: (lambda a=a: pd.DataFrame(a["rows"], columns=a["columns"]))
        for n, a in exp["answers"].items()})


# models/marts/fct_orders.sql over the three staging models, written
# against the generated CSVs
FCT_ORDERS_SQL = """
WITH raw_orders AS (
  SELECT * FROM read_csv('{d}/olist_orders_dataset.csv', header = true,
    nullstr = '', timestampformat = '%Y-%m-%d %H:%M:%S', columns = {{
      'order_id': 'VARCHAR', 'customer_id': 'VARCHAR',
      'order_status': 'VARCHAR', 'order_purchase_timestamp': 'TIMESTAMP',
      'order_approved_at': 'TIMESTAMP',
      'order_delivered_carrier_date': 'TIMESTAMP',
      'order_delivered_customer_date': 'TIMESTAMP',
      'order_estimated_delivery_date': 'TIMESTAMP'}})),
raw_customers AS (
  SELECT * FROM read_csv('{d}/olist_customers_dataset.csv', header = true,
    nullstr = '', columns = {{
      'customer_id': 'VARCHAR', 'customer_unique_id': 'VARCHAR',
      'customer_zip_code_prefix': 'VARCHAR', 'customer_city': 'VARCHAR',
      'customer_state': 'VARCHAR'}})),
raw_items AS (
  SELECT * FROM read_csv('{d}/olist_order_items_dataset.csv', header = true,
    nullstr = '', timestampformat = '%Y-%m-%d %H:%M:%S', columns = {{
      'order_id': 'VARCHAR', 'order_item_id': 'INTEGER',
      'product_id': 'VARCHAR', 'seller_id': 'VARCHAR',
      'shipping_limit_date': 'TIMESTAMP', 'price': 'DECIMAL(12,2)',
      'freight_value': 'DECIMAL(12,2)'}})),
stg_olist_orders AS (
  SELECT order_id, customer_id, order_status,
         order_purchase_timestamp AS purchased_at FROM raw_orders),
stg_olist_customers AS (
  SELECT customer_id, customer_city AS city, customer_state AS state
  FROM raw_customers),
stg_items AS (
  SELECT order_id, price, freight_value AS shipping_cost FROM raw_items),
order_items AS (
  SELECT order_id, sum(price) AS total_item_revenue,
         sum(shipping_cost) AS total_shipping_revenue
  FROM stg_items GROUP BY order_id)
SELECT o.order_id, o.customer_id, o.order_status, o.purchased_at,
       c.city, c.state, i.total_item_revenue, i.total_shipping_revenue,
       i.total_item_revenue + i.total_shipping_revenue AS total_order_value
FROM stg_olist_orders o
LEFT JOIN stg_olist_customers c ON o.customer_id = c.customer_id
LEFT JOIN order_items i ON o.order_id = i.order_id
"""

FCT_COLUMNS = ["order_id", "customer_id", "order_status", "purchased_at",
               "city", "state", "total_item_revenue",
               "total_shipping_revenue", "total_order_value"]


def _as_text(rel):
    """Every column as text, timestamps as 'YYYY-MM-DD HH:MM:SS', so a
    DECIMAL and a parquet decimal, or two timestamp encodings, compare.
    """
    cols = []
    for c in FCT_COLUMNS:
        if c == "purchased_at":
            cols.append(f"strftime(CAST({c} AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS {c}")
        else:
            cols.append(f"CAST({c} AS VARCHAR) AS {c}")
    return f"SELECT {', '.join(cols)} FROM ({rel})"


def check_fct_orders(input_dir, table_dir, tmp_dir):
    """Compare the stored fct_orders with a DuckDB replay of the model;
    returns (rows stored, reason or ''). Rows are compared as a multiset
    inside DuckDB (EXCEPT ALL both ways), which is what sorting both sides
    and comparing them row by row decides, without moving 100k rows into
    pandas.
    """
    con = _connect(tmp_dir)
    try:
        con.execute("CREATE TEMP TABLE stored AS " + _as_text(
            f"SELECT * FROM read_parquet('{table_dir}/*.parquet')"))
        con.execute("CREATE TEMP TABLE replay AS "
                    + _as_text(FCT_ORDERS_SQL.format(d=input_dir)))
        rows, = con.execute("SELECT count(*) FROM stored").fetchone()
        expected, = con.execute("SELECT count(*) FROM replay").fetchone()
        extra, = con.execute("SELECT count(*) FROM "
                             "(FROM stored EXCEPT ALL FROM replay)").fetchone()
        missing, = con.execute("SELECT count(*) FROM "
                               "(FROM replay EXCEPT ALL FROM stored)").fetchone()
    finally:
        con.close()
    if rows != expected or extra or missing:
        return rows, (f"{rows} rows stored, {expected} replayed, {extra} "
                      f"not in the replay, {missing} missing")
    return rows, ""
