"""Seeded input generators for the benchmark workloads.

Every value is derived from DuckDB's `hash(row id, column tag, seed)`, so
the same seed writes the same files at any thread count (under the pinned
DuckDB 1.0.0), and a different seed writes a different instance of the
same shape.

- `olist_csvs`: the three Olist CSVs the `fct_orders` DAG reads
  (customers, orders, order_items), in the layout `graft.olist.Seeds.readCsv`
  ingests: header row, empty string as NULL, `yyyy-MM-dd HH:mm:ss`
  timestamps, 2-decimal money.
- `tpch_tables`: the eight TPC-H-style tables in the column layout and value
  ranges of the repo's testdata (see TESTDATA.md): one parquet file per
  table.
- `documents`: the corpus table (doc_id, text, lang, source, n_chars): word
  salads over a 30-word vocabulary, about 5% near duplicates (an earlier
  document plus " dup") and 0.2% exact duplicates.
"""
import os

import duckdb

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()


def _con(seed, threads=None):
    con = duckdb.connect()
    if threads:
        con.execute(f"SET threads = {int(threads)}")
    # integer in [0, n) and a double in [0, 1), both keyed by (tag, row id)
    con.execute(f"CREATE MACRO ri(tag, i, n) AS CAST(hash(i, tag, {int(seed)}) % n AS BIGINT)")
    con.execute("CREATE MACRO u(tag, i) AS ri(tag, i, 1000000000) / 1e9")
    # 32 lowercase hex digits, the shape of an Olist key
    con.execute(f"""CREATE MACRO hexid(tag, k) AS lower(
        lpad(hex(hash(k, tag, {int(seed)})), 16, '0')
        || lpad(hex(hash(k, tag || '.2', {int(seed)})), 16, '0'))""")
    return con


def _pick(values, idx_sql):
    arr = "[" + ", ".join("'" + v + "'" for v in values) + "]"
    return f"{arr}[1 + {idx_sql}]"


def olist_csvs(out_dir, seed, n_orders, threads=None):
    """Write customers/orders/order_items CSVs for `n_orders` orders."""
    os.makedirs(out_dir, exist_ok=True)
    con = _con(seed, threads)
    n_cust = max(n_orders // 2, 1)
    cities = ["sao paulo", "rio de janeiro", "belo horizonte", "brasilia",
              "curitiba", "campinas", "porto alegre", "salvador"]
    states = ["SP", "RJ", "MG", "DF", "PR", "SP", "RS", "BA"]
    copy = ("(HEADER, DELIMITER ',', TIMESTAMPFORMAT '%Y-%m-%d %H:%M:%S')")

    con.execute(f"""COPY (
        SELECT hexid('cust', k) AS customer_id,
               hexid('cuniq', k // 5) AS customer_unique_id,
               lpad(CAST(ri('zip', k, 100000) AS VARCHAR), 5, '0')
                 AS customer_zip_code_prefix,
               {_pick(cities, "ri('city', k, 8)")} AS customer_city,
               {_pick(states, "ri('city', k, 8)")} AS customer_state
        FROM range({n_cust}) t(k)
      ) TO '{out_dir}/olist_customers_dataset.csv' {copy}""")

    con.execute(f"""COPY (
        SELECT hexid('ord', i) AS order_id,
               hexid('cust', ri('oc', i, {n_cust})) AS customer_id,
               CASE WHEN u('st', i) < 0.97 THEN 'delivered'
                    WHEN u('st', i) < 0.99 THEN 'shipped'
                    ELSE 'canceled' END AS order_status,
               p AS order_purchase_timestamp,
               CASE WHEN u('ap', i) < 0.95 THEN p + INTERVAL 1 HOUR END
                 AS order_approved_at,
               CASE WHEN u('ca', i) < 0.90 THEN p + INTERVAL 2 DAY END
                 AS order_delivered_carrier_date,
               CASE WHEN u('dl', i) < 0.85 THEN p + INTERVAL 9 DAY END
                 AS order_delivered_customer_date,
               p + INTERVAL 14 DAY AS order_estimated_delivery_date
        FROM (SELECT i, TIMESTAMP '2017-01-01 00:00:00'
                          + to_seconds(ri('pt', i, 86400 * 600)) AS p
              FROM range({n_orders}) t(i))
      ) TO '{out_dir}/olist_orders_dataset.csv' {copy}""")

    # 1-4 items for 95% of orders; 5% have none (NULL revenue in the mart)
    con.execute(f"""COPY (
        SELECT hexid('ord', i) AS order_id,
               n AS order_item_id,
               hexid('prod', ri('pp', i * 8 + n, 3000)) AS product_id,
               hexid('sell', ri('sl', i * 8 + n, 300)) AS seller_id,
               TIMESTAMP '2017-01-05 00:00:00'
                 + to_seconds(ri('sh', i, 1000) * 3600) AS shipping_limit_date,
               CAST(5 + floor(u('pr', i * 8 + n) * 50000) / 100
                    AS DECIMAL(12, 2)) AS price,
               CAST(floor(u('fr', i * 8 + n) * 5000) / 100
                    AS DECIMAL(12, 2)) AS freight_value
        FROM (SELECT r // 4 AS i, r % 4 + 1 AS n FROM range({4 * n_orders}) t(r))
        WHERE n <= 1 + ri('k', i, 4) AND u('ni', i) >= 0.05
      ) TO '{out_dir}/olist_order_items_dataset.csv' {copy}""")
    con.close()


def tpch_tables(out_dir, seed, sf, threads=None):
    """Write region..lineitem at scale factor `sf` (0.1 = 600k lineitems)."""
    os.makedirs(out_dir, exist_ok=True)
    con = _con(seed, threads)
    n_c, n_s = int(150000 * sf), int(10000 * sf)
    n_p, n_o, n_l = int(200000 * sf), int(1500000 * sf), int(6000000 * sf)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                "MACHINERY"]
    adjs = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
    nouns = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget",
             "gizmo"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    tables = {
        "region": f"""SELECT CAST(i AS INTEGER) AS r_regionkey,
                      {_pick(regions, 'i')} AS r_name FROM range(5) t(i)""",
        "nation": """SELECT CAST(i AS INTEGER) AS n_nationkey,
                     'NATION_' || i AS n_name,
                     CAST(i % 5 AS INTEGER) AS n_regionkey
                     FROM range(25) t(i)""",
        "customer": f"""SELECT i AS c_custkey,
                     'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
                     CAST(ri('cn', i, 25) AS INTEGER) AS c_nationkey,
                     (ri('cb', i, 1099999) - 99999) / 100.0 AS c_acctbal,
                     {_pick(segments, "ri('cs', i, 5)")} AS c_mktsegment
                     FROM range({n_c}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey,
                     'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
                     CAST(ri('sn', i, 25) AS INTEGER) AS s_nationkey,
                     (ri('sb', i, 1099999) - 99999) / 100.0 AS s_acctbal
                     FROM range({n_s}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
                     {_pick(adjs, "ri('pa', i, 8)")} || ' '
                       || {_pick(nouns, "ri('pn', i, 8)")} AS p_name,
                     'Brand#' || (1 + ri('pb', i, 25)) AS p_brand,
                     {_pick(types, "ri('pt', i, 6)")} AS p_type,
                     CAST(1 + ri('ps', i, 50) AS INTEGER) AS p_size,
                     (9000 + ri('pr', i, 1000)) / 10.0 AS p_retailprice
                     FROM range({n_p}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey,
                     ri('oc', i, {n_c}) AS o_custkey,
                     {_pick(['F', 'O', 'P'], "ri('os', i, 3)")} AS o_orderstatus,
                     (100000 + ri('op', i, 49900000)) / 100.0 AS o_totalprice,
                     TIMESTAMP '1995-01-01' + to_days(CAST(ri('od', i, 2405) AS INTEGER))
                       AS o_orderdate,
                     {_pick(prios, "ri('oy', i, 5)")} AS o_orderpriority
                     FROM range({n_o}) t(i)""",
        "lineitem": f"""SELECT ri('lo', i, {n_o}) AS l_orderkey,
                     ri('lp', i, {n_p}) AS l_partkey,
                     ri('ls', i, {n_s}) AS l_suppkey,
                     CAST(1 + ri('ln', i, 7) AS INTEGER) AS l_linenumber,
                     CAST(1 + ri('lq', i, 50) AS DOUBLE) AS l_quantity,
                     (90000 + ri('le', i, 10410000)) / 100.0 AS l_extendedprice,
                     ri('ld', i, 11) / 100.0 AS l_discount,
                     ri('lt', i, 9) / 100.0 AS l_tax,
                     {_pick(['A', 'N', 'R'], "ri('lr', i, 3)")} AS l_returnflag,
                     {_pick(['F', 'O'], "ri('lx', i, 2)")} AS l_linestatus,
                     TIMESTAMP '1995-01-02' + to_days(CAST(ri('lh', i, 2499) AS INTEGER))
                       AS l_shipdate
                     FROM range({n_l}) t(i)""",
    }
    for name, sql in tables.items():
        con.execute(f"COPY ({sql}) TO '{out_dir}/{name}.parquet' (FORMAT parquet)")
    con.close()


def documents(out_dir, seed, n_docs, threads=None):
    """Write documents.parquet with `n_docs` rows."""
    os.makedirs(out_dir, exist_ok=True)
    con = _con(seed, threads)
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    con.execute(f"""CREATE TABLE base AS
        SELECT i, string_agg({vocab}[1 + ri('w', i * 128 + j, {len(VOCAB)})],
                             ' ' ORDER BY j) AS text
        FROM (SELECT i, unnest(range(10 + ri('nw', i, 90))) AS j
              FROM range({n_docs}) t(i))
        GROUP BY i""")
    langs = "['en', 'en', 'en', 'en', 'de', 'de', 'es', 'es', 'fr', 'fr', 'zh', 'zh', 'en']"
    con.execute(f"""COPY (
        SELECT d.i AS doc_id, d.text, {langs}[1 + ri('lg', d.i, 13)] AS lang,
               'src' || (d.i % 20) AS source,
               CAST(length(d.text) AS BIGINT) AS n_chars
        FROM (SELECT b.i,
                     CASE WHEN b.i > 0 AND u('nd', b.i) < 0.05
                            THEN s.text || ' dup'
                          WHEN b.i > 0 AND u('nd', b.i) < 0.052 THEN s.text
                          ELSE b.text END AS text
              FROM base b LEFT JOIN base s
                ON s.i = CASE WHEN b.i > 0 THEN ri('src', b.i, b.i) END) d
      ) TO '{out_dir}/documents.parquet' (FORMAT parquet)""")
    con.close()
