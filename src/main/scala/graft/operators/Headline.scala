package graft.operators

import graft.{Op, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Headline analytic queries — multi-join aggregate shapes in the style of
  * ALL 22 TPC-H queries (Q1–Q22), adapted to the testdata columns: the
  * tables here have no partsupp and no commit/receipt dates, so the
  * partsupp-centric shapes (Q2/Q11/Q16/Q20) use lineitem as the
  * part↔supplier bridge and Q21's "late" is shipdate > orderdate + 90 days
  * — the PLAN shapes (correlated min decorrelation, agg-of-agg scalar
  * thresholds, NOT IN anti-joins, EXISTS/NOT-EXISTS self-join pairs) are
  * preserved exactly. These are the plans
  * that exercise join ordering, filter pushdown, broadcast-vs-shuffle
  * choices, and partial aggregation together; the money arithmetic follows
  * the exact-decimal / double-presentation rule (Relational.scala header).
  *
  * Scale shapes:
  *  - q3: two selective pushed filters, customer⋈orders⋈lineitem keyed
  *    joins, per-order partial agg, distributed top-10
  *    (TakeOrderedAndProject).
  *  - q5: constant-size dims (region, nation) broadcast; the two fact-side
  *    joins shuffle on their keys; one final small aggregate.
  *  - q10: selective returnflag filter into a per-customer aggregate joined
  *    back to the customer dim, top-20.
  */
object Headline {

  private val dec = DecimalType(18, 2)
  private val dec92 = DecimalType(9, 2)

  private def revenue = sum(col("l_extendedprice").cast(dec) *
    (lit(1) - col("l_discount").cast(dec92))).cast("double")

  // decimal sums present as DOUBLE through a VARCHAR hop: DuckDB's
  // decimal->double cast rounds the int128 unscaled value FIRST and then
  // divides by 10^scale (two roundings, 1-ULP drift once the unscaled
  // sum passes 2^53 — the sf1 gate caught q1's sum_charge); the decimal
  // string -> strtod route is correctly rounded, and Spark's
  // BigDecimal.doubleValue already is.
  private val revenueSql =
    "CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS VARCHAR) AS DOUBLE)"

  val ops: Seq[Op] = Seq(

    // Q1 shape: the pricing summary — one selective pushed date filter,
    // a 4-group hash aggregate with 8 aggregates (partial+final, so the
    // shuffle carries 4 rows per map partition regardless of table size).
    // All money math in exact decimal; averages are single divisions of
    // exact sums -> bit-identical presentation on both engines.
    Op("q1_pricing_summary",
       s"""SELECT l_returnflag, l_linestatus,
          |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
          |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
          |  $revenueSql AS sum_disc_price,
          |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(9,2)))
          |        * (1 + CAST(l_tax AS DECIMAL(9,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
          |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_qty,
          |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_price,
          |  CAST(CAST(sum(CAST(l_discount AS DECIMAL(9,2))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_disc,
          |  count(*) AS count_order
          |FROM lineitem
          |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      // The decimal casts and the two per-row products are projected ONCE
      // below the aggregate (a Project under HashAggregate survives to the
      // physical plan), so the 8 aggregate update expressions reduce to
      // plain column sums instead of each re-running its own cast chain —
      // per-row decimal conversion work drops ~3x on this 8-aggregate
      // shape. Same exact-decimal domain, same results.
      val qty = sum(col("qty"))
      val base = sum(col("price"))
      val disc = sum(col("disc"))
      val n = count(lit(1))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").cast(dec).as("qty"),
          col("l_extendedprice").cast(dec).as("price"),
          col("l_discount").cast(dec92).as("disc"),
          (col("l_extendedprice").cast(dec) *
            (lit(1) - col("l_discount").cast(dec92))).as("disc_price"),
          (col("l_extendedprice").cast(dec) *
            (lit(1) - col("l_discount").cast(dec92)) *
            (lit(1) + col("l_tax").cast(dec92))).as("charge"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          qty.cast("double").as("sum_qty"),
          base.cast("double").as("sum_base_price"),
          sum(col("disc_price")).cast("double").as("sum_disc_price"),
          sum(col("charge")).cast("double").as("sum_charge"),
          (qty.cast("double") / n).as("avg_qty"),
          (base.cast("double") / n).as("avg_price"),
          (disc.cast("double") / n).as("avg_disc"),
          n.as("count_order"))
    },

    // Q3 shape: shipping-priority candidates — segment-filtered customers,
    // orders placed before D, items shipped after D, top-10 open revenue.
    Op("q3_shipping_priority",
       s"""SELECT o.o_orderkey AS order_id,
          |       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
          |       o.o_orderpriority AS priority,
          |       $revenueSql AS revenue
          |FROM customer c
          |JOIN orders o ON c.c_custkey = o.o_custkey
          |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          |WHERE c.c_mktsegment = 'BUILDING'
          |  AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          |  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
          |GROUP BY 1, 2, 3
          |ORDER BY revenue DESC, order_id LIMIT 10""".stripMargin) { (s, d) =>
      val cutoff = "1995-03-15 00:00:00"
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") < to_timestamp(lit(cutoff)))
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > to_timestamp(lit(cutoff)))
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, l("l_orderkey") === o("o_orderkey"))
        .groupBy(
          o("o_orderkey").as("order_id"),
          // string form: DATE columns surface as date-vs-timestamp dtype
          // mismatches between the two engines' parquet/pandas paths
          date_format(o("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          o("o_orderpriority").as("priority"))
        .agg(revenue.as("revenue"))
        .orderBy(col("revenue").desc, col("order_id"))
        .limit(10)
    },

    // Q5 shape: revenue by nation inside one region and one year, customer
    // and supplier required to sit in the same nation. region/nation are
    // constant-size -> forced broadcast is correct for them (and only
    // them). Join order is supplier-FIRST on the lineitem side: the
    // ASIA-supplier join reduces lineitem (by the region's supplier share,
    // ~20% for 5 regions) BEFORE its orderkey shuffle, and only 4 pruned
    // lineitem columns ever shuffle; the same-nation constraint rides the
    // orderkey join as a second equi-condition. Measured (r5 warm probe,
    // min of 3 at sf0.1): 1.02s — the same steady state as r3's 1.00s
    // bench entry, so the r4 single-shot 1.63s was cross-query GC jitter,
    // not this order (the bench reports per-query medians now). At
    // cluster scale the order shuffles strictly fewer bytes. Supplier/
    // customer are NOT hinted - AQE broadcasts them while they fit and
    // falls back to shuffle joins when they outgrow the threshold.
    Op("q5_local_supplier_volume",
       s"""SELECT n.n_name AS nation_name, $revenueSql AS revenue
          |FROM region r
          |JOIN nation n ON n.n_regionkey = r.r_regionkey
          |JOIN customer c ON c.c_nationkey = n.n_nationkey
          |JOIN orders o ON o.o_custkey = c.c_custkey
          |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          |JOIN supplier s ON s.s_suppkey = l.l_suppkey
          |             AND s.s_nationkey = n.n_nationkey
          |WHERE r.r_name = 'ASIA'
          |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          |GROUP BY 1""".stripMargin) { (s, d) =>
      val nations = broadcast(Tables.region(s, d)
        .filter(col("r_name") === "ASIA"))
        .join(broadcast(Tables.nation(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cAsia = Tables.customer(s, d)
        .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      val oAsia = Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit("1997-01-01 00:00:00")))
        .select(col("o_orderkey"), col("o_custkey"))
        .join(cAsia, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_nationkey"), col("n_name"))
      val supAsia = Tables.supplier(s, d)
        .join(broadcast(nations.select(col("n_nationkey").as("sn_key"))),
          col("s_nationkey") === col("sn_key"))
        .select(col("s_suppkey"), col("s_nationkey"))
      val lSup = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(supAsia, col("l_suppkey") === col("s_suppkey"))
      lSup.join(oAsia,
          lSup("l_orderkey") === oAsia("o_orderkey") &&
            lSup("s_nationkey") === oAsia("c_nationkey"))
        .groupBy(col("n_name").as("nation_name"))
        .agg(revenue.as("revenue"))
    },

    // Q9 shape: product-type profit by supplier nation and order year —
    // the four-fact-join aggregate whose partkey join is the classic skew
    // victim (one hot part's rows all land in one task). The part join
    // runs through Skew.saltedJoin: the fact side salts on the row's own
    // identity, the filtered part dim replicates `buckets` times, so a hot
    // partkey spreads over 8 shuffle partitions BY CONSTRUCTION — the
    // explicit fallback for when AQE's skew splitting can't see the join.
    // Row-identical to the unsalted join (SkewSpec), so the oracle replays
    // a plain join.
    Op("q9_product_profit",
       s"""SELECT n.n_name AS nation_name,
          |       CAST(year(o.o_orderdate) AS INT) AS o_year,
          |       $revenueSql AS revenue
          |FROM lineitem l
          |JOIN part p ON p.p_partkey = l.l_partkey
          |JOIN supplier s ON s.s_suppkey = l.l_suppkey
          |JOIN nation n ON n.n_nationkey = s.s_nationkey
          |JOIN orders o ON o.o_orderkey = l.l_orderkey
          |WHERE p.p_type = 'PROMO'
          |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val parts = Tables.part(s, d)
        .filter(col("p_type") === "PROMO")
        .select(col("p_partkey"))
      val l = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey").as("p_partkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
      val lp = Skew.saltedJoin(l, parts, "p_partkey", buckets = 8,
        saltBy = Seq("l_orderkey", "l_linenumber"), joinType = "left_semi")
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"))
      val nat = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
      val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
      lp.join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("n_nationkey") === col("s_nationkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation_name"),
          year(col("o_orderdate")).cast("int").as("o_year"))
        .agg(revenue.as("revenue"))
    },

    // Q10 shape: customers who returned the most revenue.
    Op("q10_returned_items",
       s"""SELECT c.c_custkey AS customer_id, c.c_name AS customer_name,
          |       n.n_name AS nation_name, $revenueSql AS lost_revenue
          |FROM customer c
          |JOIN nation n ON n.n_nationkey = c.c_nationkey
          |JOIN orders o ON o.o_custkey = c.c_custkey
          |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          |WHERE l.l_returnflag = 'R'
          |GROUP BY 1, 2, 3
          |ORDER BY lost_revenue DESC, customer_id LIMIT 20""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      c.join(broadcast(n), n("n_nationkey") === c("c_nationkey"))
        .join(o, o("o_custkey") === c("c_custkey"))
        .join(l, l("l_orderkey") === o("o_orderkey"))
        .groupBy(
          c("c_custkey").as("customer_id"),
          c("c_name").as("customer_name"),
          n("n_name").as("nation_name"))
        .agg(revenue.as("lost_revenue"))
        .orderBy(col("lost_revenue").desc, col("customer_id"))
        .limit(20)
    },

    // Q6 shape: the forecast-revenue scan-aggregate — every predicate
    // pushes into the parquet scan, no join, no group: the purest test
    // that filters reach the reader and money stays exact.
    Op.sql("q6_forecast_revenue",
       """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
         |           * CAST(l_discount AS DECIMAL(9,2))) AS DOUBLE) AS revenue
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
         |  AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
         |  AND l_discount BETWEEN 0.05 AND 0.07
         |  AND l_quantity < 24""".stripMargin),

    // Q4 shape: priority count gated by an EXISTS — a correlated semi-join
    // with a non-equi term (any line shipped after the order date), which
    // Spark plans as a left_semi with a composite condition: no
    // de-correlation rewrite needed, no duplicate-amplifying inner join.
    Op("q4_priority_count",
       """SELECT o_orderpriority, count(*) AS order_count
         |FROM orders o
         |WHERE EXISTS (SELECT 1 FROM lineitem l
         |              WHERE l.l_orderkey = o.o_orderkey
         |                AND l.l_shipdate > o.o_orderdate)
         |GROUP BY 1""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      o.join(l, l("l_orderkey") === o("o_orderkey") &&
          l("l_shipdate") > o("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    },

    // Q7 shape: nation-to-nation trade volume by year — the 5-join
    // bushy shape (fact⋈fact⋈dim⋈dim⋈dim⋈dim) with a derived time
    // dimension; constant-size nation dims broadcast twice under two
    // aliases, the fact joins shuffle on their keys.
    Op("q7_volume_shipping",
       s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          |       CAST(year(l_shipdate) AS INT) AS l_year,
          |       $revenueSql AS revenue
          |FROM lineitem
          |JOIN orders   ON o_orderkey = l_orderkey
          |JOIN customer ON c_custkey = o_custkey
          |JOIN supplier ON s_suppkey = l_suppkey
          |JOIN nation n1 ON n1.n_nationkey = s_nationkey
          |JOIN nation n2 ON n2.n_nationkey = c_nationkey
          |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          |GROUP BY 1, 2, 3""".stripMargin) { (s, d) =>
      val l = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val sup = Tables.supplier(s, d)
      val n1 = Tables.nation(s, d).toDF("n1_key", "supp_nation", "n1_region")
      val n2 = Tables.nation(s, d).toDF("n2_key", "cust_nation", "n2_region")
      l.filter(col("l_shipdate") >= lit("1995-01-01 00:00:00").cast("timestamp"))
        .join(o, o("o_orderkey") === l("l_orderkey"))
        .join(c, c("c_custkey") === o("o_custkey"))
        .join(sup, sup("s_suppkey") === l("l_suppkey"))
        .join(n1, col("n1_key") === sup("s_nationkey"))
        .join(n2, col("n2_key") === c("c_nationkey"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(revenue.as("revenue"))
    },

    // Q12 shape: conditional counting after a fact⋈fact join — the
    // CASE-in-aggregate idiom (late lines split by order priority),
    // integer-exact on both engines.
    Op.sql("q12_priority_shipping",
       """SELECT l_returnflag,
         |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE l_shipdate > o_orderdate
         |GROUP BY 1""".stripMargin),

    // Q14 shape: promo revenue share — a part-dim join feeding a ratio of
    // two conditional decimal sums (CASE WITHOUT ELSE -> NULLs that both
    // engines' sum skips); one multiply and one divide on the presented
    // doubles, in the same order on both sides.
    Op.sql("q14_promo_revenue",
       """SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
         |    THEN CAST(l_extendedprice AS DECIMAL(18,2))
         |         * (1 - CAST(l_discount AS DECIMAL(9,2))) END) AS DOUBLE)
         |  / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
         |         * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE)
         |  AS promo_revenue
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
         |  AND l_shipdate <  TIMESTAMP '1995-10-01 00:00:00'""".stripMargin),

    // Q17 shape: small-quantity revenue against a per-part average — the
    // "aggregate then join back to the detail" decorrelation of a
    // correlated scalar subquery, done explicitly (one keyed agg + one
    // equi-join; no per-row subquery execution).
    Op("q17_small_quantity",
       """WITH pa AS (
         |  SELECT l_partkey,
         |         0.2 * (CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
         |                / count(*)) AS thresh
         |  FROM lineitem GROUP BY 1)
         |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         |       / 7.0 AS avg_yearly
         |FROM lineitem
         |JOIN pa USING (l_partkey)
         |JOIN part ON p_partkey = l_partkey
         |WHERE p_brand = 'Brand#12' AND l_quantity < thresh""".stripMargin) { (s, d) =>
      val l = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      val pa = l.groupBy(col("l_partkey").as("pa_partkey"))
        .agg((lit(0.2) * (sum(col("l_quantity").cast(dec)).cast("double") /
          count(lit(1)))).as("thresh"))
      l.join(pa, col("pa_partkey") === l("l_partkey"))
        .join(p, p("p_partkey") === l("l_partkey"))
        .filter(col("p_brand") === "Brand#12" &&
          col("l_quantity") < col("thresh"))
        .agg((sum(col("l_extendedprice").cast(dec)).cast("double") / 7.0)
          .as("avg_yearly"))
    },

    // Q18 shape: large-order customers — an IN-subquery over a HAVING
    // aggregate, planned as a semi-join against the aggregated keys
    // (quantity sums in exact decimal so the HAVING threshold is
    // engine-stable).
    Op("q18_large_orders",
       """WITH big AS (
         |  SELECT l_orderkey
         |  FROM lineitem GROUP BY 1
         |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 300)
         |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         |FROM customer
         |JOIN orders ON o_custkey = c_custkey
         |WHERE o_orderkey IN (SELECT l_orderkey FROM big)""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast(dec)).cast("double").as("qty"))
        .filter(col("qty") > 300)
        .select("l_orderkey")
      c.join(o, o("o_custkey") === c("c_custkey"))
        .join(big, big("l_orderkey") === o("o_orderkey"), "left_semi")
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"))
    },

    // Q19 shape: disjunctive multi-attribute join predicates — an
    // OR-of-ANDs over (brand, size, quantity) on top of the partkey
    // equi-join. Catalyst keeps the equi-join hashable and evaluates the
    // disjunction as a post-join filter; the common partkey term never
    // degenerates to a nested loop.
    Op("q19_disjunctive_revenue",
       s"""SELECT $revenueSql AS revenue
          |FROM lineitem JOIN part ON p_partkey = l_partkey
          |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
          |       AND l_quantity BETWEEN 1 AND 11)
          |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
          |       AND l_quantity BETWEEN 10 AND 20)
          |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 50
          |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin) { (s, d) =>
      val l = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      def arm(brand: String, sizeHi: Int, qLo: Int, qHi: Int) =
        col("p_brand") === brand && col("p_size").between(1, sizeHi) &&
          col("l_quantity").between(qLo, qHi)
      l.join(p, p("p_partkey") === l("l_partkey"))
        .filter(arm("Brand#12", 15, 1, 11) || arm("Brand#23", 25, 10, 20) ||
          arm("Brand#34", 50, 20, 30))
        .agg(revenue.as("revenue"))
    },

    // Q22 shape: above-average-balance customers who never placed a
    // LARGE order — a 1-row global-average scalar (explicitly broadcast,
    // like the text_perplexity vocab attach) feeding an anti-join against
    // a filtered order set, grouped by segment. The average is a
    // decimal-exact sum with one division.
    Op("q22_idle_balances",
       """WITH ab AS (
         |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         |         / count(*) AS avg_bal
         |  FROM customer WHERE c_acctbal > 0)
         |SELECT c_mktsegment,
         |       count(*) AS numcust,
         |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         |         AS totacctbal
         |FROM customer, ab
         |WHERE c_acctbal > ab.avg_bal
         |  AND NOT EXISTS (SELECT 1 FROM orders
         |                  WHERE o_custkey = c_custkey
         |                    AND o_totalprice > 400000)
         |GROUP BY 1""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val avgBal = c.filter(col("c_acctbal") > 0)
        .agg((sum(col("c_acctbal").cast(dec)).cast("double") /
          count(lit(1))).as("avg_bal"))
      c.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(o.filter(col("o_totalprice") > 400000),
          o("o_custkey") === c("c_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("c_acctbal").cast(dec)).cast("double").as("totacctbal"))
    },

    // Q2 shape: min-cost supplier — the correlated scalar-min subquery
    // ("the supplier whose cost equals the minimum for that part"),
    // decorrelated into a per-(part,supplier) aggregate, a per-part min,
    // and an equality join back. No partsupp table here, so observed unit
    // price from lineitem is the cost; the per-row double division is
    // bit-identical on both engines, and min/equality over those doubles
    // is therefore engine-stable. The part filter is applied BEFORE the
    // cost aggregate on the Spark side (a semi-join the oracle's
    // filter-after-join formulation is equivalent to, since per-part mins
    // are independent across parts) so only ~1/12 of lineitem ever
    // reaches the shuffle. Deterministic top-100: (supplier_name,
    // part_id) is a unique key of the result.
    Op("q2_min_cost_supplier",
       """WITH cost AS (
         |  SELECT l_partkey, l_suppkey,
         |         min(l_extendedprice / l_quantity) AS unit_cost
         |  FROM lineitem GROUP BY 1, 2),
         |best AS (
         |  SELECT l_partkey, min(unit_cost) AS best_cost
         |  FROM cost GROUP BY 1)
         |SELECT s.s_name AS supplier_name, s.s_acctbal AS supplier_balance,
         |       n.n_name AS nation_name, p.p_partkey AS part_id,
         |       p.p_name AS part_name, b.best_cost AS unit_cost
         |FROM cost c
         |JOIN best b ON b.l_partkey = c.l_partkey
         |           AND c.unit_cost = b.best_cost
         |JOIN part p ON p.p_partkey = c.l_partkey
         |JOIN supplier s ON s.s_suppkey = c.l_suppkey
         |JOIN nation n ON n.n_nationkey = s.s_nationkey
         |WHERE p.p_type = 'STANDARD' AND p.p_size < 25
         |ORDER BY supplier_balance DESC, supplier_name, part_id
         |LIMIT 100""".stripMargin) { (s, d) =>
      val p = Tables.part(s, d)
        .filter(col("p_type") === "STANDARD" && col("p_size") < 25)
      val l = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"),
          (col("l_extendedprice") / col("l_quantity")).as("u"))
        .join(p.select(col("p_partkey").as("pk")),
          col("pk") === col("l_partkey"), "left_semi")
      val cost = l.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("u")).as("unit_cost"))
      val best = cost.groupBy(col("l_partkey").as("b_partkey"))
        .agg(min(col("unit_cost")).as("best_cost"))
      cost.join(best, col("b_partkey") === col("l_partkey") &&
          col("unit_cost") === col("best_cost"))
        .join(p, col("p_partkey") === col("l_partkey"))
        .join(Tables.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("n_nationkey") === col("s_nationkey"))
        .select(col("s_name").as("supplier_name"),
          col("s_acctbal").as("supplier_balance"),
          col("n_name").as("nation_name"),
          col("p_partkey").as("part_id"),
          col("p_name").as("part_name"),
          col("best_cost").as("unit_cost"))
        .orderBy(col("supplier_balance").desc, col("supplier_name"),
          col("part_id"))
        .limit(100)
    },

    // Q8 shape: national market share — the ratio-of-conditional-sums over
    // a 7-join tree (both a customer-side and a supplier-side nation
    // lookup). CASE WITHOUT ELSE keeps the numerator in the same exact
    // decimal domain as the denominator; the share is one double division
    // per group. The numerator is coalesced to 0 after the cast so a year
    // with no NATION_3 supply compares equal on both engines.
    Op("q8_market_share",
       s"""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
          |  COALESCE(CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
          |      THEN CAST(l_extendedprice AS DECIMAL(18,2))
          |           * (1 - CAST(l_discount AS DECIMAL(9,2))) END) AS DOUBLE), 0.0)
          |  / $revenueSql AS mkt_share
          |FROM lineitem
          |JOIN orders   ON o_orderkey = l_orderkey
          |JOIN customer ON c_custkey = o_custkey
          |JOIN nation n1 ON n1.n_nationkey = c_nationkey
          |JOIN region   ON r_regionkey = n1.n_regionkey
          |JOIN supplier ON s_suppkey = l_suppkey
          |JOIN nation n2 ON n2.n_nationkey = s_nationkey
          |JOIN part     ON p_partkey = l_partkey
          |WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
          |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
          |GROUP BY 1""".stripMargin) { (s, d) =>
      val vol = col("l_extendedprice").cast(dec) *
        (lit(1) - col("l_discount").cast(dec92))
      val n1 = broadcast(Tables.region(s, d)
        .filter(col("r_name") === "AMERICA"))
        .join(broadcast(Tables.nation(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nkey"))
      val n2 = Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
      val p = Tables.part(s, d).filter(col("p_type") === "ECONOMY")
        .select(col("p_partkey"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1995-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val c = Tables.customer(s, d)
        .join(broadcast(n1), col("c_nationkey") === col("c_nkey"))
        .select(col("c_custkey"))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(p, col("p_partkey") === col("l_partkey"), "left_semi")
        .join(o, col("o_orderkey") === col("l_orderkey"))
        .join(c, col("c_custkey") === col("o_custkey"), "left_semi")
        .join(Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey")),
          col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(n2), col("s_nkey") === col("s_nationkey"))
        .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
        .agg((coalesce(
            sum(when(col("supp_nation") === "NATION_3", vol)).cast("double"),
            lit(0.0)) / sum(vol).cast("double")).as("mkt_share"))
    },

    // Q11 shape: important parts — a keyed aggregate HAVING-compared
    // against a fraction of the GLOBAL total (a 1-row scalar, explicitly
    // broadcast like q22's average). Value = exact decimal sum; both the
    // per-part value and the global total are cast to double once, so the
    // threshold compare runs on identical bits. partsupp is absent, so
    // "stock value" is supplied lineitem revenue for suppliers in the two
    // chosen nations.
    Op("q11_important_parts",
       """WITH val AS (
         |  SELECT l_partkey,
         |         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS v
         |  FROM lineitem
         |  WHERE l_suppkey IN (
         |    SELECT s_suppkey FROM supplier JOIN nation
         |      ON n_nationkey = s_nationkey
         |    WHERE n_name IN ('NATION_7', 'NATION_12'))
         |  GROUP BY 1),
         |tot AS (SELECT sum(v) AS t FROM val)
         |SELECT l_partkey AS part_id, CAST(v AS DOUBLE) AS part_value
         |FROM val, tot
         |WHERE CAST(v AS DOUBLE) > 0.001 * CAST(t AS DOUBLE)""".stripMargin) { (s, d) =>
      val supp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
            .filter(col("n_name").isin("NATION_7", "NATION_12"))),
          col("n_nationkey") === col("s_nationkey"))
        .select(col("s_suppkey"))
      val v = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
        .join(supp, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast(dec)).as("v"))
      val tot = v.agg(sum(col("v")).as("t"))
      v.crossJoin(broadcast(tot))
        .filter(col("v").cast("double") > lit(0.001) * col("t").cast("double"))
        .select(col("l_partkey").as("part_id"),
          col("v").cast("double").as("part_value"))
    },

    // Q13 shape: customer order-count distribution — the left-outer join
    // whose FILTER LIVES IN THE JOIN CONDITION (customers keep a row even
    // when every order is excluded), feeding a two-level aggregate
    // (count per customer, then histogram of counts). The excluded-order
    // predicate touches only the right side, so it pre-filters orders
    // before the join — same rows, smaller shuffle.
    Op.sql("q13_order_distribution",
       """WITH co AS (
         |  SELECT c_custkey, count(o_orderkey) AS c_count
         |  FROM customer LEFT JOIN orders
         |    ON o_custkey = c_custkey AND o_orderpriority <> '1-URGENT'
         |  GROUP BY 1)
         |SELECT c_count, count(*) AS custdist
         |FROM co GROUP BY 1""".stripMargin),

    // Q15 shape: top supplier — a keyed revenue aggregate compared against
    // its own MAX (the classic view-reused-twice query). The 1-row max is
    // explicitly broadcast; revenue is the exact-decimal sum presented as
    // double on both sides, so the equality join against the max is
    // engine-stable.
    Op("q15_top_supplier",
       s"""WITH rev AS (
          |  SELECT l_suppkey, $revenueSql AS total_revenue
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          |    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
          |  GROUP BY 1)
          |SELECT s_suppkey AS supplier_id, s_name AS supplier_name,
          |       total_revenue
          |FROM supplier JOIN rev ON l_suppkey = s_suppkey
          |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""".stripMargin) { (s, d) =>
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(revenue.as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("mx"))
      Tables.supplier(s, d)
        .join(rev, col("l_suppkey") === col("s_suppkey"))
        .crossJoin(broadcast(mx))
        .filter(col("total_revenue") === col("mx"))
        .select(col("s_suppkey").as("supplier_id"),
          col("s_name").as("supplier_name"), col("total_revenue"))
    },

    // Q16 shape: supplier diversity per part attribute — COUNT(DISTINCT)
    // after a NOT IN anti-join (the "suppliers with complaints" exclusion;
    // here: negative account balance). The anti-join runs on the bare
    // 2-column lineitem projection BEFORE the part join, so excluded rows
    // never shuffle.
    Op("q16_supplier_part_counts",
       """SELECT p_brand, p_type, p_size,
         |       count(DISTINCT l_suppkey) AS supplier_cnt
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE p_brand <> 'Brand#5' AND p_type <> 'MEDIUM'
         |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
         |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
         |                        WHERE s_acctbal < 0)
         |GROUP BY 1, 2, 3""".stripMargin) { (s, d) =>
      val bad = Tables.supplier(s, d).filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      val p = Tables.part(s, d)
        .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "MEDIUM" &&
          col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
      Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
        .join(bad, col("s_suppkey") === col("l_suppkey"), "left_anti")
        .join(p, col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    },

    // Q20 shape: part promotion — the nested-IN chain (suppliers IN
    // (shippers of marked parts whose share of that part's volume beat a
    // threshold) AND nation IN (...)), planned as a cascade of semi-joins
    // over two keyed aggregates. availqty is absent, so the threshold is
    // a share of the part's TOTAL shipped quantity in the window — same
    // two-aggregate compare shape. Quantity sums exact-decimal, cast to
    // double once, threshold multiply in double on both engines.
    Op("q20_part_promotion",
       """WITH shipped AS (
         |  SELECT l_suppkey, l_partkey,
         |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS supp_qty
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
         |  GROUP BY 1, 2),
         |tot AS (
         |  SELECT l_partkey,
         |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS part_qty
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
         |  GROUP BY 1),
         |qualifying AS (
         |  SELECT DISTINCT l_suppkey
         |  FROM shipped JOIN tot USING (l_partkey)
         |  WHERE supp_qty > 0.3 * part_qty
         |    AND l_partkey IN (SELECT p_partkey FROM part
         |                      WHERE p_name LIKE 'red%'))
         |SELECT s_suppkey AS supplier_id, s_name AS supplier_name
         |FROM supplier
         |WHERE s_suppkey IN (SELECT l_suppkey FROM qualifying)
         |  AND s_nationkey IN (SELECT n_nationkey FROM nation
         |                      WHERE n_name IN ('NATION_2', 'NATION_11',
         |                                       'NATION_19'))""".stripMargin) { (s, d) =>
      val window = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
        .select(col("l_suppkey"), col("l_partkey"), col("l_quantity"))
        .join(Tables.part(s, d).filter(col("p_name").like("red%"))
            .select(col("p_partkey")),
          col("p_partkey") === col("l_partkey"), "left_semi")
      val shipped = window.groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity").cast(dec)).cast("double").as("supp_qty"))
      val tot = window.groupBy(col("l_partkey").as("t_partkey"))
        .agg(sum(col("l_quantity").cast(dec)).cast("double").as("part_qty"))
      val qualifying = shipped
        .join(tot, col("t_partkey") === col("l_partkey"))
        .filter(col("supp_qty") > lit(0.3) * col("part_qty"))
        .select(col("l_suppkey")).distinct()
      val nations = Tables.nation(s, d)
        .filter(col("n_name").isin("NATION_2", "NATION_11", "NATION_19"))
        .select(col("n_nationkey"))
      Tables.supplier(s, d)
        .join(qualifying, col("l_suppkey") === col("s_suppkey"), "left_semi")
        .join(broadcast(nations),
          col("n_nationkey") === col("s_nationkey"), "left_semi")
        .select(col("s_suppkey").as("supplier_id"),
          col("s_name").as("supplier_name"))
    },

    // Q21 shape: suppliers who kept orders waiting — the EXISTS /
    // NOT-EXISTS self-join pair over lineitem (another supplier
    // contributed to the order; no OTHER supplier was late), planned as a
    // left-semi then a left-anti with a non-equi term each. commit/receipt
    // dates are absent, so "late" = shipped more than 90 days after the
    // order date — the correlation structure (l3's lateness references
    // the OUTER order's date) is identical.
    Op("q21_waiting_orders",
       """SELECT s_name AS supplier_name, count(*) AS numwait
         |FROM supplier
         |JOIN nation ON n_nationkey = s_nationkey
         |JOIN lineitem l1 ON l1.l_suppkey = s_suppkey
         |JOIN orders o ON o.o_orderkey = l1.l_orderkey
         |WHERE n_name IN ('NATION_9', 'NATION_14')
         |  AND o.o_orderstatus = 'F'
         |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
         |  AND EXISTS (SELECT 1 FROM lineitem l2
         |              WHERE l2.l_orderkey = l1.l_orderkey
         |                AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
         |                  WHERE l3.l_orderkey = l1.l_orderkey
         |                    AND l3.l_suppkey <> l1.l_suppkey
         |                    AND l3.l_shipdate > o.o_orderdate
         |                        + INTERVAL 90 DAY)
         |GROUP BY 1""".stripMargin) { (s, d) =>
      val late = col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 90 DAYS")
      val sup = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
            .filter(col("n_name").isin("NATION_9", "NATION_14"))),
          col("n_nationkey") === col("s_nationkey"))
        .select(col("s_suppkey"), col("s_name"))
      val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val l1 = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(o, col("o_orderkey") === col("l_orderkey"))
        .filter(late)
        .join(sup, col("s_suppkey") === col("l_suppkey"))
      val l2 = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("l2_orderkey"),
          col("l_suppkey").as("l2_suppkey"))
      val l3 = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("l3_orderkey"),
          col("l_suppkey").as("l3_suppkey"),
          col("l_shipdate").as("l3_shipdate"))
      l1.join(l2, col("l2_orderkey") === col("l_orderkey") &&
            col("l2_suppkey") =!= col("l_suppkey"), "left_semi")
        .join(l3, col("l3_orderkey") === col("l_orderkey") &&
            col("l3_suppkey") =!= col("l_suppkey") &&
            col("l3_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          "left_anti")
        .groupBy(col("s_name").as("supplier_name"))
        .agg(count(lit(1)).as("numwait"))
    }
  )
}
