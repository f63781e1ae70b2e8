package graft.operators

import graft.{Op, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Analytic operators beyond the reference's surface (SURVEY §2.9 lists these
  * as absent from the reference): window functions, set operations, and the
  * scalar function families a warehouse user expects. All deterministic —
  * every window ORDER BY carries a unique tiebreak column so results are
  * stable across partitionings.
  */
object Analytics {

  private val dec = DecimalType(18, 2)

  /** Cumulative Poisson(1) CDF cutoffs scaled to the 32-bit md5 hash
    * space: a draw hv in [0, 2^32) maps to the replicate weight
    * w = |{j : cutoff_j <= hv}| — the inverse-CDF sample done entirely
    * in BIGINT comparisons (the doubles appear only here, once, at
    * constant-fold time; both engines compare the same integers).
    */
  private val poissonCuts: Seq[Long] = {
    val eInv = math.exp(-1.0)
    var cum = 0.0
    var fact = 1.0
    (0 to 5).map { j =>
      if (j > 0) fact *= j
      cum += eInv / fact
      (cum * 4294967296.0).toLong
    }
  }

  /** Poisson bootstrap of the mean order value: 32 replicates, each row
    * weighted by a Poisson(1) draw per replicate (inverse CDF over
    * `poissonCuts`), summed per replicate into one exact integer pair and
    * a single division. Only the 32-bit draw `hv` per (replicate, row)
    * depends on the hash family:
    *   - portable: the md5_slices32 kernel's four 32-bit slices of
    *     md5("boot:g:orderkey") feed replicates 4g..4g+3 (8 digests per
    *     row), byte-equal to the conv(substring(md5)) slices the oracle
    *     replays (Md5DrawParitySpec);
    *   - fast: xxhash64("boot", b, orderkey) masked to 32 bits, one
    *     codegen'd long hash per (replicate, row).
    */
  private def bootstrapCi(s: SparkSession, d: String,
                          portable: Boolean): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"),
        (col("o_totalprice").cast(dec) * 100).cast("long").as("cents"))
    val fan =
      if (portable)
        o.select(col("o_orderkey"), col("cents"),
            explode(sequence(lit(0), lit(7))).as("g"))
          .select(col("cents"), col("g"),
            graft.functions.GraftFunctions.md5Slices32(
              concat(lit("boot:"), col("g").cast("string"), lit(":"),
                col("o_orderkey").cast("string"))).as("hs"))
          .select(col("cents"), col("g"),
            posexplode(col("hs")).as(Seq("j", "hv")))
          .select((col("g") * 4 + col("j")).as("b"), col("cents"),
            col("hv"))
      else
        o.select(col("o_orderkey"), col("cents"),
            explode(sequence(lit(0), lit(31))).as("b"))
          .select(col("b"), col("cents"),
            (xxhash64(lit("boot"), col("b"), col("o_orderkey"))
              .bitwiseAND(lit(4294967295L))).as("hv"))
    val w = poissonCuts.zipWithIndex.reverse
      .foldLeft(lit(6): Column) {
        case (acc, (c, j)) => when(col("hv") < c, lit(j)).otherwise(acc)
      }
    fan.select(col("b"), col("cents"), w.cast("long").as("w"))
      .groupBy(col("b"))
      .agg(sum(col("w")).as("n_eff"),
        sum(col("w") * col("cents")).as("num"))
      .select(col("b").cast("int").as("b"), col("n_eff"), col("num"),
        (col("num").cast("double") / col("n_eff").cast("double"))
          .as("mean_cents"))
  }

  /** Bernoulli-relabel randomization test of the urgent-vs-rest gap in
    * mean order value: each replicate redraws every row's group with the
    * observed rate, by the integer compare hv * n < 2^32 * n1 on a 32-bit
    * draw `hv`. Only the draw and the replicate count depend on the hash
    * family:
    *   - portable: 32 replicates from the md5_slices32 slices of
    *     md5("perm:g:orderkey"), bit-equal to the oracle's
    *     conv(substring(md5)) slices (Md5DrawParitySpec);
    *   - fast: 64 replicates from xxhash64("perm", b, orderkey) masked to
    *     32 bits.
    */
  private def permutationTest(s: SparkSession, d: String,
                              portable: Boolean): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"),
        (col("o_totalprice").cast(dec) * 100).cast("long").as("cents"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
          .as("g"))
    val tot = o.agg(count(lit(1)).as("n"), sum(col("g")).as("n1"),
        sum(when(col("g") === 1, col("cents")).otherwise(0L)).as("s1"),
        sum(when(col("g") === 0, col("cents")).otherwise(0L)).as("s0"))
      .transform(graft.Ckpt.cut(_)) // 1 row; feeds obs AND the fanout
    val obs = tot.select(col("n"), col("n1"), (col("n") - col("n1"))
        .as("n0"),
      (expr("s1 * 1000 div n1") - expr("s0 * 1000 div (n - n1)"))
        .as("d_obs"))
    def drawn(hv: Column): Column =
      (hv * col("n") < lit(4294967296L) * col("n1")).cast("long").as("gb")
    val withRate = o.crossJoin(broadcast(tot.select(col("n"), col("n1"))))
    val fan =
      if (portable)
        withRate
          .select(col("o_orderkey"), col("cents"), col("n"), col("n1"),
            explode(sequence(lit(0), lit(7))).as("g"))
          .select(col("cents"), col("n"), col("n1"), col("g"),
            graft.functions.GraftFunctions.md5Slices32(
              concat(lit("perm:"), col("g").cast("string"), lit(":"),
                col("o_orderkey").cast("string"))).as("hs"))
          .select(col("cents"), col("n"), col("n1"), col("g"),
            posexplode(col("hs")).as(Seq("j", "hv")))
          .select((col("g") * 4 + col("j")).as("b"), col("cents"),
            drawn(col("hv")))
      else
        withRate
          .select(col("cents"), col("n"), col("n1"),
            explode(sequence(lit(0), lit(63))).as("b"),
            col("o_orderkey"))
          .select(col("b"), col("cents"),
            drawn(xxhash64(lit("perm"), col("b"), col("o_orderkey"))
              .bitwiseAND(lit(4294967295L))))
    val reps = fan.groupBy(col("b"))
      .agg(sum(col("gb")).as("m1"),
        (count(lit(1)) - sum(col("gb"))).as("m0"),
        sum(when(col("gb") === 1, col("cents")).otherwise(0L)).as("t1"),
        sum(when(col("gb") === 0, col("cents")).otherwise(0L)).as("t0"))
    val ex = reps.filter(col("m1") > 0 && col("m0") > 0)
      .crossJoin(broadcast(obs.select(col("d_obs").as("d_o"))))
      .agg(count(lit(1)).as("n_valid"),
        sum(when(abs(expr("t1 * 1000 div m1") -
          expr("t0 * 1000 div m0")) >= abs(col("d_o")), 1L)
          .otherwise(0L)).as("n_exceed"))
    obs.crossJoin(broadcast(ex))
      .select(col("n"), col("n1"), col("n0"), col("d_obs"),
        col("n_valid"), col("n_exceed"),
        expr("n_exceed * 1000000 div n_valid").as("p_ppm"))
  }

  val ops: Seq[Op] = Seq(

    // Poisson bootstrap CI machinery (the resampling scheme that works
    // in one pass on distributed data — Chamandy et al. 2012,
    // "Estimating uncertainty for massive data streams": true
    // bootstrap resampling needs n draws WITH replacement, i.e. a
    // global shuffle per replicate; weighting each row by an
    // independent Poisson(1) per replicate is asymptotically the same
    // multinomial and needs only a map-side fanout). 32 replicates of
    // the mean order value: each (row, b) pair draws its weight by
    // md5-inverse-CDF (integer cutoff compares, no float in the draw),
    // partial sums collapse map-side to <= 32 rows per partition, and
    // the replicate means come out as one exact integer pair plus a
    // single division. The spread of the 32 means IS the standard
    // error; AnalyticsSpec turns them into a CI and checks coverage.
    //
    // Draw economics: md5 yields 128 bits = FOUR independent 32-bit
    // draws, so replicate b reads hex slice (b mod 4) of the hash keyed
    // by group b div 4 — 8 md5 calls per row for 32 replicates instead
    // of 32 (the digest dominates this op's cost). Both engines slice
    // the identical hex string, so the draws stay portable.
    Op("f_bootstrap_ci", {
      val cutSql = poissonCuts.zipWithIndex
        .map { case (c, j) => s"WHEN hv < $c THEN $j" }
        .mkString(" ")
      s"""WITH o AS (
         |  SELECT o_orderkey,
         |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |           AS cents
         |  FROM orders),
         |fan AS (
         |  SELECT g * 4 + j AS b, cents,
         |         CAST('0x' || substr(md5(concat('boot:', CAST(g AS VARCHAR),
         |             ':', CAST(o_orderkey AS VARCHAR))), 1 + j * 8, 8)
         |           AS BIGINT) AS hv
         |  FROM o, range(8) r(g), range(4) s(j)),
         |w AS (SELECT b, cents, CASE $cutSql ELSE 6 END AS w FROM fan)
         |SELECT CAST(b AS INT) AS b,
         |       CAST(sum(w) AS BIGINT) AS n_eff,
         |       CAST(sum(w * cents) AS BIGINT) AS num,
         |       CAST(sum(w * cents) AS DOUBLE) / CAST(sum(w) AS DOUBLE)
         |         AS mean_cents
         |FROM w GROUP BY 1""".stripMargin
    })((s, d) => bootstrapCi(s, d, portable = true)),

    // The same Poisson bootstrap in the xxhash64 hash family (see
    // bootstrapCi). No DuckDB xxhash64, so the entry is rows-only;
    // AnalyticsSpec pins n_eff concentration and replicate-mean
    // dispersion against the md5 family.
    Op.noOracle("f_bootstrap_ci_fast")(bootstrapCi(_, _, portable = false)),

    // Randomization (permutation) test for the urgent-vs-rest gap in
    // mean order value (Fisher 1935; the Bernoulli-relabel variant is
    // the one-pass massive-data form — each replicate redraws every
    // row's group label with the observed group rate instead of
    // globally shuffling labels, valid under the same exchangeability
    // null; cf. Chung & Romano 2013 on randomization asymptotics). 32
    // replicates fan out map-side exactly like f_bootstrap_ci (8 md5
    // calls per row — each hash feeds 4 replicates via hex slices);
    // the draw is the portable md5 32-bit integer compared against the
    // observed rate by CROSS-MULTIPLICATION (hv * n < 2^32 * n1), so
    // no float touches the assignment. The statistic is the
    // TRUNCATING-DIVISION mean gap in milli-cents — integer-exact and
    // pinned identically on both engines — and the exceedance count
    // |gap_b| >= |gap_obs| is pure BIGINT. One row out: group sizes,
    // observed gap, exceedances, p in ppm.
    Op("f_permutation_test",
       """WITH o AS (
         |  SELECT o_orderkey,
         |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |           AS cents,
         |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
         |           AS g
         |  FROM orders),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(g) AS BIGINT) AS n1,
         |         CAST(sum(CASE WHEN g = 1 THEN cents ELSE 0 END)
         |              AS BIGINT) AS s1,
         |         CAST(sum(CASE WHEN g = 0 THEN cents ELSE 0 END)
         |              AS BIGINT) AS s0
         |  FROM o),
         |obs AS (
         |  SELECT n, n1, n - n1 AS n0,
         |         s1 * 1000 // n1 - s0 * 1000 // (n - n1) AS d_obs
         |  FROM tot),
         |fan AS (
         |  SELECT gg * 4 + j AS b, cents,
         |         CASE WHEN CAST('0x' || substr(md5(concat('perm:',
         |                  CAST(gg AS VARCHAR), ':',
         |                  CAST(o_orderkey AS VARCHAR))), 1 + j * 8, 8)
         |                  AS BIGINT)
         |                * (SELECT n FROM tot)
         |                < 4294967296 * (SELECT n1 FROM tot)
         |              THEN 1 ELSE 0 END AS gb
         |  FROM o, range(8) r(gg), range(4) s(j)),
         |reps AS (
         |  SELECT b, CAST(sum(gb) AS BIGINT) AS m1,
         |         CAST(count(*) AS BIGINT) - CAST(sum(gb) AS BIGINT) AS m0,
         |         CAST(sum(CASE WHEN gb = 1 THEN cents ELSE 0 END)
         |              AS BIGINT) AS t1,
         |         CAST(sum(CASE WHEN gb = 0 THEN cents ELSE 0 END)
         |              AS BIGINT) AS t0
         |  FROM fan GROUP BY 1),
         |ex AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_valid,
         |         CAST(sum(CASE WHEN abs(t1 * 1000 // m1 - t0 * 1000 // m0)
         |                            >= abs((SELECT d_obs FROM obs))
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_exceed
         |  FROM reps WHERE m1 > 0 AND m0 > 0)
         |SELECT o.n, o.n1, o.n0, o.d_obs, e.n_valid, e.n_exceed,
         |       e.n_exceed * 1000000 // e.n_valid AS p_ppm
         |FROM obs o, ex e""".stripMargin)(
      permutationTest(_, _, portable = true)),

    // The same randomization test in the xxhash64 hash family with 64
    // replicates (see permutationTest). No DuckDB xxhash64, so rows-only;
    // AnalyticsSpec pins the observed statistic to the md5 family's and
    // the p-value to the same order of magnitude.
    Op.noOracle("f_permutation_test_fast")(
      permutationTest(_, _, portable = false)),

    // Relative-position windows: percent_rank (min-max normalized rank)
    // and cume_dist (empirical CDF value) per priority group — the two
    // SQL-standard analytics w1-w7 don't cover. Both are RANK-derived,
    // so ties get identical values on both engines (no row_number
    // arbitrariness), and each is one pinned division; one shuffle on
    // the group key like every window here.
    Op("w8_percent_rank",
       """SELECT o_orderkey AS order_id, o_orderpriority,
         |       percent_rank() OVER w AS pr,
         |       cume_dist() OVER w AS cd
         |FROM orders
         |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)""".stripMargin) {
      (s, d) =>
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"))
        Tables.orders(s, d)
          .select(col("o_orderkey").as("order_id"), col("o_orderpriority"),
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"))
    },

    // Gini coefficient of order-value concentration — the scalar
    // companion to m_pareto_8020's curve, computed EXACTLY from the
    // rank formulation G = (2*sum(rank*x) - (n+1)*sum(x)) / (n*sum(x))
    // over ascending cents. The global dense rank comes from
    // Mixing.assignContiguousIds (range-partition + per-partition
    // row_number + broadcast offsets), so no single-partition window
    // ever materializes — the same substrate f_equidepth_hist ranks on,
    // which is what makes an "ORDER BY the whole fact table" statistic
    // 100 TB-viable. The rank-weighted sums run in 128-bit integers on
    // both engines (DECIMAL(38,0) / HUGEINT): a BIGINT sum overflows at
    // 1.5M orders (Σ rank·cents ≈ 2×10^19 > 2^63); num/den present as
    // DOUBLE of the exact integers, and the float is one division.
    Op("m_gini",
       """WITH o AS (
         |  SELECT o_orderkey,
         |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |           AS cents
         |  FROM orders),
         |r AS (
         |  SELECT cents,
         |         CAST(row_number() OVER (ORDER BY cents, o_orderkey)
         |              AS BIGINT) AS rk
         |  FROM o)
         |SELECT CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(cents) AS BIGINT) AS total_cents,
         |       CAST(CAST(2 * sum(rk::HUGEINT * cents)
         |            - (count(*)::HUGEINT + 1) * sum(cents)
         |            AS VARCHAR) AS DOUBLE) AS gini_num,
         |       CAST(CAST(count(*)::HUGEINT * sum(cents) AS VARCHAR)
         |            AS DOUBLE) AS gini_den,
         |       CAST(CAST(2 * sum(rk::HUGEINT * cents)
         |            - (count(*)::HUGEINT + 1) * sum(cents) AS VARCHAR)
         |            AS DOUBLE)
         |       / CAST(CAST(count(*)::HUGEINT * sum(cents) AS VARCHAR)
         |              AS DOUBLE) AS gini
         |FROM r""".stripMargin) { (s, d) =>
      giniStats(Tables.orders(s, d)
        .select(col("o_orderkey").as("id"),
          (col("o_totalprice").cast(dec) * 100).cast("long").as("cents")))
    },

    // Ranking window: top-1 order per customer. Spark plans a single shuffle
    // on the partition key; the rank filter is applied streaming per group.
    Op("w1_rank_per_group",
       """SELECT o_custkey AS customer_id, o_orderkey AS order_id,
         |       o_totalprice AS total
         |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
         |             row_number() OVER (PARTITION BY o_custkey
         |               ORDER BY o_totalprice DESC, o_orderkey) AS rn
         |      FROM orders) WHERE rn = 1""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(
          col("o_custkey").as("customer_id"),
          col("o_orderkey").as("order_id"),
          col("o_totalprice").as("total"))
    },

    // Analytic window: running order count + running spend per customer.
    // The accumulator is exact decimal (order-independent across
    // partitionings/retries); the result is presented as DOUBLE — see the
    // Relational.scala numeric-determinism note (a DECIMAL output column
    // fails the oracle hash compare).
    Op("w2_running_total",
       """SELECT o_custkey AS customer_id, o_orderkey AS order_id,
         |       count(*) OVER w AS orders_so_far,
         |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
         |         AS spend_so_far
         |FROM orders
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d).select(
        col("o_custkey").as("customer_id"),
        col("o_orderkey").as("order_id"),
        count(lit(1)).over(w).as("orders_so_far"),
        sum(col("o_totalprice").cast(dec)).over(w).cast("double")
          .as("spend_so_far"))
    },

    // Lag/lead window: days between consecutive orders of a customer.
    Op("w3_lag_gap",
       """SELECT o_custkey AS customer_id, o_orderkey AS order_id,
         |       CAST(date_diff('day',
         |         lag(o_orderdate) OVER (PARTITION BY o_custkey
         |           ORDER BY o_orderdate, o_orderkey),
         |         o_orderdate) AS BIGINT) AS days_since_prev
         |FROM orders""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d).select(
        col("o_custkey").as("customer_id"),
        col("o_orderkey").as("order_id"),
        datediff(to_date(col("o_orderdate")),
                 to_date(lag(col("o_orderdate"), 1).over(w)))
          .cast("long").as("days_since_prev"))
    },

    // Range-framed window: spend within the trailing 30 days of each order
    // (RANGE frame keyed on a numeric day offset — the time-window analytic
    // a RANGE BETWEEN frame exists for).
    Op("w4_range_frame",
       """SELECT o_custkey AS customer_id, o_orderkey AS order_id,
         |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         |         PARTITION BY o_custkey ORDER BY epoch_day
         |         RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)
         |         AS spend_30d
         |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
         |             CAST(epoch(o_orderdate) AS BIGINT) // 86400
         |               AS epoch_day
         |      FROM orders)""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("epoch_day"))
        .rangeBetween(-30, Window.currentRow)
      Tables.orders(s, d)
        // integer `div`, NOT double-divide-then-cast: on intra-day
        // timestamps the double path TRUNCATES while DuckDB's
        // CAST(double AS BIGINT) rounds — rows land in different
        // 30-day frames (fuzz `extremes` caught the drift; the driver
        // corpus masks it because its dates are all midnight)
        .withColumn("epoch_day",
          expr("unix_timestamp(o_orderdate) div 86400"))
        .select(
          col("o_custkey").as("customer_id"),
          col("o_orderkey").as("order_id"),
          sum(col("o_totalprice").cast(dec)).over(w).cast("double")
            .as("spend_30d"))
    },

    // ntile + percent_rank: quantile bucketing of customers by balance
    // WITHIN their market segment. Keyed on purpose: an unpartitioned
    // window is a single-partition global sort — the one window shape that
    // cannot scale (global quantiles belong to approx_percentile instead).
    Op("w5_ntile",
       """SELECT c_custkey AS customer_id, c_mktsegment AS segment,
         |       ntile(4) OVER w AS quartile,
         |       percent_rank() OVER w AS pct_rank
         |FROM customer
         |WINDOW w AS (PARTITION BY c_mktsegment
         |             ORDER BY c_acctbal, c_custkey)""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      Tables.customer(s, d).select(
        col("c_custkey").as("customer_id"),
        col("c_mktsegment").as("segment"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"))
    },

    // first/last value over an ordered frame: each customer's cheapest and
    // priciest order ids.
    Op("w6_first_last",
       """SELECT DISTINCT o_custkey AS customer_id,
         |       first_value(o_orderkey) OVER w AS cheapest_order,
         |       last_value(o_orderkey) OVER w AS priciest_order
         |FROM orders
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d).select(
        col("o_custkey").as("customer_id"),
        first(col("o_orderkey")).over(w).as("cheapest_order"),
        last(col("o_orderkey")).over(w).as("priciest_order"))
        .distinct()
    },

    // Set op: EXCEPT (distinct) — segments' customers minus recent buyers.
    Op("set_except",
       """SELECT c_custkey AS customer_id FROM customer WHERE c_mktsegment = 'BUILDING'
         |EXCEPT
         |SELECT o_custkey AS customer_id FROM orders WHERE o_orderstatus = 'F'""".stripMargin) { (s, d) =>
      val building = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("customer_id"))
      val finished = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("customer_id"))
      building.except(finished)
    },

    // Set op: INTERSECT (distinct).
    Op("set_intersect",
       """SELECT c_custkey AS customer_id FROM customer WHERE c_mktsegment = 'BUILDING'
         |INTERSECT
         |SELECT o_custkey AS customer_id FROM orders WHERE o_orderstatus = 'F'""".stripMargin) { (s, d) =>
      val building = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("customer_id"))
      val finished = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("customer_id"))
      building.intersect(finished)
    },

    // Date functions: extract + truncate + group (the README's "date
    // dimension derived from order timestamp" lives downstream of the
    // reference in Power BI — reference: README.md:64 — so the engine provides
    // it natively).
    Op("f_date_parts",
       """SELECT CAST(extract(year FROM o_orderdate) AS INT) AS order_year,
         |       CAST(extract(month FROM o_orderdate) AS INT) AS order_month,
         |       count(*) AS n_orders,
         |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         |FROM orders GROUP BY 1, 2""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(
          year(col("o_orderdate")).as("order_year"),
          month(col("o_orderdate")).as("order_month"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec)).cast("double").as("revenue"))
    },

    // String functions: upper/substr/concat/length/trim.
    Op("f_string_funcs",
       """SELECT c_custkey AS customer_id,
         |       upper(c_name) AS name_upper,
         |       substr(c_name, 1, 8) AS name_prefix,
         |       c_mktsegment || '#' || c_name AS tagged,
         |       length(c_name) AS name_len
         |FROM customer""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select(
        col("c_custkey").as("customer_id"),
        graft.functions.GraftFunctions.icuUpper(col("c_name")).as("name_upper"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        concat(col("c_mktsegment"), lit("#"), col("c_name")).as("tagged"),
        length(col("c_name")).as("name_len"))
    },

    // CASE expression bucketing + conditional aggregation.
    Op("f_case_when",
       """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
         |            WHEN o_totalprice < 200000 THEN 'mid'
         |            ELSE 'large' END AS band,
         |       count(*) AS n,
         |       count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished
         |FROM orders GROUP BY 1""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(
          when(col("o_totalprice") < 50000, "small")
            .when(col("o_totalprice") < 200000, "mid")
            .otherwise("large").as("band"))
        .agg(
          count(lit(1)).as("n"),
          count(when(col("o_orderstatus") === "F", 1)).as("n_finished"))
    },

    // Distinct aggregate + multi-table join chain (customer -> nation ->
    // region), both dims broadcast: zero extra shuffles beyond the
    // aggregation's own.
    Op("f_distinct_agg",
       """SELECT r.r_name AS region_name,
         |       count(DISTINCT c.c_custkey) AS n_customers,
         |       count(*) AS n_rows
         |FROM customer c
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |GROUP BY r.r_name""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(r("r_name").as("region_name"))
        .agg(
          countDistinct(c("c_custkey")).as("n_customers"),
          count(lit(1)).as("n_rows"))
    },

    // Grouping sets via rollup: (year), (year,status), (grand total).
    Op("f_rollup",
       """SELECT CAST(extract(year FROM o_orderdate) AS INT) AS order_year,
         |       o_orderstatus AS status, count(*) AS n
         |FROM orders GROUP BY ROLLUP(1, 2)""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .rollup(
          year(col("o_orderdate")).as("order_year"),
          col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"))
    },

    // CUBE: all four grouping sets of (priority, status). Same single-pass
    // expand+aggregate physical shape as rollup — each input row fans out
    // to its grouping-set rows before the partial aggregate, so the
    // shuffle still carries pre-aggregated groups only.
    Op("f_cube",
       """SELECT o_orderpriority AS priority, o_orderstatus AS status,
         |       count(*) AS n
         |FROM orders GROUP BY CUBE(1, 2)""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderpriority").as("priority"),
          col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"))
    },

    // Explicit GROUPING SETS — the general form rollup/cube specialize:
    // here (status), (priority) with no cross or grand-total set, which
    // neither rollup nor cube can express.
    Op("f_grouping_sets",
       """SELECT o_orderpriority AS priority, o_orderstatus AS status,
         |       count(*) AS n
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      o.createOrReplaceTempView("gs_orders")
      o.sparkSession.sql(
        """SELECT o_orderpriority AS priority, o_orderstatus AS status,
          |       count(*) AS n
          |FROM gs_orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin)
    },

    // Cohort retention — the product-analytics staple: customers grouped
    // by first-purchase month, tracked by how many are still ordering k
    // months later. Three keyed aggregates and two equi-joins, all on the
    // cohort/customer keys — every stage partial-aggregates before its
    // shuffle, and the final cohort×offset matrix is tiny at any corpus
    // size. The retention ratio is ONE bigint/bigint division in double
    // (IEEE-exact both engines); cohort months stay timestamps until the
    // final 'yyyy-MM' format (DuckDB's date_trunc on a timestamp yields
    // a DATE whose varchar form drops the time part, so a plain string
    // cast would never match — format explicitly on both sides).
    Op("f_cohort_retention",
       """WITH m AS (
         |  SELECT o_custkey, date_trunc('month', o_orderdate) AS mon
         |  FROM orders),
         |firsts AS (
         |  SELECT o_custkey, min(mon) AS cohort FROM m GROUP BY 1),
         |active AS (SELECT DISTINCT o_custkey, mon FROM m),
         |counts AS (
         |  SELECT cohort,
         |         CAST((year(mon) - year(cohort)) * 12
         |              + (month(mon) - month(cohort)) AS INTEGER)
         |           AS month_offset,
         |         count(*) AS n_active
         |  FROM active JOIN firsts USING (o_custkey)
         |  GROUP BY 1, 2)
         |SELECT strftime(c.cohort, '%Y-%m') AS cohort_month, c.month_offset,
         |       c.n_active,
         |       CAST(c.n_active AS DOUBLE) / c0.n_active AS retention
         |FROM counts c
         |JOIN counts c0 ON c0.cohort = c.cohort AND c0.month_offset = 0""".stripMargin) { (s, d) =>
      val m = Tables.orders(s, d).select(col("o_custkey"),
        date_trunc("month", col("o_orderdate")).as("mon"))
      val firsts = m.groupBy("o_custkey").agg(min(col("mon")).as("cohort"))
      val counts = m.distinct().join(firsts, "o_custkey")
        .groupBy(col("cohort"),
          ((year(col("mon")) - year(col("cohort"))) * 12 +
            (month(col("mon")) - month(col("cohort")))).as("month_offset"))
        .agg(count(lit(1)).as("n_active"))
      val base = counts.filter(col("month_offset") === 0)
        .select(col("cohort"), col("n_active").as("n0"))
      counts.join(base, "cohort")
        .select(date_format(col("cohort"), "yyyy-MM").as("cohort_month"),
          col("month_offset"), col("n_active"),
          (col("n_active").cast("double") / col("n0")).as("retention"))
    },

    // RFM segmentation (Hughes 1994 — the canonical CRM scoring): per
    // customer recency/frequency/monetary, each quintile-scored 1-5 by
    // GLOBAL rank. Ranks come from Mixing.assignContiguousIds (three
    // range-partitioned passes over the customer-sized aggregate, no
    // global window), quintile = rank*5 div n + 1 — the f_equidepth_hist
    // integer arithmetic, so populations per score differ by at most one
    // and everything replays as row_number in the oracle. Monetary sums
    // in exact DECIMAL cents (a double sum is partition-order dependent
    // and would flip rank ties).
    Op("m_rfm_segments",
       """WITH base AS (
         |  SELECT o_custkey AS c_custkey, max(o_orderdate) AS recency,
         |         CAST(count(*) AS BIGINT) AS frequency,
         |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
         |              AS BIGINT) AS cents
         |  FROM orders GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM base),
         |r AS (
         |  SELECT base.*,
         |    row_number() OVER (ORDER BY recency, c_custkey) - 1 AS rr,
         |    row_number() OVER (ORDER BY frequency, c_custkey) - 1 AS fr,
         |    row_number() OVER (ORDER BY cents, c_custkey) - 1 AS mr
         |  FROM base)
         |SELECT c_custkey, recency, frequency,
         |       CAST(cents AS DOUBLE) / 100.0 AS monetary,
         |       CAST(rr * 5 // n + 1 AS INT) AS r_score,
         |       CAST(fr * 5 // n + 1 AS INT) AS f_score,
         |       CAST(mr * 5 // n + 1 AS INT) AS m_score,
         |       CAST(rr * 5 // n + 1 AS VARCHAR)
         |         || CAST(fr * 5 // n + 1 AS VARCHAR)
         |         || CAST(mr * 5 // n + 1 AS VARCHAR) AS rfm_cell
         |FROM r, nn""".stripMargin) { (s, d) =>
      val base = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("recency"),
          count(lit(1)).as("frequency"),
          expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100)" +
            " AS BIGINT)").as("cents"))
        .withColumnRenamed("o_custkey", "c_custkey")
      val n = base.agg(count(lit(1)).as("n"))
      def score(df: DataFrame, metric: String, out: String): DataFrame =
        graft.llm.Mixing.assignContiguousIds(df,
            struct(col(metric), col("c_custkey")))
          .withColumn(out, expr("CAST((seq_id * 5) div n + 1 AS INT)"))
          .drop("seq_id")
      val scored = score(score(score(
          base.crossJoin(broadcast(n)), // 1-row total attach
          "recency", "r_score"), "frequency", "f_score"), "cents", "m_score")
      scored.select(col("c_custkey"), col("recency"), col("frequency"),
        (col("cents").cast("double") / lit(100.0)).as("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score").cast("string"), col("f_score").cast("string"),
          col("m_score").cast("string")).as("rfm_cell"))
    },

    // CDC-style table diff: classify every key as added / removed /
    // changed between two versions of a table — the snapshot-delta
    // primitive behind incremental replication and audit tooling. One
    // full-outer join co-partitioned on the key; change detection
    // compares an md5 over the tracked columns so wide rows ship one
    // hash through the shuffle, not every column. The "new" version is
    // derived deterministically from orders (drop keys %97=0, flip
    // priority on %13=0, synthesize additions from %101=0) so the oracle
    // replays the mutation and the classification byte-for-byte.
    Op("cdc_table_diff",
       """WITH old AS (
         |  SELECT o_orderkey AS k,
         |         md5(concat_ws('|', o_orderstatus, o_orderpriority)) AS h
         |  FROM orders),
         |new AS (
         |  SELECT o_orderkey AS k,
         |         md5(concat_ws('|', o_orderstatus,
         |           CASE WHEN o_orderkey % 13 = 0 THEN 'X-RECLASSIFIED'
         |                ELSE o_orderpriority END)) AS h
         |  FROM orders WHERE o_orderkey % 97 <> 0
         |  UNION ALL
         |  SELECT o_orderkey + 10000000 AS k,
         |         md5(concat_ws('|', o_orderstatus, o_orderpriority)) AS h
         |  FROM orders WHERE o_orderkey % 101 = 0),
         |joined AS (
         |  SELECT coalesce(o.k, n.k) AS o_orderkey,
         |         CASE WHEN o.h IS NULL THEN 'added'
         |              WHEN n.h IS NULL THEN 'removed'
         |              WHEN o.h <> n.h THEN 'changed'
         |              ELSE 'unchanged' END AS change
         |  FROM old o FULL OUTER JOIN new n ON o.k = n.k)
         |SELECT o_orderkey, change FROM joined
         |WHERE change <> 'unchanged'""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
      val newVersion = orders
        .filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 13 === 0, lit("X-RECLASSIFIED"))
            .otherwise(col("o_orderpriority")))
        .unionByName(orders.filter(col("o_orderkey") % 101 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      tableDiff(orders, newVersion, "o_orderkey",
        Seq("o_orderstatus", "o_orderpriority"))
    },

    // Pareto frontier (skyline): parts where no other part is both cheaper
    // and larger — minimize retail price, maximize size. The naive form is
    // an all-pairs NOT EXISTS (the oracle replays it — affordable there);
    // the distributed form never compares pairs: a row survives iff its
    // size strictly exceeds the max size over all STRICTLY cheaper rows
    // and ties the max within its own price point. Price is exact cents
    // (decimal-domain) so "strictly cheaper" is integer comparison.
    Op("f_pareto_frontier",
       """WITH p AS (
         |  SELECT p_partkey,
         |         CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
         |           AS cents,
         |         CAST(p_size AS BIGINT) AS size
         |  FROM part)
         |SELECT p_partkey, cents, size FROM p a
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM p b
         |  WHERE b.cents <= a.cents AND b.size >= a.size
         |    AND (b.cents < a.cents OR b.size > a.size))""".stripMargin) {
      (s, d) =>
        skylineMinMax(
          Tables.part(s, d).select(col("p_partkey"),
            (col("p_retailprice").cast(DecimalType(12, 2)) * 100)
              .cast("long").as("cents"),
            col("p_size").cast("long").as("size")),
          "cents", "size")
    },

    // Top-3 parts per supplier by exact revenue — the general top-k-per-
    // group window (w1 is its k=1 special case): one shuffle keyed by
    // the group, rank filter applied streaming per sorted run.
    Op("w7_topk_per_group",
       """WITH rev AS (
         |  SELECT l_suppkey, l_partkey,
         |         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
         |              AS BIGINT) AS cents
         |  FROM lineitem GROUP BY 1, 2)
         |SELECT l_suppkey, l_partkey,
         |       CAST(cents AS DOUBLE) / 100.0 AS revenue, rk
         |FROM (
         |  SELECT l_suppkey, l_partkey, cents,
         |         CAST(row_number() OVER (PARTITION BY l_suppkey
         |           ORDER BY cents DESC, l_partkey) AS INTEGER) AS rk
         |  FROM rev) WHERE rk <= 3""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("cents").desc, col("l_partkey"))
      Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast(dec) * 100).cast("long")
          .as("cents"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("l_suppkey"), col("l_partkey"),
          (col("cents").cast("double") / 100.0).as("revenue"), col("rk"))
    },

    // Exact per-group mode with a deterministic tiebreak — the
    // categorical summary statistic (most frequent status per priority).
    Op("f_mode",
       """SELECT o_orderpriority, status_mode, n FROM (
         |  SELECT o_orderpriority, o_orderstatus AS status_mode,
         |         CAST(count(*) AS BIGINT) AS n,
         |         row_number() OVER (PARTITION BY o_orderpriority
         |           ORDER BY count(*) DESC, o_orderstatus) AS rn
         |  FROM orders GROUP BY 1, 2) WHERE rn = 1""".stripMargin) {
      (s, d) =>
        Tables.orders(s, d)
          .groupBy(col("o_orderpriority"),
            col("o_orderstatus").as("status_mode"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("o_orderpriority"))
              .orderBy(col("n").desc, col("status_mode"))))
          .filter(col("rn") === 1).drop("rn")
    },

    // 80/20 concentration: how many top customers cover 80% of revenue.
    // The revenue-desc running sum uses the range-partitioned prefix
    // pattern (skylineMinMax / assignContiguousIds family) — NO
    // single-partition global window: per-partition prefix sums + ranks,
    // cross-partition offsets broadcast from a <= #partitions-row
    // aggregate, the exchange materialized once. The 80% cut is the
    // integer cross-multiplication run*5 >= total*4.
    Op("m_pareto_8020",
       """WITH rev AS (
         |  SELECT o_custkey,
         |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
         |              AS BIGINT) AS cents
         |  FROM orders GROUP BY 1),
         |ranked AS (
         |  SELECT cents,
         |         CAST(sum(cents) OVER (ORDER BY cents DESC, o_custkey
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |              AS BIGINT) AS run,
         |         row_number() OVER (ORDER BY cents DESC, o_custkey) AS rk
         |  FROM rev),
         |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t,
         |               CAST(count(*) AS BIGINT) AS n FROM rev)
         |SELECT CAST(min(rk) AS BIGINT) AS n_top, n.n AS n_customers
         |FROM ranked, tot n WHERE run * 5 >= n.t * 4
         |GROUP BY n.n""".stripMargin) { (s, d) =>
      val rev = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(dec) * 100).cast("long")
          .as("cents"))
      val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
      val ranged = rev
        .repartitionByRange(parts, col("cents").desc, col("o_custkey"))
        .withColumn("__pid", spark_partition_id())
        .transform(graft.Ckpt.cut(_))
      val w = Window.partitionBy(col("__pid"))
        .orderBy(col("cents").desc, col("o_custkey"))
      val off = ranged.groupBy(col("__pid"))
        .agg(sum(col("cents")).as("ps"), count(lit(1)).as("pc"))
        .select(col("__pid"),
          coalesce(sum(col("ps")).over(Window.orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
            .as("off_s"),
          coalesce(sum(col("pc")).over(Window.orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
            .as("off_c"))
      val tot = rev.agg(sum(col("cents")).as("t"),
        count(lit(1)).as("n_customers"))
      ranged
        .withColumn("__run", sum(col("cents")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("__rk", row_number().over(w))
        .join(broadcast(off), "__pid")
        .crossJoin(broadcast(tot))
        .filter((col("__run") + col("off_s")) * 5 >= col("t") * 4)
        .groupBy(col("n_customers"))
        .agg(min(col("__rk") + col("off_c")).as("n_top"))
        .select(col("n_top"), col("n_customers"))
    },

    // Cohort LTV triangle: cumulative revenue per signup cohort (month
    // of first order) by months-of-age — the money companion to
    // f_cohort_retention's count triangle, and the payback-period input
    // finance reads. Month index is the integer year*12+month-1 (no date
    // arithmetic ambiguity); revenue stays in exact cents through the
    // running sum, one presentation division per cell. The cumulative
    // window runs over the bounded (cohort, age) cell table.
    Op("m_cohort_ltv",
       """WITH firsts AS (
         |  SELECT o_custkey,
         |         min((year(o_orderdate) * 12 + month(o_orderdate)) - 1)
         |           AS cohort
         |  FROM orders GROUP BY 1),
         |facts AS (
         |  SELECT f.cohort,
         |         ((year(o.o_orderdate) * 12 + month(o.o_orderdate)) - 1)
         |           - f.cohort AS age,
         |         CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
         |              AS BIGINT) AS cents
         |  FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey),
         |cells AS (
         |  SELECT cohort, age, CAST(sum(cents) AS BIGINT) AS rev
         |  FROM facts GROUP BY 1, 2)
         |SELECT cohort, age,
         |       CAST(rev AS DOUBLE) / 100.0 AS revenue,
         |       CAST(CAST(sum(rev) OVER (PARTITION BY cohort ORDER BY age
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |            AS BIGINT) AS DOUBLE) / 100.0 AS cum_revenue
         |FROM cells""".stripMargin) { (s, d) =>
      val monthIdx = (c: org.apache.spark.sql.Column) =>
        year(c) * 12 + month(c) - 1
      val orders = Tables.orders(s, d)
      val firsts = orders.groupBy(col("o_custkey"))
        .agg(min(monthIdx(col("o_orderdate"))).as("cohort"))
      val cells = orders.join(firsts, "o_custkey")
        .select(col("cohort"),
          (monthIdx(col("o_orderdate")) - col("cohort")).as("age"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("cents"))
        .groupBy(col("cohort"), col("age"))
        .agg(sum(col("cents")).as("rev"))
      val running = Window.partitionBy(col("cohort")).orderBy(col("age"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.select(col("cohort"), col("age"),
        (col("rev").cast("double") / 100.0).as("revenue"),
        (sum(col("rev")).over(running).cast("double") / 100.0)
          .as("cum_revenue"))
    },

    // RFM quintile segmentation (Hughes, "Strategic Database Marketing"
    // 1994 — the retail-standard customer scoring the reference's
    // e-commerce marts feed): every customer scored 1–5 on Recency
    // (days since last order, most recent = 5), Frequency (order
    // count) and Monetary (lifetime exact cents). Quintiles are SQL
    // ntile(5) REPLAYED DISTRIBUTIVELY: a global ntile window is a
    // single-partition sort, so each metric's global rank comes from
    // one assignContiguousIds pass (range exchange materialized once +
    // broadcast offsets) and the bucket is rebuilt from (rank, n) with
    // ntile's exact uneven-bucket rule — the first n mod 5 buckets
    // carry one extra row — in pure integer arithmetic against the
    // 1-row count attach. Ties break by custkey on both sides (the
    // assignContiguousIds total-order contract), so all three scores
    // hash-compare against DuckDB's ntile verbatim; R is 6 − q over
    // ascending staleness so 5 stays "best" for every letter.
    //
    // Scale shape: one keyed aggregate over orders, then three
    // rank passes + three keyed joins over the CUSTOMER-sized frame
    // (checkpointed once); the recency origin and row count are 1-row
    // keyless-aggregate attaches (audited in PlanAuditSpec).
    // One-way ANOVA on order value across the five priorities (Fisher's
    // F): does priority explain ANY of the spend variance? Row-level
    // squares go through DECIMAL(19,0)×DECIMAL(19,0) = DECIMAL(38,0) —
    // exact on both engines where BIGINT would overflow (Σ cents² ≈
    // 5e20 at sf0.1) — and each group's Q casts to double ONCE.
    // Between/within sums fold over the FIVE group rows in group order
    // (the coherence recipe: sort_array fold vs list_reduce ORDER BY),
    // so the float accumulation is pinned; F is the standard ratio of
    // mean squares in one fixed expression. Scale shape: one keyed
    // aggregate over orders + a 5-row fold — nothing else.
    Op("f_anova_oneway",
       """WITH c AS (
         |  SELECT o_orderpriority AS grp,
         |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |           AS cents
         |  FROM orders),
         |g AS (
         |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(cents) AS BIGINT) AS s,
         |         CAST(sum(CAST(cents AS DECIMAL(19,0))
         |                  * CAST(cents AS DECIMAL(19,0))) AS DOUBLE) AS q
         |  FROM c GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
         |             CAST(sum(s) AS BIGINT) AS st,
         |             CAST(count(*) AS BIGINT) AS k FROM g),
         |f AS (
         |  SELECT t.nt, t.k,
         |         list_reduce(list_prepend(0.0,
         |           list(CAST(g.s AS DOUBLE) * CAST(g.s AS DOUBLE)
         |                / CAST(g.n AS DOUBLE) ORDER BY g.grp)),
         |           (a, b) -> a + b)
         |           - CAST(t.st AS DOUBLE) * CAST(t.st AS DOUBLE)
         |             / CAST(t.nt AS DOUBLE) AS ssb,
         |         list_reduce(list_prepend(0.0,
         |           list(g.q - CAST(g.s AS DOUBLE) * CAST(g.s AS DOUBLE)
         |                / CAST(g.n AS DOUBLE) ORDER BY g.grp)),
         |           (a, b) -> a + b) AS ssw
         |  FROM g, t GROUP BY t.nt, t.k, t.st)
         |SELECT nt AS n_total, k, ssb, ssw,
         |       (ssb / CAST(k - 1 AS DOUBLE))
         |         / (ssw / CAST(nt - k AS DOUBLE)) AS f_stat
         |FROM f""".stripMargin) { (s, d) =>
      val dec19 = org.apache.spark.sql.types.DecimalType(19, 0)
      val c = Tables.orders(s, d).select(
        col("o_orderpriority").as("grp"),
        (col("o_totalprice").cast(dec) * 100).cast("long").as("cents"))
      val g = c.groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
          sum(col("cents").cast(dec19) * col("cents").cast(dec19))
            .cast("double").as("q"))
      val bg = col("s").cast("double") * col("s").cast("double") /
        col("n").cast("double")
      val folded = g.agg(
        sum(col("n")).as("nt"), sum(col("s")).as("st"),
        count(lit(1)).as("k"),
        aggregate(sort_array(collect_list(struct(col("grp"),
            bg.as("b")))), lit(0.0),
          (acc, x) => acc + x.getField("b")).as("sb"),
        aggregate(sort_array(collect_list(struct(col("grp"),
            (col("q") - bg).as("w")))), lit(0.0),
          (acc, x) => acc + x.getField("w")).as("ssw"))
      folded.select(col("nt").as("n_total"), col("k"),
          (col("sb") - col("st").cast("double") * col("st").cast("double")
            / col("nt").cast("double")).as("ssb"), col("ssw"))
        .select(col("n_total"), col("k"), col("ssb"), col("ssw"),
          ((col("ssb") / (col("k") - 1).cast("double")) /
            (col("ssw") / (col("n_total") - col("k")).cast("double")))
            .as("f_stat"))
    },

    // Tukey HSD post-hoc: after f_anova_oneway says "priorities differ",
    // WHICH pairs differ — the studentized-range q for all C(5,2) = 10
    // priority pairs, q_ij = |x̄_i − x̄_j| / sqrt(MSW/2 · (1/n_i + 1/n_j))
    // (compare against the q(k, N−k) table offline). Group means stay
    // exact integer fractions until one double division; MSW reuses the
    // ANOVA's pinned group-ordered fold; the pair fan-out is the 5-row
    // group table squared. Every double composes in one fixed
    // expression, so all 10 rows hash-compare.
    Op("f_tukey_hsd",
       """WITH c AS (
         |  SELECT o_orderpriority AS grp,
         |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |           AS cents
         |  FROM orders),
         |g AS (
         |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(cents) AS BIGINT) AS s,
         |         CAST(sum(CAST(cents AS DECIMAL(19,0))
         |                  * CAST(cents AS DECIMAL(19,0))) AS DOUBLE) AS q
         |  FROM c GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
         |             CAST(count(*) AS BIGINT) AS k FROM g),
         |msw AS (
         |  SELECT t.nt, t.k,
         |         list_reduce(list_prepend(0.0,
         |           list(g.q - CAST(g.s AS DOUBLE) * CAST(g.s AS DOUBLE)
         |                / CAST(g.n AS DOUBLE) ORDER BY g.grp)),
         |           (a, b) -> a + b)
         |           / CAST(t.nt - t.k AS DOUBLE) AS msw
         |  FROM g, t GROUP BY t.nt, t.k)
         |SELECT a.grp AS grp_a, b.grp AS grp_b,
         |       a.n AS n_a, b.n AS n_b,
         |       abs(CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
         |           - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))
         |         / sqrt(m.msw / 2.0 * (1.0 / CAST(a.n AS DOUBLE)
         |                               + 1.0 / CAST(b.n AS DOUBLE)))
         |         AS q_stat
         |FROM g a JOIN g b ON a.grp < b.grp, msw m""".stripMargin) {
      (s, d) =>
        val dec19 = org.apache.spark.sql.types.DecimalType(19, 0)
        val c = Tables.orders(s, d).select(
          col("o_orderpriority").as("grp"),
          (col("o_totalprice").cast(dec) * 100).cast("long").as("cents"))
        val g = c.groupBy(col("grp"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
            sum(col("cents").cast(dec19) * col("cents").cast(dec19))
              .cast("double").as("q"))
          .transform(graft.Ckpt.cut(_)) // 5 rows; feeds MSW AND both pair sides
        val msw = g.agg(sum(col("n")).as("nt"), count(lit(1)).as("k"),
            aggregate(sort_array(collect_list(struct(col("grp"),
                (col("q") - col("s").cast("double") *
                  col("s").cast("double") / col("n").cast("double"))
                  .as("w")))),
              lit(0.0), (acc, x) => acc + x.getField("w")).as("ssw"))
          .select((col("ssw") / (col("nt") - col("k")).cast("double"))
            .as("msw"))
        val a = g.select(col("grp").as("grp_a"), col("n").as("n_a"),
          col("s").as("s_a"))
        val b = g.select(col("grp").as("grp_b"), col("n").as("n_b"),
          col("s").as("s_b"))
        a.join(b, col("grp_a") < col("grp_b"))
          .crossJoin(broadcast(msw))
          .select(col("grp_a"), col("grp_b"), col("n_a"), col("n_b"),
            (abs(col("s_a").cast("double") / col("n_a").cast("double") -
              col("s_b").cast("double") / col("n_b").cast("double")) /
              sqrt(col("msw") / 2.0 * (lit(1.0) / col("n_a").cast("double")
                + lit(1.0) / col("n_b").cast("double")))).as("q_stat"))
    },

    // Sample-ratio mismatch (SRM) guardrail: the A/B experimenter's
    // first sanity check — do the variant sizes match the designed
    // 50/50 split? chi2 with 1 df reduces to (n0 − n1)²/(n0 + n1):
    // exact integer numerator, one double division. An SRM flag at
    // |z| > 3 (chi2 > 9) in pure integers via cross-multiplication.
    Op("e_ab_srm",
       """WITH u AS (
         |  SELECT user_id % 2 AS variant FROM events GROUP BY user_id),
         |w AS (
         |  SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n0,
         |         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n1
         |  FROM u)
         |SELECT n0, n1,
         |       CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
         |         / CAST(n0 + n1 AS DOUBLE) AS chi2,
         |       CAST((n0 - n1) * (n0 - n1) > 9 * (n0 + n1) AS INT)
         |         AS srm_flag
         |FROM w""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(col("user_id")).distinct()
        .select((col("user_id") % 2).as("variant"))
        .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"))
        .select(col("n0"), col("n1"),
          (((col("n0") - col("n1")) * (col("n0") - col("n1")))
            .cast("double") / (col("n0") + col("n1")).cast("double"))
            .as("chi2"),
          ((col("n0") - col("n1")) * (col("n0") - col("n1")) >
            lit(9L) * (col("n0") + col("n1"))).cast("int").as("srm_flag"))
    },

    // Brown-Forsythe / Levene test: is the spend VARIANCE homogeneous
    // across priorities — the assumption f_anova_oneway's F rests on,
    // shipped as its diagnostic. W = the one-way F computed on
    // |x − median_g| (the median-centered Brown-Forsythe form, robust
    // where mean-centered Levene is not). Group medians are exact
    // percentile_disc elements (the f_percentile_disc cross-engine
    // guarantee), deviations are exact BIGINT cents, and the F fold
    // reuses the f_anova_oneway recipe: DECIMAL(38) squares, one double
    // cast per group, group-ordered folds.
    Op("f_levene",
       """WITH c AS (
         |  SELECT o_orderpriority AS grp,
         |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |           AS cents
         |  FROM orders),
         |med AS (SELECT grp, quantile_disc(cents, 0.5) AS m
         |        FROM c GROUP BY 1),
         |z AS (SELECT c.grp, abs(c.cents - med.m) AS z
         |      FROM c JOIN med USING (grp)),
         |g AS (
         |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(z) AS BIGINT) AS s,
         |         CAST(sum(CAST(z AS DECIMAL(19,0))
         |                  * CAST(z AS DECIMAL(19,0))) AS DOUBLE) AS q
         |  FROM z GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
         |             CAST(sum(s) AS BIGINT) AS st,
         |             CAST(count(*) AS BIGINT) AS k FROM g),
         |f AS (
         |  SELECT t.nt, t.k,
         |         list_reduce(list_prepend(0.0,
         |           list(CAST(g.s AS DOUBLE) * CAST(g.s AS DOUBLE)
         |                / CAST(g.n AS DOUBLE) ORDER BY g.grp)),
         |           (a, b) -> a + b)
         |           - CAST(t.st AS DOUBLE) * CAST(t.st AS DOUBLE)
         |             / CAST(t.nt AS DOUBLE) AS ssb,
         |         list_reduce(list_prepend(0.0,
         |           list(g.q - CAST(g.s AS DOUBLE) * CAST(g.s AS DOUBLE)
         |                / CAST(g.n AS DOUBLE) ORDER BY g.grp)),
         |           (a, b) -> a + b) AS ssw
         |  FROM g, t GROUP BY t.nt, t.k, t.st)
         |SELECT nt AS n_total, k, ssb, ssw,
         |       (ssb / CAST(k - 1 AS DOUBLE))
         |         / (ssw / CAST(nt - k AS DOUBLE)) AS w_stat
         |FROM f""".stripMargin) { (s, d) =>
      val dec19 = org.apache.spark.sql.types.DecimalType(19, 0)
      val c = Tables.orders(s, d).select(
        col("o_orderpriority").as("grp"),
        (col("o_totalprice").cast(dec) * 100).cast("long").as("cents"))
      val med = c.groupBy(col("grp"))
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
          .as("m"))
      val z = c.join(broadcast(med), Seq("grp"))
        .select(col("grp"), abs(col("cents") - col("m")).as("z"))
      val g = z.groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), sum(col("z")).as("s"),
          sum(col("z").cast(dec19) * col("z").cast(dec19))
            .cast("double").as("q"))
      val bg = col("s").cast("double") * col("s").cast("double") /
        col("n").cast("double")
      val folded = g.agg(
        sum(col("n")).as("nt"), sum(col("s")).as("st"),
        count(lit(1)).as("k"),
        aggregate(sort_array(collect_list(struct(col("grp"),
            bg.as("b")))), lit(0.0),
          (acc, x) => acc + x.getField("b")).as("sb"),
        aggregate(sort_array(collect_list(struct(col("grp"),
            (col("q") - bg).as("w")))), lit(0.0),
          (acc, x) => acc + x.getField("w")).as("ssw"))
      folded.select(col("nt").as("n_total"), col("k"),
          (col("sb") - col("st").cast("double") * col("st").cast("double")
            / col("nt").cast("double")).as("ssb"), col("ssw"))
        .select(col("n_total"), col("k"), col("ssb"), col("ssw"),
          ((col("ssb") / (col("k") - 1).cast("double")) /
            (col("ssw") / (col("n_total") - col("k")).cast("double")))
            .as("w_stat"))
    },

    // Kruskal-Wallis H (the k-group Mann-Whitney; rank ANOVA): the
    // distribution-free companion to f_anova_oneway on the same
    // spend-by-priority question. Mid-ranks come from the DOUBLED-rank
    // prefix-sum substrate shared with profile_spearman (2·midrank is
    // an exact integer even at ties), so every per-group rank sum is a
    // BIGINT; H folds the five group terms in group order and applies
    // the exact-integer tie correction Σ(t³−t) — one double division
    // each, the whole row hash-compares. Scale: one value histogram +
    // prefix sums + a keyed join back, no global sort window.
    Op("f_kruskal_wallis",
       """WITH c AS (
         |  SELECT o_orderpriority AS grp,
         |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |           AS cents
         |  FROM orders),
         |h AS (SELECT cents, CAST(count(*) AS BIGINT) AS t
         |      FROM c GROUP BY 1),
         |k2 AS (SELECT cents, 2 * (CAST(sum(t) OVER (ORDER BY cents)
         |                          AS BIGINT) - t) + t + 1 AS r2
         |       FROM h),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
         |ties AS (SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tc FROM h),
         |g AS (
         |  SELECT grp, CAST(count(*) AS BIGINT) AS ng,
         |         CAST(sum(r2) AS BIGINT) AS rs2
         |  FROM c JOIN k2 USING (cents) GROUP BY 1),
         |agg AS (
         |  SELECT n, tc, CAST(count(*) AS BIGINT) AS k,
         |         list_reduce(list_prepend(0.0,
         |           list(CAST(rs2 AS DOUBLE) * CAST(rs2 AS DOUBLE)
         |                / (4.0 * CAST(ng AS DOUBLE)) ORDER BY grp)),
         |           (a, b) -> a + b) AS sr
         |  FROM g, nn, ties GROUP BY n, tc)
         |SELECT n AS n_total, k, tc AS tie_cubes,
         |       12.0 * sr / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
         |         - 3.0 * CAST(n + 1 AS DOUBLE) AS h_stat,
         |       (12.0 * sr / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
         |         - 3.0 * CAST(n + 1 AS DOUBLE))
         |         / (1.0 - CAST(tc AS DOUBLE)
         |                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
         |                     * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))
         |         AS h_corrected
         |FROM agg""".stripMargin) { (s, d) =>
      val c = Tables.orders(s, d).select(
        col("o_orderpriority").as("grp"),
        (col("o_totalprice").cast(dec) * 100).cast("long").as("cents"))
      val h = c.groupBy(col("cents")).agg(count(lit(1)).as("t"))
        .transform(graft.Ckpt.cut(_)) // feeds ranks AND the tie census
      val k2 = graft.llm.Mixing.prefixSums(h, col("cents"), Seq("t"))
        .select(col("cents"), (lit(2L) * (col("t_cum") - col("t")) +
          col("t") + 1L).as("r2"))
      val nn = c.agg(count(lit(1)).as("n"))
      val ties = h.agg(sum(col("t") * col("t") * col("t") - col("t"))
        .as("tc"))
      val g = c.join(k2, Seq("cents"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("ng"), sum(col("r2")).as("rs2"))
      val agg = g.agg(count(lit(1)).as("k"),
          aggregate(sort_array(collect_list(struct(col("grp"),
              (col("rs2").cast("double") * col("rs2").cast("double") /
                (lit(4.0) * col("ng").cast("double"))).as("b")))),
            lit(0.0), (acc, x) => acc + x.getField("b")).as("sr"))
        .crossJoin(broadcast(nn)).crossJoin(broadcast(ties))
      val hExpr = lit(12.0) * col("sr") /
        (col("n").cast("double") * (col("n") + 1).cast("double")) -
        lit(3.0) * (col("n") + 1).cast("double")
      agg.select(col("n").as("n_total"), col("k"),
        col("tc").as("tie_cubes"), hExpr.as("h_stat"),
        (hExpr / (lit(1.0) - col("tc").cast("double") /
          (col("n").cast("double") * col("n").cast("double") *
            col("n").cast("double") - col("n").cast("double"))))
          .as("h_corrected"))
    },

    // Customer SEGMENT MIGRATION: spend-quintile in the early half of
    // the calendar vs the late half, for customers active in both — the
    // 5x5 matrix a retention team reads ("how many of last period's top
    // quintile slid down"). The calendar split is the integer midpoint
    // of the order-date span (deterministic, data-derived); quintiles
    // use the same distributed contiguous-rank ntile as m_rfm_scores
    // (no single-partition global window), and the oracle replays
    // ntile(5) with the identical (cents, custkey) total order, which
    // m_rfm_scores already proves equivalent. All-integer output.
    Op("m_segment_migration",
       """WITH o AS (
         |  SELECT o_custkey AS custkey,
         |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |           AS cents,
         |         date_diff('day', DATE '1970-01-01',
         |                   CAST(o_orderdate AS DATE)) AS day
         |  FROM orders),
         |sp AS (SELECT (min(day) + max(day)) // 2 AS split FROM o),
         |e AS (SELECT custkey, CAST(sum(cents) AS BIGINT) AS cents
         |      FROM o, sp WHERE day <= split GROUP BY 1),
         |l AS (SELECT custkey, CAST(sum(cents) AS BIGINT) AS cents
         |      FROM o, sp WHERE day > split GROUP BY 1),
         |qe AS (SELECT custkey, CAST(ntile(5) OVER (ORDER BY cents,
         |         custkey) AS BIGINT) AS q_early FROM e),
         |ql AS (SELECT custkey, CAST(ntile(5) OVER (ORDER BY cents,
         |         custkey) AS BIGINT) AS q_late FROM l)
         |SELECT q_early, q_late, CAST(count(*) AS BIGINT) AS n_customers
         |FROM qe JOIN ql USING (custkey)
         |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d).select(
        col("o_custkey").as("custkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
          .cast("long").as("day"))
      val sp = o.agg(((min(col("day")) + max(col("day"))) / 2)
        .cast("long").as("split"))
      val halves = o.crossJoin(broadcast(sp))
        .transform(graft.Ckpt.cut(_)) // feeds both halves' aggregates
      def half(pred: org.apache.spark.sql.Column, qName: String) = {
        val agg = halves.filter(pred)
          .groupBy(col("custkey")).agg(sum(col("cents")).as("cents"))
        val n1 = agg.agg(count(lit(1)).as("n"))
        graft.llm.Mixing.assignContiguousIds(agg,
            struct(col("cents"), col("custkey")))
          .crossJoin(broadcast(n1))
          .select(col("custkey"), expr(
            """CAST(CASE
              |  WHEN seq_id + 1 <= (n % 5) * (n div 5 + 1)
              |  THEN seq_id div (n div 5 + 1) + 1
              |  ELSE (n % 5) + (seq_id - (n % 5) * (n div 5 + 1))
              |       div (n div 5) + 1
              |END AS BIGINT)""".stripMargin).as(qName))
      }
      val qe = half(col("day") <= col("split"), "q_early")
      val ql = half(col("day") > col("split"), "q_late")
      val out = qe.join(ql, Seq("custkey"))
        .groupBy(col("q_early"), col("q_late"))
        .agg(count(lit(1)).as("n_customers"))
        .transform(graft.Ckpt.cut(_))
      graft.Ckpt.release(halves)
      out
    },

    Op("m_rfm_scores",
       """WITH agg AS (
         |  SELECT o_custkey AS custkey,
         |         CAST(datediff('day', CAST(max(o_orderdate) AS DATE),
         |              (SELECT CAST(max(o_orderdate) AS DATE)
         |               FROM orders)) AS BIGINT) AS rec_days,
         |         CAST(count(*) AS BIGINT) AS n_orders,
         |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
         |              AS BIGINT) AS mon_cents
         |  FROM orders GROUP BY 1)
         |SELECT custkey, rec_days, n_orders, mon_cents,
         |       CAST(6 - ntile(5) OVER (ORDER BY rec_days, custkey)
         |            AS BIGINT) AS r_q,
         |       CAST(ntile(5) OVER (ORDER BY n_orders, custkey)
         |            AS BIGINT) AS f_q,
         |       CAST(ntile(5) OVER (ORDER BY mon_cents, custkey)
         |            AS BIGINT) AS m_q
         |FROM agg""".stripMargin) { (s, d) =>
      val maxd = Tables.orders(s, d)
        .agg(max(to_date(col("o_orderdate"))).as("d0"))
      val base = graft.Ckpt.cut(Tables.orders(s, d)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("last_d"),
          count(lit(1)).as("n_orders"),
          expr("""CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT)""").as("mon_cents"))
        .crossJoin(broadcast(maxd))
        .select(col("custkey"),
          datediff(col("d0"), col("last_d")).cast("long").as("rec_days"),
          col("n_orders"), col("mon_cents")))
      val n1 = base.agg(count(lit(1)).as("n"))
      // ntile(5) from the 0-based global rank r and total n: the first
      // n%5 buckets hold n div 5 + 1 rows (the ELSE divisor is only
      // reached when n div 5 > 0, so the integer div cannot see zero)
      def quint(metric: String): DataFrame =
        graft.llm.Mixing.assignContiguousIds(
            base.select(col("custkey"), col(metric)),
            struct(col(metric), col("custkey")))
          .crossJoin(broadcast(n1))
          .select(col("custkey"), expr(
            """CAST(CASE
              |  WHEN seq_id + 1 <= (n % 5) * (n div 5 + 1)
              |  THEN seq_id div (n div 5 + 1) + 1
              |  ELSE (n % 5) + (seq_id - (n % 5) * (n div 5 + 1))
              |       div (n div 5) + 1
              |END AS BIGINT)""".stripMargin).as(s"${metric}_q"))
      base
        .join(quint("rec_days")
          .select(col("custkey"), (lit(6L) - col("rec_days_q")).as("r_q")),
          "custkey")
        .join(quint("n_orders").withColumnRenamed("n_orders_q", "f_q"),
          "custkey")
        .join(quint("mon_cents").withColumnRenamed("mon_cents_q", "m_q"),
          "custkey")
    },

    // Repeat-purchase readout: the share of customers who ever order
    // twice and the EXACT (lower) median days between first and second
    // order — retention economics in two numbers, no approximate
    // percentile. First/second order dates come from one keyed window
    // (rn ≤ 2, ties broken by orderkey so both engines pick the same
    // second order); the median is an order statistic selected by
    // global rank over the customer-sized gap table via
    // assignContiguousIds — rank k = (n+1) div 2 under the total
    // (gap, custkey) order — never a single-partition percentile sort.
    // All BIGINTs; share in truncating ppm.
    Op("m_repeat_rate",
       """WITH ranked AS (
         |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         |         row_number() OVER (PARTITION BY o_custkey
         |                            ORDER BY o_orderdate, o_orderkey)
         |           AS rn
         |  FROM orders),
         |gaps AS (
         |  SELECT a.o_custkey,
         |         CAST(datediff('day', a.d, b.d) AS BIGINT) AS gap
         |  FROM ranked a JOIN ranked b
         |    ON a.o_custkey = b.o_custkey AND a.rn = 1 AND b.rn = 2),
         |c AS (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)
         |        AS n_customers FROM orders),
         |r AS (SELECT CAST(count(*) AS BIGINT) AS n_repeat FROM gaps),
         |med AS (
         |  SELECT gap AS median_gap_days FROM
         |    (SELECT gap,
         |            row_number() OVER (ORDER BY gap, o_custkey) AS k
         |     FROM gaps), r
         |  WHERE k = (r.n_repeat + 1) // 2)
         |SELECT c.n_customers, r.n_repeat,
         |       CAST(r.n_repeat * 1000000 // c.n_customers AS BIGINT)
         |         AS repeat_ppm,
         |       med.median_gap_days
         |FROM c, r, med""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val firstTwo = Tables.orders(s, d)
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 2)
      val gaps = firstTwo.groupBy(col("o_custkey"))
        .agg(datediff(max(when(col("rn") === 2, col("d"))),
          min(when(col("rn") === 1, col("d")))).cast("long").as("gap"))
        .filter(col("gap").isNotNull)
      val nc = Tables.orders(s, d)
        .agg(count_distinct(col("o_custkey")).as("n_customers"))
      val nr = gaps.agg(count(lit(1)).as("n_repeat"))
      val med = graft.llm.Mixing.assignContiguousIds(gaps,
          struct(col("gap"), col("o_custkey")))
        .crossJoin(broadcast(nr))
        .filter(col("seq_id") + 1 === expr("(n_repeat + 1) div 2"))
        .select(col("gap").as("median_gap_days"))
      nc.crossJoin(broadcast(nr))
        .withColumn("repeat_ppm",
          expr("CAST(n_repeat * 1000000 div n_customers AS BIGINT)"))
        .crossJoin(broadcast(med))
    },

    // Week-over-week revenue growth in integer parts-per-million — the
    // period-over-period readout every dashboard carries, kept exact:
    // weekly cents via the decimal domain, growth as (cur-prev)*1e6 div
    // prev. The first week (no predecessor) is excluded so the growth
    // column stays BIGINT on both engines. The weekly table is bounded
    // by the calendar, so the lag window over it is trivially cheap.
    Op("m_wow_growth",
       """WITH weekly AS (
         |  SELECT date_diff('day', DATE '1970-01-01',
         |           CAST(o_orderdate AS DATE)) // 7 AS wk,
         |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
         |              AS BIGINT) AS cents
         |  FROM orders GROUP BY 1)
         |SELECT wk, CAST(cents AS DOUBLE) / 100.0 AS revenue,
         |       growth_ppm
         |FROM (
         |  SELECT wk, cents,
         |         ((cents - lag(cents) OVER (ORDER BY wk)) * 1000000)
         |           // NULLIF(lag(cents) OVER (ORDER BY wk), 0)
         |           AS growth_ppm
         |  FROM weekly)
         |WHERE growth_ppm IS NOT NULL""".stripMargin) { (s, d) =>
      val weekly = Tables.orders(s, d)
        .groupBy(expr("unix_date(to_date(o_orderdate)) div 7").as("wk"))
        .agg(sum(col("o_totalprice").cast(dec) * 100).cast("long")
          .as("cents"))
      weekly
        // a zero-revenue predecessor week makes growth undefined: NULL
        // (dropped by the IS NOT NULL below), never an ANSI div-by-zero
        // job abort (fuzz `extremes` regime plants zero-price orders)
        .withColumn("growth_ppm",
          expr("((cents - lag(cents) OVER (ORDER BY wk)) * 1000000)" +
            " div nullif(lag(cents) OVER (ORDER BY wk), 0)"))
        .filter(col("growth_ppm").isNotNull)
        .select(col("wk"),
          (col("cents").cast("double") / 100.0).as("revenue"),
          col("growth_ppm"))
    },

    // Market-basket association rules over order contents: part pairs
    // co-ordered >= 2 times with support, confidence and lift. The pair
    // relation is a self-join keyed on the order — bounded by per-order
    // basket size (the per-key fanout is |basket|^2, never all-pairs
    // over the catalog); supports attach as a broadcast; confidence is
    // ONE exact division and lift one more over integer cross-products.
    Op("m_basket_rules",
       """WITH items AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
         |nn AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM items),
         |supp AS (SELECT p, CAST(count(*) AS BIGINT) AS s
         |         FROM items GROUP BY 1),
         |pairs AS (
         |  SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS sab
         |  FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT pa, pb, sab, sa.s AS sa, sb.s AS sb,
         |       CAST(sab AS DOUBLE) / CAST(sa.s AS DOUBLE) AS confidence,
         |       CAST(sab * n.n AS DOUBLE) / CAST(sa.s * sb.s AS DOUBLE)
         |         AS lift
         |FROM pairs JOIN supp sa ON sa.p = pa
         |JOIN supp sb ON sb.p = pb, nn n""".stripMargin) { (s, d) =>
      val items = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val nn = items.agg(count_distinct(col("ok")).as("n"))
      val supp = items.groupBy(col("p")).agg(count(lit(1)).as("s"))
      val a = items.select(col("ok"), col("p").as("pa"))
      val b = items.select(col("ok"), col("p").as("pb"))
      a.join(b, "ok").filter(col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("sab"))
        .filter(col("sab") >= 2)
        .join(broadcast(supp.select(col("p").as("pa"), col("s").as("sa"))),
          "pa")
        .join(broadcast(supp.select(col("p").as("pb"), col("s").as("sb"))),
          "pb")
        .crossJoin(broadcast(nn))
        .select(col("pa"), col("pb"), col("sab"), col("sa"), col("sb"),
          (col("sab").cast("double") / col("sa").cast("double"))
            .as("confidence"),
          ((col("sab") * col("n")).cast("double") /
            (col("sa") * col("sb")).cast("double")).as("lift"))
    }
  )

  /** Generic snapshot diff: (key, change) for every key whose tracked
    * columns differ between `old` and `neu` (change in {added, removed,
    * changed}; unchanged keys are dropped). Both sides reduce to
    * (key, md5) projections before the full-outer join, so the shuffle
    * carries two slim columns regardless of table width.
    */
  def tableDiff(old: DataFrame, neu: DataFrame, key: String,
                compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "compareCols must be non-empty")
    def hashed(df: DataFrame, h: String) = df.select(col(key),
      md5(concat_ws("|", compareCols.map(col): _*)).as(h))
    hashed(old, "h_old")
      .join(hashed(neu, "h_new"), Seq(key), "full_outer")
      .select(col(key),
        when(col("h_old").isNull, lit("added"))
          .when(col("h_new").isNull, lit("removed"))
          .when(col("h_old") =!= col("h_new"), lit("changed"))
          .otherwise(lit("unchanged")).as("change"))
      .filter(col("change") =!= "unchanged")
  }

  /** Two-dimensional skyline (minimize `minCol`, maximize `maxCol`)
    * WITHOUT the quadratic self-join and WITHOUT a single-partition global
    * window. A row is dominated iff some row has minCol strictly smaller
    * with maxCol >= its own, or minCol equal with maxCol strictly larger;
    * both conditions reduce to prefix maxima under the minCol ordering:
    *
    *   1. `repartitionByRange(minCol)` — partition p holds a contiguous
    *      value range; equal values never straddle partitions. Materialized
    *      ONCE (localCheckpoint) before the two derived subtrees, the
    *      assignContiguousIds lesson: a re-executed range exchange may
    *      sample different boundaries per subtree.
    *   2. Within-partition strict-prefix max via a range frame ending at
    *      -1 — rows with strictly smaller minCol only.
    *   3. Cross-partition carry: per-partition max (<= #partitions rows)
    *      -> running max over preceding partitions, broadcast back. The
    *      global sort the window form would need never happens.
    *
    * Survivors: maxCol > prefix max over strictly-cheaper rows (or no such
    * rows), and maxCol equal to the max at its own minCol point (ties on
    * both dimensions all survive — none strictly dominates another).
    */
  def skylineMinMax(df: DataFrame, minCol: String, maxCol: String,
                    numParts: Int = 0): DataFrame = {
    val parts = if (numParts > 0) numParts
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = df.repartitionByRange(parts, col(minCol))
      .withColumn("__pid", spark_partition_id())
      .transform(graft.Ckpt.cut(_))
    val byPrice = Window.partitionBy(col("__pid")).orderBy(col(minCol))
    val strictPrefix = byPrice.rangeBetween(Window.unboundedPreceding, -1)
    val inclPrefix = byPrice.rangeBetween(Window.unboundedPreceding, 0)
    val carry = ranged.groupBy(col("__pid"))
      .agg(max(col(maxCol)).as("__pmax"))
      .select(col("__pid"),
        max(col("__pmax")).over(Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)).as("__prev"))
    // Both frames share one (partition, order) spec -> a single WindowExec
    // pass. Survive iff maxCol beats every strictly-cheaper row's max AND
    // equals the inclusive prefix max (which, given the first condition,
    // is exactly the max at its own price point — ties all survive).
    ranged
      .withColumn("__local", max(col(maxCol)).over(strictPrefix))
      .withColumn("__incl", max(col(maxCol)).over(inclPrefix))
      .join(broadcast(carry), Seq("__pid"))
      .withColumn("__before", greatest(col("__local"), col("__prev")))
      .filter((col("__before").isNull || col(maxCol) > col("__before")) &&
        col(maxCol) === greatest(col("__incl"), col("__prev")))
      .drop("__pid", "__local", "__incl", "__prev", "__before")
  }

  /** Exact Gini statistics of `values` (columns: `id`, `cents`): one row
    * (n, total_cents, gini_num, gini_den, gini) via the distributed
    * contiguous rank (see the m_gini op above for protocol and scale
    * notes). Ties order by id, which cannot change the sum.
    *
    * Σ rank·cents brushes 2^63 already around sf1 (1.5M orders × 2×10^7
    * cents → ~2×10^19), so
    * the rank-weighted accumulation runs in DECIMAL(38,0) — exact to
    * 10^38, i.e. headroom past 10^12 rows — and num/den are PRESENTED as
    * DOUBLE (exact integers cast identically on both engines; a DECIMAL
    * output column would hash-mismatch the driver compare).
    */
  def giniStats(values: DataFrame): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val ranked = graft.llm.Mixing.assignContiguousIds(
      values, struct(col("cents"), col("id")))
    ranked.agg(count(lit(1)).as("n"), sum(col("cents")).as("t"),
        sum(((col("seq_id") + 1L).cast(d38) *
          col("cents").cast(d38)).cast(d38)).as("rs"))
      .withColumn("num", lit(2L).cast(d38) * col("rs") -
        (col("n") + 1L).cast(d38) * col("t").cast(d38))
      .withColumn("den", col("n").cast(d38) * col("t").cast(d38))
      .select(col("n"), col("t").as("total_cents"),
        col("num").cast("double").as("gini_num"),
        col("den").cast("double").as("gini_den"),
        (col("num").cast("double") / col("den").cast("double"))
          .as("gini"))
  }
}
