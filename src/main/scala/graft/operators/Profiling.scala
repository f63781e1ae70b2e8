package graft.operators

import graft.{Op, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column profiling — the data-quality summary a warehouse runs before
  * trusting a new feed (dbt-profiler / WhyLogs territory, absent from the
  * reference): per column, row count, null count, exact distinct count,
  * min/max, and mean rendered length.
  *
  * Plan shape: one COLUMN-PRUNED scan per profiled column, unioned — each
  * branch reads exactly one parquet column and runs a classic two-stage
  * aggregate (single-distinct plans without Expand), and the branches are
  * independent subtrees that schedule concurrently. Total bytes read
  * equal ONE scan of all profiled columns (columnar pruning), so this is
  * strictly cheaper than the tempting single-pass formulation: folding
  * every column into one aggregate row makes Spark plan the
  * multi-count-distinct as an Expand — every input row replicated once
  * per distinct column — which measured 5.1s vs 1.1s for this union form
  * at sf0.1. At 100 TB exact distincts are the dominant cost either way;
  * swap `countDistinct` for `approx_count_distinct` when the profile is
  * advisory — exactness is kept here because the DuckDB oracle
  * hash-compares the counts.
  *
  * Rendering rules (oracle parity, see FIXTURES.md float notes): integers,
  * strings, and timestamps cast to string identically in both engines;
  * DOUBLE columns never go straight to string (Spark prints 1.0E7 where
  * DuckDB prints 10000000.0) — they render through DECIMAL(18,2), whose
  * string form matches bit-for-bit. Mean length divides ONE exact bigint
  * sum by ONE exact count in double — a single IEEE division, safe to
  * hash (sum-of-double pitfalls never arise).
  */
object Profiling {

  /** The key-column inventory profile_inclusion_deps searches:
    * (display id, table, column). ONE list drives both the Spark plan
    * and the oracle SQL so the two can never disagree about scope.
    * Integer key columns only — IND discovery over value sets needs a
    * common comparable domain, and these are the columns a foreign-key
    * proposal would ever involve.
    */
  private val IndColumns: Seq[(String, String, String)] = Seq(
    ("customer.c_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey", "customer", "c_nationkey"),
    ("orders.o_custkey", "orders", "o_custkey"),
    ("orders.o_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ("part.p_partkey", "part", "p_partkey"),
    ("supplier.s_suppkey", "supplier", "s_suppkey"),
    ("supplier.s_nationkey", "supplier", "s_nationkey"),
    ("nation.n_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey", "nation", "n_regionkey"),
    ("region.r_regionkey", "region", "r_regionkey"))

  /** How a column renders to string for min_s / max_s / avg_len. */
  sealed trait Render { def apply(c: Column): Column; def sql(x: String): String }
  case object AsString extends Render {
    def apply(c: Column): Column = c.cast("string")
    def sql(x: String): String = s"CAST($x AS VARCHAR)"
  }
  case object Identity extends Render {
    def apply(c: Column): Column = c
    def sql(x: String): String = x
  }
  case object AsMoney extends Render {
    def apply(c: Column): Column = c.cast("decimal(18,2)").cast("string")
    def sql(x: String): String = s"CAST(CAST($x AS DECIMAL(18,2)) AS VARCHAR)"
  }

  /** (column_name, render) pairs for one profiled table. */
  def profile(df: DataFrame, fields: Seq[(String, Render)]): DataFrame =
    fields.map { case (f, r) =>
      val c = col(f)
      df.agg(
          count(lit(1)).as("__rows"),
          count(c).as("__n"),
          countDistinct(c).as("n_distinct"),
          r(min(c)).as("min_s"),
          r(max(c)).as("max_s"),
          sum(length(r(c))).as("__len"))
        .select(
          lit(f).as("col_name"),
          col("__rows").as("n_rows"),
          (col("__rows") - col("__n")).as("n_nulls"),
          col("n_distinct"),
          col("min_s"),
          col("max_s"),
          (col("__len").cast("double") / col("__n")).as("avg_len"))
    }.reduce(_ unionByName _)

  private def profileOracle(table: String,
                            fields: Seq[(String, Render)]): String =
    fields.map { case (c, r) =>
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  count(*) - count($c) AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct,
         |  ${r.sql(s"min($c)")} AS min_s, ${r.sql(s"max($c)")} AS max_s,
         |  CAST(sum(length(${r.sql(c)})) AS DOUBLE) / count($c) AS avg_len
         |FROM $table""".stripMargin
    }.mkString("\nUNION ALL\n")

  private val orderFields: Seq[(String, Render)] = Seq(
    "o_orderkey" -> AsString,
    "o_custkey" -> AsString,
    "o_orderstatus" -> Identity,
    "o_totalprice" -> AsMoney,
    "o_orderdate" -> AsString,
    "o_orderpriority" -> Identity)

  /** Acklam's rational approximation to the standard normal inverse CDF
    * (P.J. Acklam 2003, public algorithm; |relative error| < 1.15e-9).
    * Driver-side only: it mints the BH threshold LITERALS both engines
    * compare against — approximation error shifts the thresholds
    * identically on both sides, so engine agreement is exact even where
    * the approximation isn't.
    */
  private def invNorm(p: Double): Double = {
    require(p > 0.0 && p < 1.0, s"p in (0,1) required, got $p")
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01,
      -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val dd = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pLow = 0.02425
    if (p < pLow) {
      val q = math.sqrt(-2.0 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((dd(0) * q + dd(1)) * q + dd(2)) * q + dd(3)) * q + 1.0)
    } else if (p <= 1.0 - pLow) {
      val q = p - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1.0)
    } else {
      val q = math.sqrt(-2.0 * math.log(1.0 - p))
      -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((dd(0) * q + dd(1)) * q + dd(2)) * q + dd(3)) * q + 1.0)
    }
  }

  /** BH step-up thresholds in the z domain for m = 25 hypotheses at
    * α = 0.05: z*(k) = Φ⁻¹(1 − αk/(2m)). One Seq drives the Spark local
    * table AND the oracle VALUES list (Double.toString round-trips). */
  private val bhThresholds: Seq[(Long, Double)] =
    (1 to 25).map(k => (k.toLong, invNorm(1.0 - 0.05 * k / (2.0 * 25))))

  private val bhThresholdValues: String =
    // CAST each literal: DuckDB types a bare decimal literal DECIMAL,
    // whose double conversion can differ in the last ulp from the
    // round-tripped IEEE value Spark embeds
    bhThresholds.map { case (k, z) => s"($k, CAST($z AS DOUBLE))" }
      .mkString("SELECT * FROM (VALUES ", ", ", ") t(k, z_star)")

  val ops: Seq[Op] = Seq(entropyOp, corrMatrixOp) ++ Seq(
    Op("profile_columns", profileOracle("orders", orderFields)) { (s, d) =>
      profile(Tables.orders(s, d), orderFields)
    },

    // Equi-width value histogram for profiling dashboards — INTEGER-exact
    // binning: money goes to cents (exact decimal scale-up) before the
    // truncating bin division, so no row can ever straddle a float bin
    // edge and the oracle matches bit-for-bit. One partial+final
    // aggregate over a bounded bin space; bin edges reported back in
    // exact-decimal-to-double form.
    // Population-stability-index drift monitor — THE production metric
    // for "did this feed's distribution move": per histogram bin,
    // term_b = (p_b - q_b) * ln(p_b / q_b) with add-one smoothing over
    // the union of observed bins; drift = sum of terms. Here the two
    // populations are a deterministic split of orders (even/odd key) so
    // the oracle replays the whole computation: integer-cent binning
    // (f_histogram's trick), exact-division probabilities, the ln
    // QUANTIZED to 2^-30 fixed point (glibc ln is not correctly rounded
    // — the dsirWeights recipe), and the final per-bin term as plain
    // deterministic double arithmetic. Two keyed aggregates over a
    // bounded bin space + a 1-row totals attach — scales like any
    // profile query.
    Op("profile_drift_psi",
       """WITH binned AS (
         |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |           // 2000000 AS bin,
         |         o_orderkey % 2 = 0 AS in_a
         |  FROM orders),
         |counts AS (
         |  SELECT bin,
         |         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |         CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
         |  FROM binned GROUP BY 1),
         |tots AS (
         |  SELECT CAST(sum(ca) AS BIGINT) AS ta,
         |         CAST(sum(cb) AS BIGINT) AS tb,
         |         CAST(count(*) AS BIGINT) AS nb FROM counts)
         |SELECT bin,
         |       CAST(ca + 1 AS DOUBLE) / (ta + nb) AS p_a,
         |       CAST(cb + 1 AS DOUBLE) / (tb + nb) AS p_b,
         |       (CAST(ca + 1 AS DOUBLE) / (ta + nb)
         |        - CAST(cb + 1 AS DOUBLE) / (tb + nb))
         |       * (CAST(round(ln(CAST((ca + 1) * (tb + nb) AS DOUBLE) /
         |                        CAST((cb + 1) * (ta + nb) AS DOUBLE))
         |                     * 1073741824.0) AS BIGINT) / 1073741824.0)
         |         AS psi_term
         |FROM counts, tots""".stripMargin) { (s, d) =>
      val binned = Tables.orders(s, d)
        .select(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100" +
          " AS BIGINT) div 2000000").as("bin"),
          (col("o_orderkey") % 2 === 0).as("in_a"))
      val counts = binned.groupBy(col("bin"))
        .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("ca"),
          sum(when(col("in_a"), 0L).otherwise(1L)).as("cb"))
      val tots = counts.agg(sum(col("ca")).as("ta"),
        sum(col("cb")).as("tb"), count(lit(1)).as("nb"))
      val lamFx = round(graft.functions.GraftFunctions.ieeeLn(
          ((col("ca") + 1) * (col("tb") + col("nb"))).cast("double") /
            ((col("cb") + 1) * (col("ta") + col("nb"))).cast("double"))
          * lit(1073741824.0)).cast("long")
      counts.crossJoin(broadcast(tots)) // 1-row totals attach
        .select(col("bin"),
          ((col("ca") + 1).cast("double") / (col("ta") + col("nb")))
            .as("p_a"),
          ((col("cb") + 1).cast("double") / (col("tb") + col("nb")))
            .as("p_b"),
          (((col("ca") + 1).cast("double") / (col("ta") + col("nb")) -
            (col("cb") + 1).cast("double") / (col("tb") + col("nb"))) *
            (lamFx.cast("double") / lit(1073741824.0))).as("psi_term"))
    },

    // Mutual information between two categorical columns — the
    // dependency screen that catches what Pearson (profile_corr_matrix)
    // can't: nonlinear/categorical association, in nats. Each cell's
    // pointwise log-ratio ln(n_ij*N / (n_i*n_j)) goes through ieee_ln
    // and is quantized to 2^-30 fixed point (the PSI/dsirWeights
    // protocol), so MI*N*2^30 = sum n_ij*lam_fx is an exact BIGINT on
    // both engines and the nats value is two pinned divisions.
    //
    // Scale shape: one keyed agg to the |A|x|B|-bounded cell table,
    // margins as two tiny aggs joined back broadcast, map-side terms —
    // the raw table is scanned once.
    Op("profile_mutual_info",
       """WITH cells AS (
         |  SELECT o_orderpriority AS p, o_orderstatus AS st,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM orders GROUP BY 1, 2),
         |rm AS (SELECT p, CAST(sum(n) AS BIGINT) AS np FROM cells GROUP BY 1),
         |cm AS (SELECT st, CAST(sum(n) AS BIGINT) AS ns FROM cells GROUP BY 1),
         |tt AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cells),
         |terms AS (
         |  SELECT n,
         |         CAST(round(ln(CAST(n * nt AS DOUBLE)
         |                       / CAST(np * ns AS DOUBLE))
         |                    * 1073741824.0) AS BIGINT) AS lam
         |  FROM cells JOIN rm USING (p) JOIN cm USING (st), tt)
         |SELECT tt.nt AS n_total,
         |       CAST(sum(n * lam) AS BIGINT) AS mi_scaled,
         |       CAST(sum(n * lam) AS DOUBLE) / CAST(tt.nt AS DOUBLE)
         |         / 1073741824.0 AS mi_nats
         |FROM terms, tt GROUP BY tt.nt""".stripMargin) { (s, d) =>
      val cells = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("p"),
          col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("n"))
      val rm = cells.groupBy(col("p")).agg(sum(col("n")).as("np"))
      val cm = cells.groupBy(col("st")).agg(sum(col("n")).as("ns"))
      val tt = cells.agg(sum(col("n")).as("nt"))
      val lam = round(graft.functions.GraftFunctions.ieeeLn(
          (col("n") * col("nt")).cast("double") /
            (col("np") * col("ns")).cast("double")) * lit(1073741824.0))
        .cast("long")
      cells.join(broadcast(rm), Seq("p"))
        .join(broadcast(cm), Seq("st"))
        .crossJoin(broadcast(tt))
        .select(col("n"), col("nt"), lam.as("lam"))
        .groupBy(col("nt"))
        .agg(sum(col("n") * col("lam")).as("mi_scaled"))
        .select(col("nt").as("n_total"), col("mi_scaled"),
          (col("mi_scaled").cast("double") / col("nt").cast("double") /
            lit(1073741824.0)).as("mi_nats"))
    },

    // Functional-dependency profiling (Papenbrock et al., VLDB'15
    // territory): for pinned candidate FDs lhs→rhs, the distinct-lhs
    // census, how many lhs groups see >1 rhs (violations), and the g3'
    // support — the fraction of rows kept by the best row-removal repair
    // (sum of each group's majority-rhs count over total rows). All
    // integers plus ONE exact division. Plan per FD: one (lhs, rhs)
    // keyed aggregate then one lhs-keyed aggregate, branches scheduled
    // concurrently — the profile shape that discovers "orderkey does NOT
    // determine suppkey" before a dedup or merge keys on it.
    Op("profile_fd", {
      def fdSql(name: String, table: String, lhs: String, rhs: String) =
        s"""SELECT '$name' AS fd,
           |       CAST(count(*) AS BIGINT) AS n_lhs,
           |       CAST(count(*) FILTER (WHERE nrhs > 1) AS BIGINT)
           |         AS n_violating,
           |       CAST(sum(maxc) AS BIGINT) AS kept_rows,
           |       CAST(sum(rows) AS BIGINT) AS n_rows,
           |       CAST(sum(maxc) AS DOUBLE) / CAST(sum(rows) AS DOUBLE)
           |         AS support
           |FROM (
           |  SELECT count(*) AS nrhs, max(c) AS maxc, sum(c) AS rows
           |  FROM (SELECT $lhs, $rhs, count(*) AS c FROM $table
           |        GROUP BY 1, 2)
           |  GROUP BY $lhs)""".stripMargin
      Seq(fdSql("orderkey->suppkey", "lineitem", "l_orderkey", "l_suppkey"),
        fdSql("partkey->returnflag", "lineitem", "l_partkey",
          "l_returnflag"),
        fdSql("custkey->nationkey", "customer", "c_custkey", "c_nationkey"),
        fdSql("nationkey->regionkey", "nation", "n_nationkey",
          "n_regionkey")).mkString("\nUNION ALL\n")
    }) { (s, d) =>
      def fd(name: String, df: DataFrame, lhs: String,
             rhs: String): DataFrame =
        df.groupBy(col(lhs), col(rhs)).agg(count(lit(1)).as("c"))
          .groupBy(col(lhs))
          .agg(count(lit(1)).as("nrhs"), max(col("c")).as("maxc"),
            sum(col("c")).as("rows"))
          .agg(count(lit(1)).as("n_lhs"),
            count(when(col("nrhs") > 1, 1)).as("n_violating"),
            sum(col("maxc")).as("kept_rows"),
            sum(col("rows")).as("n_rows"))
          .select(lit(name).as("fd"), col("n_lhs"), col("n_violating"),
            col("kept_rows"), col("n_rows"),
            (col("kept_rows").cast("double") /
              col("n_rows").cast("double")).as("support"))
      fd("orderkey->suppkey", Tables.lineitem(s, d), "l_orderkey",
          "l_suppkey")
        .unionByName(fd("partkey->returnflag", Tables.lineitem(s, d),
          "l_partkey", "l_returnflag"))
        .unionByName(fd("custkey->nationkey", Tables.customer(s, d),
          "c_custkey", "c_nationkey"))
        .unionByName(fd("nationkey->regionkey", Tables.nation(s, d),
          "n_nationkey", "n_regionkey"))
    },

    // Equi-depth (equal-frequency) histogram — the OTHER profiling
    // histogram: bucket boundaries follow the data's quantiles instead
    // of a fixed grid, so skewed distributions get resolution where the
    // mass is. EXACT and integer-ranked: values go to cents (BIGINT),
    // ranks come from Mixing.assignContiguousIds (range-partition +
    // per-partition row_number + broadcast offsets — NO global window),
    // bucket = seq*k div n, so bucket populations differ by at most 1
    // and the whole thing replays as row_number in the oracle. The only
    // corpus-wide movement is the range repartition; the rank join is a
    // broadcast of #partitions rows.
    Op("f_equidepth_hist",
       """WITH cents AS (
         |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
         |         o_orderkey AS k
         |  FROM orders),
         |nn AS (SELECT count(*) AS n FROM cents),
         |ranked AS (
         |  SELECT c, (row_number() OVER (ORDER BY c, k) - 1) AS seq
         |  FROM cents)
         |SELECT CAST(seq * 8 // n AS INTEGER) AS bucket,
         |       count(*) AS n_rows,
         |       CAST(min(c) AS DOUBLE) / 100.0 AS lo,
         |       CAST(max(c) AS DOUBLE) / 100.0 AS hi
         |FROM ranked, nn
         |GROUP BY 1""".stripMargin) { (s, d) =>
      val buckets = 8
      val cents = Tables.orders(s, d).select(
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("c"),
        col("o_orderkey").as("k"))
      val n = cents.agg(count(lit(1)).as("n"))
      graft.llm.Mixing.assignContiguousIds(cents,
          struct(col("c"), col("k")))
        .crossJoin(broadcast(n)) // 1-row total attach
        .select(col("c"),
          expr(s"CAST((seq_id * $buckets) div n AS INT)").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          (min(col("c")).cast("double") / lit(100.0)).as("lo"),
          (max(col("c")).cast("double") / lit(100.0)).as("hi"))
    },

    Op("f_histogram",
       """SELECT bin,
         |       CAST(bin * 1000 AS DOUBLE) AS bin_lo,
         |       CAST((bin + 1) * 1000 AS DOUBLE) AS bin_hi,
         |       count(*) AS n
         |FROM (
         |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |         // 100000 AS bin
         |  FROM orders)
         |GROUP BY 1""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        // `div`, not `/`: Spark's Divide on integers is DOUBLE division
        .select(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100" +
          " AS BIGINT) div 100000").as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"))
        .select(col("bin"),
          (col("bin") * 1000).cast("double").as("bin_lo"),
          ((col("bin") + 1) * 1000).cast("double").as("bin_hi"),
          col("n"))
    },

    // Benford first-digit profile of order totals — the forensic
    // data-quality screen (fabricated or truncated numeric feeds skew
    // the leading-digit distribution). The digit comes from the EXACT
    // decimal rendering (double formatting differs across engines;
    // DECIMAL(12,2) strings match bit-for-bit), the share is one exact
    // integer division per digit. Map-side project + 9-group aggregate;
    // TPC-H totalprice is range-bounded, so its profile visibly deviates
    // from Benford — which is the point of the screen.
    Op("f_benford",
       """WITH d AS (
         |  SELECT regexp_extract(
         |           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR),
         |           '[1-9]') AS digit
         |  FROM orders)
         |SELECT digit, count(*) AS n,
         |       CAST(count(*) AS DOUBLE) /
         |         CAST(sum(count(*)) OVER () AS BIGINT) AS share
         |FROM d GROUP BY 1""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select(regexp_extract(
          col("o_totalprice").cast("decimal(12,2)").cast("string"),
          "[1-9]", 0).as("digit"))
        .groupBy(col("digit"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share", col("n").cast("double") /
          sum(col("n")).over(org.apache.spark.sql.expressions.Window
            .partitionBy()))
    },

    // Chi-square independence screen over the (lang, source) contingency
    // table: per-cell observed count and chi-square term, computed as
    // (O*N - rt*ct)^2 / (N*rt*ct) — integer numerator and denominator,
    // ONE double division per cell, so the statistic replays exactly.
    // The contingency table is bounded (|langs| x |sources|); the two
    // margins and N are tiny aggregates hinted broadcast back onto it
    // (DuckDB reads the hint as a comment).
    Op.sql("f_chi_square",
       """WITH o AS (
         |  SELECT lang, source, count(*) AS o
         |  FROM documents GROUP BY 1, 2),
         |rt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rt FROM o GROUP BY 1),
         |ct AS (SELECT source, CAST(sum(o) AS BIGINT) AS ct FROM o GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
         |SELECT /*+ BROADCAST(rt, ct, n) */ o.lang, o.source, o.o,
         |       CAST((o.o * n.n - rt.rt * ct.ct)
         |            * (o.o * n.n - rt.rt * ct.ct) AS DOUBLE)
         |         / CAST(n.n * rt.rt * ct.ct AS DOUBLE) AS chi_term
         |FROM o JOIN rt USING (lang) JOIN ct USING (source), nn n""".stripMargin),

    // Cramér's V (Cramér 1946): the [0,1] effect-size normalization of
    // f_chi_square's statistic — V = sqrt(χ² / (N·min(r−1, c−1))) —
    // the number that makes two contingency tables comparable. Two
    // hash-compare subtleties: each cell's deviation is squared IN THE
    // DOUBLE DOMAIN (dev ≤ ~2^53 is exact as a double; its BIGINT
    // square can overflow at scale, and IEEE multiplication rounds
    // identically everywhere), and χ² is the SEQUENTIAL fold of cell
    // terms in pinned (lang, source) order — sort_array + aggregate
    // here, list_reduce over an ordered list in the oracle — because a
    // parallel double sum is partitioning-dependent. The cell table is
    // |langs|×|sources|, so the fold list is bounded, not corpus-sized.
    Op("f_cramers_v",
       """WITH o AS (
         |  SELECT lang, source, count(*) AS o
         |  FROM documents GROUP BY 1, 2),
         |rt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rt FROM o GROUP BY 1),
         |ct AS (SELECT source, CAST(sum(o) AS BIGINT) AS ct FROM o GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |cells AS (
         |  SELECT o.lang, o.source,
         |         CAST(o.o * n.n - rt.rt * ct.ct AS DOUBLE)
         |           * CAST(o.o * n.n - rt.rt * ct.ct AS DOUBLE)
         |           / CAST(n.n * rt.rt * ct.ct AS DOUBLE) AS term
         |  FROM o JOIN rt USING (lang) JOIN ct USING (source), nn n),
         |s AS (
         |  SELECT CAST(count(DISTINCT lang) AS BIGINT) AS r,
         |         CAST(count(DISTINCT source) AS BIGINT) AS c,
         |         list_reduce(list_prepend(0.0,
         |           list(term ORDER BY lang, source)),
         |           (a, b) -> a + b) AS chi2
         |  FROM cells)
         |SELECT s.r, s.c, n.n, s.chi2,
         |       sqrt(s.chi2 / CAST(n.n * least(s.r - 1, s.c - 1)
         |                          AS DOUBLE)) AS v
         |FROM s, nn n""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val o = docs.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("o"))
      val rt = o.groupBy(col("lang")).agg(sum(col("o")).as("rt"))
      val ct = o.groupBy(col("source")).agg(sum(col("o")).as("ct"))
      val nn = docs.agg(count(lit(1)).as("n"))
      val dev = (col("o") * col("n") - col("rt") * col("ct"))
        .cast("double")
      val cells = o.join(broadcast(rt), "lang")
        .join(broadcast(ct), "source")
        .crossJoin(broadcast(nn))
        .select(col("lang"), col("source"), col("n"),
          (dev * dev /
            (col("n") * col("rt") * col("ct")).cast("double")).as("term"))
      cells.agg(
          count_distinct(col("lang")).as("r"),
          count_distinct(col("source")).as("c"),
          max(col("n")).as("n"),
          expr("""aggregate(sort_array(collect_list(
                    struct(lang, source, term))),
                  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term)""")
            .as("chi2"))
        .select(col("r"), col("c"), col("n"), col("chi2"),
          sqrt(col("chi2") /
            (col("n") * least(col("r") - 1, col("c") - 1)).cast("double"))
            .as("v"))
    },

    // Benford first-digit audit (Newcomb 1881; Benford 1938; the
    // Nigrini forensic-accounting screen): the leading significant
    // digit of genuine transaction amounts follows log10(1 + 1/d), and
    // a book-cooked ledger doesn't. The digit comes from exact cents
    // (leading significant digit is invariant under the ×100 shift), so
    // the whole test is integer: per-digit counts, observed share in
    // truncating ppm against the 1-row total attach, and the χ²-style
    // ROC AUC of the value score against the purchase label — THE
    // standard classifier-eval metric, in the tie-corrected rank form
    // AUC = (Σ2·avgrank_pos − n₊(n₊+1)) / (2·n₊·n₋). Ranks come from
    // prefix sums over the GROUPED score domain (one aggregate, then a
    // window over |distinct scores| rows — bounded by the cents domain,
    // never the row count), 2·avgrank = 2·cum_n − n + 1 stays integer,
    // sums are 128-bit (rank sums square the row count), ONE division
    // with the DuckDB side routed through VARCHAR.
    Op("f_auc_roc",
       """WITH e AS (
         |  SELECT CAST(round(value * 100) AS BIGINT) AS score,
         |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
         |           AS pos
         |  FROM events),
         |g AS (
         |  SELECT score, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(pos) AS BIGINT) AS npos
         |  FROM e GROUP BY 1),
         |r AS (
         |  SELECT score, n, npos,
         |         CAST(sum(n) OVER (ORDER BY score
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum_n
         |  FROM g),
         |agg AS (
         |  SELECT sum(CAST(npos AS HUGEINT) * (2 * cum_n - n + 1)) AS s2,
         |         CAST(sum(npos) AS BIGINT) AS n_pos,
         |         CAST(sum(n - npos) AS BIGINT) AS n_neg
         |  FROM r)
         |SELECT n_pos, n_neg,
         |  CAST(CAST(s2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS VARCHAR)
         |       AS DOUBLE)
         |    / CAST(CAST(2 * CAST(n_pos AS HUGEINT) * n_neg AS VARCHAR)
         |           AS DOUBLE) AS auc
         |FROM agg WHERE n_pos > 0 AND n_neg > 0""".stripMargin) { (s, d) =>
      val d38 = org.apache.spark.sql.types.DataTypes
        .createDecimalType(38, 0)
      val e = Tables.events(s, d).select(
        round(col("value") * 100).cast("long").as("score"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      val g = e.groupBy("score")
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("npos"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("score")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)
      val r = g.withColumn("cum_n", sum(col("n")).over(w))
      r.agg(
        sum(col("npos").cast(d38) *
          (lit(2L) * col("cum_n") - col("n") + 1)).as("s2"),
        sum(col("npos")).as("n_pos"),
        sum(col("n") - col("npos")).as("n_neg"))
        .where(col("n_pos") > 0 && col("n_neg") > 0)
        .select(col("n_pos"), col("n_neg"),
          ((col("s2") - col("n_pos").cast(d38) * (col("n_pos") + 1))
            .cast("double") /
            (lit(2L).cast(d38) * col("n_pos") * col("n_neg"))
              .cast("double")).as("auc"))
    },

    // McNemar's paired-binary test over per-user outcome flags (clicked
    // vs purchased): the 2×2 discordant-cell statistic (b−c)²/(b+c).
    // Two hash aggregates, exact integers, ONE double division.
    Op.sql("f_mcnemar_test",
       """WITH u AS (
         |  SELECT user_id,
         |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS r1,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS r2
         |  FROM events GROUP BY 1),
         |cnt AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_users,
         |    CAST(sum(CASE WHEN r1 = 1 AND r2 = 1 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_both,
         |    CAST(sum(CASE WHEN r1 = 1 AND r2 = 0 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_click_only,
         |    CAST(sum(CASE WHEN r1 = 0 AND r2 = 1 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_purchase_only,
         |    CAST(sum(CASE WHEN r1 = 0 AND r2 = 0 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_neither
         |  FROM u)
         |SELECT n_users, n_both, n_click_only, n_purchase_only, n_neither,
         |  CASE WHEN n_click_only + n_purchase_only > 0 THEN
         |    CAST((n_click_only - n_purchase_only)
         |         * (n_click_only - n_purchase_only) AS DOUBLE)
         |      / CAST(n_click_only + n_purchase_only AS DOUBLE)
         |  END AS mcnemar_chi2
         |FROM cnt""".stripMargin),

    // Cohen's kappa between two deterministic "raters" (high-value flag
    // vs conversion-type flag) in the EXACT integer rearrangement
    // κ = (po·n − pe) / (n² − pe) with 128-bit products (n² brushes
    // BIGINT at row counts a 100 TB table reaches) and ONE division —
    // the DuckDB side routed through VARCHAR (hugeint→double
    // double-rounds; strtod is correctly rounded).
    Op("f_cohen_kappa",
       """WITH u AS (
         |  SELECT CASE WHEN value >= 50.0e0 THEN 1 ELSE 0 END AS a,
         |         CASE WHEN event_type IN ('purchase', 'signup')
         |              THEN 1 ELSE 0 END AS b
         |  FROM events),
         |cnt AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n11,
         |    CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n00,
         |    CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n10,
         |    CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n01
         |  FROM u),
         |k AS (
         |  SELECT n, n11, n00, n10, n01,
         |    CAST(n11 + n00 AS HUGEINT) * n AS po_n,
         |    CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
         |      + CAST(n00 + n01 AS HUGEINT) * (n00 + n10) AS pe_n,
         |    CAST(n AS HUGEINT) * n AS n2
         |  FROM cnt)
         |SELECT n, n11, n00, n10, n01,
         |  CASE WHEN n2 <> pe_n THEN
         |    CAST(CAST(po_n - pe_n AS VARCHAR) AS DOUBLE)
         |      / CAST(CAST(n2 - pe_n AS VARCHAR) AS DOUBLE)
         |  END AS kappa
         |FROM k""".stripMargin) { (s, d) =>
      val d38 = org.apache.spark.sql.types.DataTypes
        .createDecimalType(38, 0)
      val u = Tables.events(s, d).select(
        when(col("value") >= 50.0, 1).otherwise(0).as("a"),
        when(col("event_type").isin("purchase", "signup"), 1)
          .otherwise(0).as("b"))
      u.agg(
        count(lit(1)).as("n"),
        sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L))
          .as("n11"),
        sum(when(col("a") === 0 && col("b") === 0, 1L).otherwise(0L))
          .as("n00"),
        sum(when(col("a") === 1 && col("b") === 0, 1L).otherwise(0L))
          .as("n10"),
        sum(when(col("a") === 0 && col("b") === 1, 1L).otherwise(0L))
          .as("n01"))
        .withColumn("po_n",
          (col("n11") + col("n00")).cast(d38) * col("n"))
        .withColumn("pe_n",
          (col("n11") + col("n10")).cast(d38) * (col("n11") + col("n01"))
            + (col("n00") + col("n01")).cast(d38) *
              (col("n00") + col("n10")))
        .withColumn("n2", col("n").cast(d38) * col("n"))
        .select(col("n"), col("n11"), col("n00"), col("n10"), col("n01"),
          when(col("n2") =!= col("pe_n"),
            (col("po_n") - col("pe_n")).cast("double") /
              (col("n2") - col("pe_n")).cast("double")).as("kappa"))
    },

    // Benford first-digit audit (Newcomb 1881; Benford 1938; the
    // Nigrini forensic-accounting screen): the leading significant
    // digit of genuine transaction amounts follows log10(1 + 1/d), and
    // a book-cooked ledger doesn't. The digit comes from exact cents
    // (leading significant digit is invariant under the ×100 shift), so
    // the whole test is integer: per-digit counts, observed share in
    // truncating ppm against the 1-row total attach, and the χ²-style
    // deviation term (obs−exp)² div exp in the SAME ppm domain — the
    // expected shares are the nine pinned log10 constants, not runtime
    // ln calls, so nothing transcendental touches a compared column.
    // One keyed aggregate over orders; nine rows out, hash-compared.
    Op("f_benford_chi",
       """WITH digits AS (
         |  SELECT CAST(substr(CAST(
         |           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |                AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
         |  FROM orders
         |  WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |             AS BIGINT) > 0),
         |o AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
         |      FROM digits GROUP BY 1),
         |nn AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM o),
         |e AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
         |        (4, 96910), (5, 79181), (6, 66947), (7, 57992),
         |        (8, 51153), (9, 45757)) AS t(digit, exp_ppm))
         |SELECT CAST(e.digit AS BIGINT) AS digit, coalesce(o.n, 0) AS n,
         |       CAST(coalesce(o.n, 0) * 1000000 // nn.total AS BIGINT)
         |         AS share_ppm,
         |       CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
         |       CAST((coalesce(o.n, 0) * 1000000 // nn.total - e.exp_ppm)
         |            * (coalesce(o.n, 0) * 1000000 // nn.total - e.exp_ppm)
         |            // e.exp_ppm AS BIGINT) AS chi_ppm
         |FROM e LEFT JOIN o USING (digit), nn""".stripMargin) { (s, d) =>
      val cents =
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
      val o = Tables.orders(s, d)
        .select(cents.as("cents")).filter(col("cents") > 0)
        .select(substring(col("cents").cast("string"), 1, 1)
          .cast("long").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val nn = o.agg(sum(col("n")).as("total"))
      val e = s.createDataFrame(Seq((1L, 301030L), (2L, 176091L),
          (3L, 124939L), (4L, 96910L), (5L, 79181L), (6L, 66947L),
          (7L, 57992L), (8L, 51153L), (9L, 45757L)))
        .toDF("digit", "exp_ppm")
      e.join(o, Seq("digit"), "left")
        .na.fill(0L, Seq("n"))
        .crossJoin(broadcast(nn))
        .select(col("digit"), col("n"),
          expr("CAST(n * 1000000 div total AS BIGINT)").as("share_ppm"),
          col("exp_ppm"),
          expr("""CAST((n * 1000000 div total - exp_ppm)
                  * (n * 1000000 div total - exp_ppm)
                  div exp_ppm AS BIGINT)""").as("chi_ppm"))
    },

    // Exact functional-dependency census (the FD-validation half of
    // Metanome-style profiling, companion to profile_inclusion_deps'
    // IND discovery): candidate A → B holds iff
    // countDistinct(A) = countDistinct(A, B); the violation count
    // |distinct(A,B)| − |distinct(A)| says how many LHS groups carry a
    // second RHS value. Candidates span the expected outcomes — key →
    // attribute (holds), hierarchy edges (nation → region holds),
    // attribute → attribute on independent columns (fails with many
    // violations) — so the census is a discriminating fixture, not a
    // tautology. Each candidate is two distinct aggregates over its own
    // table (keyed shuffles, no window, no collect); the whole output
    // is |candidates| rows.
    Op("profile_fds",
       """SELECT tbl, lhs, rhs, n_lhs, n_pair,
         |       n_pair = n_lhs AS holds,
         |       n_pair - n_lhs AS violations
         |FROM (
         |  SELECT 'orders' AS tbl, 'o_orderkey' AS lhs,
         |         'o_custkey' AS rhs,
         |         (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT)
         |          FROM orders) AS n_lhs,
         |         (SELECT CAST(count(*) AS BIGINT) FROM
         |          (SELECT DISTINCT o_orderkey, o_custkey FROM orders))
         |           AS n_pair
         |  UNION ALL
         |  SELECT 'nation', 'n_nationkey', 'n_regionkey',
         |         (SELECT CAST(count(DISTINCT n_nationkey) AS BIGINT)
         |          FROM nation),
         |         (SELECT CAST(count(*) AS BIGINT) FROM
         |          (SELECT DISTINCT n_nationkey, n_regionkey FROM nation))
         |  UNION ALL
         |  SELECT 'customer', 'c_custkey', 'c_nationkey',
         |         (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT)
         |          FROM customer),
         |         (SELECT CAST(count(*) AS BIGINT) FROM
         |          (SELECT DISTINCT c_custkey, c_nationkey FROM customer))
         |  UNION ALL
         |  SELECT 'orders', 'o_custkey', 'o_orderpriority',
         |         (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)
         |          FROM orders),
         |         (SELECT CAST(count(*) AS BIGINT) FROM
         |          (SELECT DISTINCT o_custkey, o_orderpriority FROM orders))
         |  UNION ALL
         |  SELECT 'lineitem', 'l_orderkey', 'l_suppkey',
         |         (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
         |          FROM lineitem),
         |         (SELECT CAST(count(*) AS BIGINT) FROM
         |          (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem))
         |  UNION ALL
         |  SELECT 'supplier', 's_suppkey', 's_nationkey',
         |         (SELECT CAST(count(DISTINCT s_suppkey) AS BIGINT)
         |          FROM supplier),
         |         (SELECT CAST(count(*) AS BIGINT) FROM
         |          (SELECT DISTINCT s_suppkey, s_nationkey FROM supplier)))
         |""".stripMargin) { (s, d) =>
      def cand(df: DataFrame, tbl: String, lhs: String,
               rhs: String): DataFrame =
        df.agg(count_distinct(col(lhs)).as("n_lhs"))
          .crossJoin(broadcast(
            df.select(col(lhs), col(rhs)).distinct()
              .agg(count(lit(1)).as("n_pair"))))
          .select(lit(tbl).as("tbl"), lit(lhs).as("lhs"),
            lit(rhs).as("rhs"), col("n_lhs"), col("n_pair"),
            (col("n_pair") === col("n_lhs")).as("holds"),
            (col("n_pair") - col("n_lhs")).as("violations"))
      Seq(
        cand(Tables.orders(s, d), "orders", "o_orderkey", "o_custkey"),
        cand(Tables.nation(s, d), "nation", "n_nationkey", "n_regionkey"),
        cand(Tables.customer(s, d), "customer", "c_custkey",
          "c_nationkey"),
        cand(Tables.orders(s, d), "orders", "o_custkey",
          "o_orderpriority"),
        cand(Tables.lineitem(s, d), "lineitem", "l_orderkey",
          "l_suppkey"),
        cand(Tables.supplier(s, d), "supplier", "s_suppkey",
          "s_nationkey"))
        .reduce(_ unionByName _)
    },

    // Unique-column-combination census (UCC / key discovery — the
    // profiling step BEFORE profile_fds, since every minimal key
    // trivially determines everything): candidate column set K is a key
    // iff count(*) = count(distinct K); dupes counts the surplus rows.
    // Candidates span declared single keys (hold), foreign keys (fail),
    // and the classic TPC-H composite line key (l_orderkey,
    // l_linenumber) — which this driver's generator does NOT enforce
    // (line numbers are drawn randomly), so the census CATCHES a
    // key-assumption violation a schema reader would have missed:
    // exactly what UCC discovery is for. Two aggregates per candidate
    // over its own table; |candidates| rows out, all integer.
    Op("profile_uniques",
       """SELECT tbl, cols, n_rows, n_distinct,
         |       n_rows = n_distinct AS is_unique,
         |       n_rows - n_distinct AS dupes
         |FROM (
         |  SELECT 'orders' AS tbl, 'o_orderkey' AS cols,
         |         (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
         |         (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT)
         |          FROM orders) AS n_distinct
         |  UNION ALL
         |  SELECT 'events', 'event_id',
         |         (SELECT CAST(count(*) AS BIGINT) FROM events),
         |         (SELECT CAST(count(DISTINCT event_id) AS BIGINT)
         |          FROM events)
         |  UNION ALL
         |  SELECT 'documents', 'doc_id',
         |         (SELECT CAST(count(*) AS BIGINT) FROM documents),
         |         (SELECT CAST(count(DISTINCT doc_id) AS BIGINT)
         |          FROM documents)
         |  UNION ALL
         |  SELECT 'lineitem', 'l_orderkey,l_linenumber',
         |         (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
         |         (SELECT CAST(count(*) AS BIGINT) FROM
         |          (SELECT DISTINCT l_orderkey, l_linenumber
         |           FROM lineitem))
         |  UNION ALL
         |  SELECT 'lineitem', 'l_orderkey',
         |         (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
         |         (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
         |          FROM lineitem)
         |  UNION ALL
         |  SELECT 'lineitem', 'l_linenumber',
         |         (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
         |         (SELECT CAST(count(DISTINCT l_linenumber) AS BIGINT)
         |          FROM lineitem)
         |  UNION ALL
         |  SELECT 'orders', 'o_custkey',
         |         (SELECT CAST(count(*) AS BIGINT) FROM orders),
         |         (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)
         |          FROM orders))""".stripMargin) { (s, d) =>
      def ucand(df: DataFrame, tbl: String,
                cols: Seq[String]): DataFrame =
        df.agg(count(lit(1)).as("n_rows"))
          .crossJoin(broadcast(df.select(cols.map(col): _*).distinct()
            .agg(count(lit(1)).as("n_distinct"))))
          .select(lit(tbl).as("tbl"),
            lit(cols.mkString(",")).as("cols"),
            col("n_rows"), col("n_distinct"),
            (col("n_rows") === col("n_distinct")).as("is_unique"),
            (col("n_rows") - col("n_distinct")).as("dupes"))
      Seq(
        ucand(Tables.orders(s, d), "orders", Seq("o_orderkey")),
        ucand(Tables.events(s, d), "events", Seq("event_id")),
        ucand(Tables.documents(s, d), "documents", Seq("doc_id")),
        ucand(Tables.lineitem(s, d), "lineitem",
          Seq("l_orderkey", "l_linenumber")),
        ucand(Tables.lineitem(s, d), "lineitem", Seq("l_orderkey")),
        ucand(Tables.lineitem(s, d), "lineitem", Seq("l_linenumber")),
        ucand(Tables.orders(s, d), "orders", Seq("o_custkey")))
        .reduce(_ unionByName _)
    },

    // Two-sample Kolmogorov–Smirnov test on purchase spend between the
    // A/B variants (the distribution-level readout e_ab_welch's
    // mean-comparison misses): D = sup_t |F0(t) − F1(t)|, exact — at
    // every distinct cents value the ECDF gap is the INTEGER
    // |i·n1 − j·n0| over the common denominator n0·n1, so the max is a
    // hash-comparable BIGINT and the floats (D, the sqrt(n0·n1/N)-scaled
    // statistic) are a fixed sequence of correctly-rounded IEEE ops. The
    // p-value is deliberately absent: the Kolmogorov series needs exp,
    // which DuckDB and the JVM round differently (see the verify-skill
    // transcendental note) — ks_stat is the sufficient input to any
    // critical-value table.
    //
    // Scale shape: one keyed count per distinct value, then the global
    // ECDF via Mixing.prefixSums (range exchange materialized once,
    // per-partition running sums, broadcast carry) — no single-partition
    // window anywhere; the totals attach is a 1-row aggregate over the
    // same checkpoint. 64-bit envelope: i·n1 needs n0·n1 < 2^63 —
    // ~3·10^9 samples per arm; past that lift the gap products to
    // DECIMAL(38,0).
    Op("f_ks_test",
       """WITH p AS (
         |  SELECT CAST(round(value * 100) AS BIGINT) AS cents,
         |         user_id % 2 AS g
         |  FROM events WHERE event_type = 'purchase'),
         |c AS (
         |  SELECT cents,
         |         CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS c0,
         |         CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS c1
         |  FROM p GROUP BY 1),
         |k AS (
         |  SELECT cents,
         |         CAST(sum(c0) OVER (ORDER BY cents) AS BIGINT) AS i,
         |         CAST(sum(c1) OVER (ORDER BY cents) AS BIGINT) AS j
         |  FROM c),
         |n AS (SELECT CAST(sum(c0) AS BIGINT) AS n0,
         |             CAST(sum(c1) AS BIGINT) AS n1 FROM c)
         |SELECT n.n0, n.n1,
         |       CAST(max(abs(i * n.n1 - j * n.n0)) AS BIGINT) AS d_num,
         |       CAST(max(abs(i * n.n1 - j * n.n0)) AS DOUBLE)
         |         / NULLIF(CAST(n.n0 * n.n1 AS DOUBLE), 0.0) AS d,
         |       sqrt(CAST(n.n0 * n.n1 AS DOUBLE)
         |            / CAST(n.n0 + n.n1 AS DOUBLE)) *
         |         (CAST(max(abs(i * n.n1 - j * n.n0)) AS DOUBLE)
         |          / NULLIF(CAST(n.n0 * n.n1 AS DOUBLE), 0.0)) AS ks_stat
         |FROM k, n GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val p = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          (col("user_id") % 2).as("g"))
      val c = p.groupBy(col("cents")).agg(
        sum(when(col("g") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("c1"))
      val k = graft.llm.Mixing.prefixSums(c, col("cents"), Seq("c0", "c1"))
      // grand totals = the final cumulative values — read from the same
      // checkpoint, never a second scan of events
      val n = k.agg(max(col("c0_cum")).as("n0"), max(col("c1_cum")).as("n1"))
      // one empty arm -> D undefined -> NULL, not an ANSI abort (fuzz
      // `minimal` regime: 5 events may land every purchase in one group)
      val dn = col("d_num").cast("double") /
        when((col("n0") * col("n1")) =!= 0L,
          (col("n0") * col("n1")).cast("double"))
      k.crossJoin(broadcast(n))
        .groupBy(col("n0"), col("n1"))
        .agg(max(abs(col("c0_cum") * col("n1") -
          col("c1_cum") * col("n0"))).as("d_num"))
        .select(col("n0"), col("n1"), col("d_num"), dn.as("d"),
          (sqrt((col("n0") * col("n1")).cast("double") /
            (col("n0") + col("n1")).cast("double")) * dn).as("ks_stat"))
    },

    // Mann–Whitney U test on the same two spend samples — the rank-sum
    // alternative a skewed spend distribution calls for (Mann & Whitney
    // 1947). Tie-corrected and exact where it matters: with per-value
    // counts (c0, c1, t = c0+c1) and the prefix count before each value,
    // every tied observation takes the DOUBLED midrank 2·prefix + t + 1,
    // so the rank sum r1_twice = Σ c1·(2·prefix + t + 1), the statistic
    // u1_twice = 2·U1 = r1_twice − n1(n1+1), and the tie term Σ(t³ − t)
    // are all hash-comparable BIGINTs; z then applies the normal
    // approximation σ² = n0·n1/12·(N+1 − Σ(t³−t)/(N(N−1))) as one fixed
    // IEEE sequence, written identically in both engines.
    //
    // Scale shape: identical to f_ks_test — per-value counts, one
    // prefixSums pass, one keyless aggregate; nothing rescans events.
    // 64-bit envelope: c1·2·prefix products cap at 2n² — same ~3·10^9
    // per-arm bound as f_ks_test; t³ is per-value tie mass (bounded by
    // the heaviest tie group, far smaller).
    Op("f_mann_whitney",
       """WITH p AS (
         |  SELECT CAST(round(value * 100) AS BIGINT) AS cents,
         |         user_id % 2 AS g
         |  FROM events WHERE event_type = 'purchase'),
         |c AS (
         |  SELECT cents,
         |         CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS c0,
         |         CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS c1
         |  FROM p GROUP BY 1),
         |k AS (
         |  SELECT cents, c0, c1, c0 + c1 AS t,
         |         CAST(sum(c0 + c1) OVER (ORDER BY cents) AS BIGINT) AS tc
         |  FROM c),
         |a AS (
         |  SELECT CAST(sum(c0) AS BIGINT) AS n0,
         |         CAST(sum(c1) AS BIGINT) AS n1,
         |         CAST(sum(c1 * (2 * (tc - t) + t + 1)) AS BIGINT)
         |           AS r1_twice,
         |         CAST(sum(t * t * t - t) AS BIGINT) AS tie_term
         |  FROM k)
         |SELECT n0, n1, r1_twice,
         |       r1_twice - n1 * (n1 + 1) AS u1_twice, tie_term,
         |       CAST(r1_twice - n1 * (n1 + 1) - n0 * n1 AS DOUBLE) /
         |         NULLIF(2 * sqrt(CAST(n0 * n1 AS DOUBLE) / 12.0 *
         |                   (CAST(n0 + n1 + 1 AS DOUBLE)
         |                    - CAST(tie_term AS DOUBLE)
         |                      / NULLIF(CAST((n0 + n1) * (n0 + n1 - 1)
         |                             AS DOUBLE), 0.0))), 0.0) AS z
         |FROM a""".stripMargin) { (s, d) =>
      val p = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          (col("user_id") % 2).as("g"))
      val c = p.groupBy(col("cents")).agg(
          sum(when(col("g") === 0, 1L).otherwise(0L)).as("c0"),
          sum(when(col("g") === 1, 1L).otherwise(0L)).as("c1"))
        .withColumn("t", col("c0") + col("c1"))
      val k = graft.llm.Mixing.prefixSums(c, col("cents"), Seq("t"))
      val a = k.agg(
        sum(col("c0")).as("n0"), sum(col("c1")).as("n1"),
        sum(col("c1") * (lit(2L) * (col("t_cum") - col("t")) +
          col("t") + 1L)).as("r1_twice"),
        sum(col("t") * col("t") * col("t") - col("t")).as("tie_term"))
      val nn = col("n0") + col("n1")
      a.select(col("n0"), col("n1"), col("r1_twice"),
        (col("r1_twice") - col("n1") * (col("n1") + 1L)).as("u1_twice"),
        col("tie_term"),
        ((col("r1_twice") - col("n1") * (col("n1") + 1L) -
          col("n0") * col("n1")).cast("double") / {
          // degenerate samples (one arm empty, a single observation, or
          // ALL values tied -> sigma = 0) make z undefined: NULL, never
          // an ANSI divide-by-zero abort (fuzz `minimal`/`ties` regimes)
          val nnD = (nn * (nn - 1L)).cast("double")
          val den = lit(2) * sqrt((col("n0") * col("n1")).cast("double") /
            lit(12.0) * ((nn + 1L).cast("double") -
              col("tie_term").cast("double") / when(nnD =!= 0.0, nnD)))
          when(den =!= 0.0, den)
        }).as("z"))
    },

    // Benjamini-Hochberg FDR control (Benjamini & Hochberg 1995) over
    // the 25 per-nation "does this nation's order value differ?" Welch
    // z-tests — the multiple-testing step every segment-screening
    // dashboard needs before it declares 25 segments "significant" at
    // α=0.05 apiece. Engine-portable without a normal CDF: BH rejects
    // p_(k) ≤ kα/m ⟺ |z|_(k) ≥ Φ⁻¹(1 − kα/(2m)), so the m inverse-CDF
    // thresholds are DRIVER-pinned literals (Acklam's rational
    // approximation, computed once in Scala and printed into both plans
    // — the hllNumerator idiom; Double.toString round-trips the IEEE
    // value). Every z is the e_ab_welch recipe: exact BIGINT moments per
    // nation, complement moments by subtraction from the exact grand
    // totals, then an expression-identical double formula.
    //
    // Scale shape: one keyed aggregate to 25 nation rows, a 1-row grand-
    // totals attach, a 25-row broadcast threshold join, and windows over
    // the NATION-BOUNDED table. The order scan aggregates once.
    Op("f_bh_fdr", {
      s"""WITH oc AS (
         |  SELECT c_nationkey AS nation,
         |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |              AS BIGINT) AS cents
         |  FROM orders JOIN customer ON o_custkey = c_custkey),
         |g AS (
         |  SELECT nation, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(cents) AS BIGINT) AS s,
         |         sum(CAST(cents AS HUGEINT) * cents) AS q
         |  FROM oc GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
         |               CAST(sum(s) AS BIGINT) AS st,
         |               sum(q) AS qt FROM g),
         |z AS (
         |  SELECT nation, n,
         |         (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
         |          - CAST(st - s AS DOUBLE)
         |            / NULLIF(CAST(nt - n AS DOUBLE), 0.0))
         |         / NULLIF(sqrt((CAST(CAST(q AS VARCHAR) AS DOUBLE)
         |                   * CAST(n AS DOUBLE)
         |                 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
         |                / NULLIF(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
         |                   * (CAST(n AS DOUBLE) - 1.0), 0.0)
         |                + (CAST(CAST(qt - q AS VARCHAR) AS DOUBLE)
         |                     * CAST(nt - n AS DOUBLE)
         |                   - CAST(st - s AS DOUBLE) * CAST(st - s AS DOUBLE))
         |                  / NULLIF(CAST(nt - n AS DOUBLE)
         |                     * CAST(nt - n AS DOUBLE)
         |                     * (CAST(nt - n AS DOUBLE) - 1.0), 0.0)),
         |             0.0) AS z
         |  FROM g, tot),
         |rk AS (
         |  SELECT nation, n, z,
         |         CAST(row_number() OVER (ORDER BY abs(z) DESC NULLS LAST,
         |                                 nation)
         |              AS BIGINT) AS k
         |  FROM z),
         |th AS ($bhThresholdValues),
         |flagged AS (
         |  SELECT rk.nation, rk.n, rk.z, rk.k, th.z_star,
         |         abs(rk.z) >= th.z_star AS passes
         |  FROM rk JOIN th USING (k)),
         |kmax AS (
         |  SELECT coalesce(max(CASE WHEN passes THEN k END), 0) AS km
         |  FROM flagged)
         |SELECT nation, n, z, k, z_star, k <= km AS rejected
         |FROM flagged, kmax""".stripMargin
    }) { (s, d) =>
      val oc = Tables.orders(s, d)
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").as("nation"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("cents"))
      // squared-cents sums overflow BIGINT already at sf0.01 (qt ~ 4e19)
      // — carry Q as DECIMAL(38,0) (DuckDB: the HUGEINT its sum(BIGINT)
      // yields); the z math only ever sees it through one exact-int →
      // nearest-double cast, identical on both engines
      val g = oc.groupBy(col("nation"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
          sum(expr("CAST(cents AS DECIMAL(38,0))") * col("cents")).as("q"))
      val tot = g.agg(sum(col("n")).as("nt"), sum(col("s")).as("st"),
        sum(col("q")).as("qt"))
      def d_(c: Column): Column = c.cast("double")
      // degenerate slices (singleton nation, zero variance, one nation
      // owning every order) yield NULL z rather than an ANSI
      // divide-by-zero job abort; NULLs sort last in the BH rank on
      // both engines (fuzz `ties`/`extremes` regimes)
      def safeDiv(num: Column, den: Column): Column =
        num / when(den =!= 0.0, den)
      val vmIn = safeDiv(
        d_(col("q")) * d_(col("n")) - d_(col("s")) * d_(col("s")),
        d_(col("n")) * d_(col("n")) * (d_(col("n")) - 1.0))
      val vmOut = safeDiv(
        d_(col("qt") - col("q")) * d_(col("nt") - col("n")) -
          d_(col("st") - col("s")) * d_(col("st") - col("s")),
        d_(col("nt") - col("n")) * d_(col("nt") - col("n")) *
          (d_(col("nt") - col("n")) - 1.0))
      val z = g.crossJoin(broadcast(tot))
        .select(col("nation"), col("n"),
          safeDiv(d_(col("s")) / d_(col("n")) -
            safeDiv(d_(col("st") - col("s")), d_(col("nt") - col("n"))),
            sqrt(vmIn + vmOut)).as("z"))
      val rk = z.withColumn("k", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(abs(col("z")).desc_nulls_last, col("nation")))
        .cast("long"))
      import scala.jdk.CollectionConverters._
      val th = s.createDataFrame(
        bhThresholds.map { case (k, zs) => org.apache.spark.sql.Row(k, zs) }
          .asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("z_star",
            org.apache.spark.sql.types.DoubleType, nullable = false))))
      val flagged = rk.join(broadcast(th), Seq("k"))
        .select(col("nation"), col("n"), col("z"), col("k"), col("z_star"),
          (abs(col("z")) >= col("z_star")).as("passes"))
      val kmax = flagged.agg(coalesce(max(when(col("passes"), col("k"))),
        lit(0L)).as("km"))
      flagged.crossJoin(broadcast(kmax))
        .select(col("nation"), col("n"), col("z"), col("k"), col("z_star"),
          (col("k") <= col("km")).as("rejected"))
    },

    // Spearman rank correlation (Spearman 1904) of quantity vs extended
    // price — the monotone-association screen that profile_corr_matrix's
    // Pearson misses when the relationship is nonlinear. Exactness: ranks
    // are tie-averaged and DOUBLED (a tie block occupying ranks r..r+c−1
    // has average r+(c−1)/2, so 2·avg = 2r+c−1 is always an integer); the
    // doubled-rank mean is exactly n+1 (Σ2·rank = n(n+1)), so deviations
    // and all three moment sums are exact BIGINTs and ρ is one double
    // quotient of one product and one sqrt — both correctly-rounded IEEE
    // ops, bit-identical across engines. Doubling cancels in ρ.
    //
    // Scale shape: ranks come from the f_mann_whitney substrate — a value
    // HISTOGRAM (bounded by the value domain, not the row count) with a
    // distributed prefix sum (Mixing.prefixSums, never a global window),
    // joined back on the value: the quantity side broadcasts (50 keys),
    // the price side is an ordinary keyed join that scales with distinct
    // prices. Moment sums are 128-bit on both engines (DECIMAL(38,0) /
    // HUGEINT; 4n³ passes 2^63 already at ~1.3M rows, so a BIGINT sum
    // overflows at sf1); per-row products still fit BIGINT to ~10^9
    // rows, and the exact sums present as DOUBLE.
    Op("profile_spearman",
       """WITH c AS (
         |  SELECT CAST(l_quantity AS BIGINT) AS q,
         |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
         |              AS BIGINT) AS p
         |  FROM lineitem),
         |hq AS (SELECT q, CAST(count(*) AS BIGINT) AS t FROM c GROUP BY 1),
         |kq AS (SELECT q, 2 * (CAST(sum(t) OVER (ORDER BY q) AS BIGINT)
         |                      - t) + t + 1 AS rq FROM hq),
         |hp AS (SELECT p, CAST(count(*) AS BIGINT) AS t FROM c GROUP BY 1),
         |kp AS (SELECT p, 2 * (CAST(sum(t) OVER (ORDER BY p) AS BIGINT)
         |                      - t) + t + 1 AS rp FROM hp),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
         |dev AS (
         |  SELECT n, rq - (n + 1) AS dq, rp - (n + 1) AS dp
         |  FROM c JOIN kq USING (q) JOIN kp USING (p), nn)
         |SELECT n,
         |       CAST(CAST(sum(dq * dq) AS VARCHAR) AS DOUBLE) AS sxx,
         |       CAST(CAST(sum(dp * dp) AS VARCHAR) AS DOUBLE) AS syy,
         |       CAST(CAST(sum(dq * dp) AS VARCHAR) AS DOUBLE) AS sxy,
         |       CAST(CAST(sum(dq * dp) AS VARCHAR) AS DOUBLE) /
         |         NULLIF(sqrt(CAST(CAST(sum(dq * dq) AS VARCHAR) AS DOUBLE)
         |              * CAST(CAST(sum(dp * dp) AS VARCHAR) AS DOUBLE)),
         |           0.0) AS rho
         |FROM dev GROUP BY 1""".stripMargin) { (s, d) =>
      // ONE full-data shuffle (the groupBy(p) below): the rows are never
      // shuffled by p to attach rp, because every moment sum is
      // computable from GROUPED integers: sxx from the q histogram
      // alone, syy from the p histogram alone, and sxy = Σ_p dp·(Σ_{rows
      // with p} rq − cnt_p·(n+1)) — so the rows only ever fold into the
      // per-p aggregate (map-side-combined), and the rank attach joins
      // nothing bigger than the 50-key q table (broadcast). Identical
      // exact integers → identical doubles → same oracle hash.
      val c = Tables.lineitem(s, d).select(
        col("l_quantity").cast("long").as("q"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("p"))
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      // doubled tie-averaged ranks over the (domain-bounded, ~50-key)
      // quantity histogram
      val kq = graft.llm.Mixing.prefixSums(
          c.groupBy(col("q")).agg(count(lit(1)).as("t")),
          col("q"), Seq("t"), numParts = 1) // domain-bounded (~50 keys)
        .select(col("q"), col("t"),
          (lit(2L) * (col("t_cum") - col("t")) + col("t") + 1L).as("rq"))
      val tot = kq.agg(sum(col("t")).as("n")) // n from the histogram
      // per-p: row count and Σrq, then the doubled rank rp via the same
      // distributed prefix-sum — ONE pass over the rows
      // srq stays BIGINT through the aggregate and the prefix-sum
      // machinery (a decimal column here measured 2-3x the cut/window
      // CPU at 32 cores on sf1): srq <= cnt·(2n+1), exact to the same
      // ~10^9-row regime the header already documents for the per-row
      // products; the decimal cast happens once per DISTINCT price below
      val gp = c.join(broadcast(kq.select(col("q"), col("rq"))), Seq("q"))
        .groupBy(col("p")).agg(count(lit(1)).as("t"),
          sum(col("rq")).as("srq"))
      val kp = graft.llm.Mixing.prefixSums(gp, col("p"), Seq("t"))
        .select(col("p"), col("t"), col("srq"),
          (lit(2L) * (col("t_cum") - col("t")) + col("t") + 1L).as("rp"))
      val armQ = kq.crossJoin(broadcast(tot))
        .select(((col("rq") - (col("n") + 1L)).cast(d38) *
          (col("rq") - (col("n") + 1L)) * col("t")).as("xx"))
        .agg(sum(col("xx")).as("sxx"))
      val armP = kp.crossJoin(broadcast(tot))
        .select(col("n"),
          ((col("rp") - (col("n") + 1L)).cast(d38) *
            (col("rp") - (col("n") + 1L)) * col("t")).as("yy"),
          ((col("rp") - (col("n") + 1L)).cast(d38) *
            (col("srq").cast(d38) -
              (col("n") + 1L).cast(d38) * col("t"))).as("xy"))
        .groupBy(col("n"))
        .agg(sum(col("yy")).as("syy"), sum(col("xy")).as("sxy"))
      armP.crossJoin(broadcast(armQ))
        .select(col("n"), col("sxx").cast("double").as("sxx"),
          col("syy").cast("double").as("syy"),
          col("sxy").cast("double").as("sxy"),
          // an all-tie column has zero rank variance: rho is undefined
          // -> NULL, never an ANSI divide-by-zero abort (fuzz `ties`)
          (col("sxy").cast("double") / {
            val den =
              sqrt(col("sxx").cast("double") * col("syy").cast("double"))
            when(den =!= 0.0, den)
          }).as("rho"))
    },

    // Join-key skew census: the top-10 heaviest supplier keys with their
    // integer parts-per-million share — the profile that decides whether
    // a downstream join needs salting (Skew.saltedJoin) or AQE skew
    // handling. One keyed count, a 2-value broadcast, TakeOrdered top-k.
    Op("profile_key_skew",
       """WITH k AS (
         |  SELECT l_suppkey AS key, count(*) AS n FROM lineitem GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS n_keys
         |      FROM k)
         |SELECT key, n, (n * 1000000) // t.total AS ppm, t.n_keys
         |FROM k, t ORDER BY n DESC, key LIMIT 10""".stripMargin) { (s, d) =>
      val k = Tables.lineitem(s, d).groupBy(col("l_suppkey").as("key"))
        .agg(count(lit(1)).as("n"))
      val t = k.agg(sum(col("n")).as("total"), count(lit(1)).as("n_keys"))
      k.crossJoin(broadcast(t))
        .select(col("key"), col("n"),
          expr("(n * 1000000) div total").as("ppm"), col("n_keys"))
        .orderBy(col("n").desc, col("key")).limit(10)
    },

    // Winsorized mean of extended price per return flag: exact p5/p95
    // bounds from integer rank arithmetic (r = ceil(p*n/100) over the
    // cents ordering — replayed identically, no engine percentile
    // definitional drift), then clamp-and-sum in exact cents with ONE
    // double division per group. Two windows share one (partition,
    // order) spec; bounds re-attach by the group key (a |groups|-row
    // broadcast).
    Op("f_winsorize",
       """WITH c AS (
         |  SELECT l_returnflag AS flag,
         |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |           AS cents,
         |         l_orderkey, l_linenumber
         |  FROM lineitem),
         |ranked AS (
         |  SELECT flag, cents,
         |         row_number() OVER (PARTITION BY flag
         |           ORDER BY cents, l_orderkey, l_linenumber) AS r,
         |         count(*) OVER (PARTITION BY flag) AS n
         |  FROM c),
         |bounds AS (
         |  SELECT flag,
         |         max(CASE WHEN r = (5 * n + 99) // 100 THEN cents END) AS lo,
         |         max(CASE WHEN r = (95 * n + 99) // 100 THEN cents END) AS hi,
         |         max(n) AS n
         |  FROM ranked GROUP BY 1)
         |SELECT b.flag, b.n, CAST(b.lo AS DOUBLE) / 100.0 AS p5,
         |       CAST(b.hi AS DOUBLE) / 100.0 AS p95,
         |       CAST(sum(least(greatest(r.cents, b.lo), b.hi)) AS DOUBLE)
         |         / (CAST(b.n AS DOUBLE) * 100.0) AS winsorized_mean
         |FROM ranked r JOIN bounds b ON b.flag = r.flag
         |GROUP BY b.flag, b.n, b.lo, b.hi""".stripMargin) { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val byFlag = W.partitionBy(col("flag"))
      val c = Tables.lineitem(s, d).select(
        col("l_returnflag").as("flag"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"),
        col("l_orderkey"), col("l_linenumber"))
      val ranked = c
        .withColumn("r", row_number().over(byFlag
          .orderBy(col("cents"), col("l_orderkey"), col("l_linenumber"))))
        .withColumn("n", count(lit(1)).over(byFlag))
      val bounds = ranked.groupBy(col("flag"))
        .agg(
          max(when(col("r") === expr("(5 * n + 99) div 100"),
            col("cents"))).as("lo"),
          max(when(col("r") === expr("(95 * n + 99) div 100"),
            col("cents"))).as("hi"),
          max(col("n")).as("n"))
      ranked.select(col("flag"), col("cents"))
        .join(broadcast(bounds), "flag")
        .groupBy(col("flag"), col("n"), col("lo"), col("hi"))
        .agg(sum(least(greatest(col("cents"), col("lo")), col("hi")))
          .as("csum"))
        .select(col("flag"), col("n"),
          (col("lo").cast("double") / 100.0).as("p5"),
          (col("hi").cast("double") / 100.0).as("p95"),
          (col("csum").cast("double") /
            (col("n").cast("double") * lit(100.0)))
            .as("winsorized_mean"))
    },

    // Referential-integrity census across every declared FK edge of the
    // star schema in one report — the profiling companion to the
    // per-test relationships check (J3): child row count and orphan
    // count per edge. Each branch is one left join keyed on the parent
    // key + a 2-value aggregate; branches are independent subtrees that
    // schedule concurrently.
    Op("profile_fk_orphans",
       """SELECT 'orders.custkey' AS fk, count(*) AS n_child,
         |       count(*) FILTER (c.c_custkey IS NULL) AS n_orphans
         |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
         |UNION ALL
         |SELECT 'lineitem.orderkey', count(*),
         |       count(*) FILTER (o.o_orderkey IS NULL)
         |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
         |UNION ALL
         |SELECT 'lineitem.partkey', count(*),
         |       count(*) FILTER (p.p_partkey IS NULL)
         |FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
         |UNION ALL
         |SELECT 'lineitem.suppkey', count(*),
         |       count(*) FILTER (s.s_suppkey IS NULL)
         |FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |UNION ALL
         |SELECT 'customer.nationkey', count(*),
         |       count(*) FILTER (n.n_nationkey IS NULL)
         |FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
         |UNION ALL
         |SELECT 'nation.regionkey', count(*),
         |       count(*) FILTER (r.r_regionkey IS NULL)
         |FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey""".stripMargin) {
      (s, d) =>
        val edges = Seq(
          ("orders.custkey", Tables.orders(s, d), "o_custkey",
            Tables.customer(s, d), "c_custkey"),
          ("lineitem.orderkey", Tables.lineitem(s, d), "l_orderkey",
            Tables.orders(s, d), "o_orderkey"),
          ("lineitem.partkey", Tables.lineitem(s, d), "l_partkey",
            Tables.part(s, d), "p_partkey"),
          ("lineitem.suppkey", Tables.lineitem(s, d), "l_suppkey",
            Tables.supplier(s, d), "s_suppkey"),
          ("customer.nationkey", Tables.customer(s, d), "c_nationkey",
            Tables.nation(s, d), "n_nationkey"),
          ("nation.regionkey", Tables.nation(s, d), "n_regionkey",
            Tables.region(s, d), "r_regionkey"))
        edges.map { case (name, child, ck, parent, pk) =>
          fkOrphans(name, child, ck, parent, pk)
        }.reduce(_ unionByName _)
    },

    // Inclusion-dependency DISCOVERY (the SPIDER/BINDER family —
    // Bauckmann et al. 2006; Papenbrock et al., VLDB 2015): which key
    // columns' value sets are subsets of which others, across ALL
    // declared columns at once — the profiling step that PROPOSES the
    // foreign keys profile_fk_orphans then audits. One pass: every
    // column's distinct values union into one (column, value) relation;
    // grouping by value yields each value's column set; counting
    // ordered column pairs inside those sets gives |A ∩ B| per pair,
    // and A ⊆ B holds iff |A ∩ B| = |A|. Output: the discovered
    // dependency list with the witness count.
    //
    // Scale shape: per-column distincts are keyed aggs behind the
    // scans; the union shuffles once on the value; the pair fan-out is
    // bounded by (columns per value)² ≤ 13² per distinct value, and
    // the result table by |columns|² rows. No column is ever compared
    // against another by a join of their full relations — the classic
    // quadratic-INDs-in-one-pass trick.
    Op("profile_inclusion_deps", {
      val sqlSides = IndColumns.map { case (id, table, c) =>
        s"SELECT DISTINCT '$id' AS c, CAST($c AS BIGINT) AS v FROM $table"
      }.mkString("\n  UNION ALL ")
      s"""WITH vals AS (
         |  $sqlSides),
         |pairs AS (
         |  SELECT a.c AS lhs, b.c AS rhs, CAST(count(*) AS BIGINT) AS n_shared
         |  FROM vals a JOIN vals b USING (v) WHERE a.c <> b.c
         |  GROUP BY 1, 2),
         |nd AS (SELECT c, CAST(count(*) AS BIGINT) AS n FROM vals GROUP BY 1)
         |SELECT p.lhs, p.rhs, n.n AS n_values
         |FROM pairs p JOIN nd n ON n.c = p.lhs
         |WHERE p.n_shared = n.n""".stripMargin
    }) { (s, d) =>
      // No per-column `.distinct()` exchange: collect_set dedups (c, v)
      // inside the ONE groupBy(v) aggregate (partial sets collapse
      // map-side). The per-column distinct counts come off the same
      // grouped frame (a column appears in a v-group's set exactly once
      // per distinct value), so `nd` needs no pass of its own over the
      // union.
      val vals = IndColumns.map { case (id, table, c) =>
        Tables.table(s, d, table)
          .select(lit(id).as("c"), col(c).cast("long").as("v"))
      }.reduce(_ unionByName _)
      val sets = vals.groupBy(col("v"))
        .agg(sort_array(collect_set(col("c"))).as("cs"))
      val exploded = sets.select(explode(col("cs")).as("lhs"), col("cs"))
      val nd = exploded.groupBy(col("lhs").as("c"))
        .agg(count(lit(1)).as("n"))
      exploded
        .select(col("lhs"), explode(col("cs")).as("rhs"))
        .filter(col("lhs") =!= col("rhs"))
        .groupBy(col("lhs"), col("rhs")).agg(count(lit(1)).as("n_shared"))
        .join(broadcast(nd), col("lhs") === col("c"))
        .filter(col("n_shared") === col("n"))
        .select(col("lhs"), col("rhs"), col("n").as("n_values"))
    })

  /** Shannon entropy of each source's language distribution — the
    * class-balance profile (a source emitting one language scores 0; a
    * uniform 5-language source scores ln 5). Runs on the bounded
    * (source, lang) cell table; the sum folds per-cell terms
    * n·(ln N − ln n) in lang order through ieee_ln, with ONE double
    * division per source, so the float statistic hash-compares.
    */
  def entropyOp: Op =
    Op("f_entropy",
       """WITH cells AS (
         |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n
         |  FROM documents GROUP BY 1, 2),
         |tots AS (SELECT source, CAST(sum(n) AS BIGINT) AS nt
         |         FROM cells GROUP BY 1)
         |SELECT c.source, t.nt AS n_docs,
         |       list_reduce(list_prepend(0.0,
         |           list(CAST(c.n AS DOUBLE) *
         |                (ln(CAST(t.nt AS DOUBLE)) - ln(CAST(c.n AS DOUBLE)))
         |                ORDER BY c.lang)),
         |         (a, b) -> a + b) / CAST(t.nt AS DOUBLE) AS entropy
         |FROM cells c JOIN tots t USING (source)
         |GROUP BY c.source, t.nt""".stripMargin) { (s, d) =>
      import graft.functions.GraftFunctions.ieeeLn
      val cells = Tables.documents(s, d)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
      val tots = cells.groupBy(col("source")).agg(sum(col("n")).as("nt"))
      cells.join(broadcast(tots), "source")
        .select(col("source"), col("nt"), col("lang"),
          (col("n").cast("double") *
            (ieeeLn(col("nt").cast("double")) -
              ieeeLn(col("n").cast("double")))).as("term"))
        .groupBy(col("source"), col("nt"))
        .agg((aggregate(
          sort_array(collect_list(struct(col("lang"), col("term")))),
          lit(0.0), (acc, x) => acc + x.getField("term")) /
          col("nt").cast("double")).as("entropy"))
        .select(col("source"), col("nt").as("n_docs"), col("entropy"))
    }

  /** Pairwise Pearson correlations among lineitem's numeric columns —
    * the profiling matrix that flags redundant features and surprising
    * couplings before a model sees the data. Every representation is an
    * EXACT integral: quantity as-is, price in whole currency units via
    * cents div 100 (cents are an exact scale-2 product; the direct
    * DECIMAL->BIGINT cast is forbidden here — DuckDB rounds it, Spark
    * truncates), discount in basis points (scale-4 x 10^4, integral by
    * construction). Deviations use truncated means; numerators and the
    * two second moments are BIGINT sums; r needs two IEEE sqrts and one
    * division — both correctly rounded, so the matrix hash-compares.
    * One corpus pass computes all three deviation columns; each pair is
    * a keyless aggregate over it.
    */
  def corrMatrixOp: Op = {
    val pairs = Seq(("q_p", "dq", "dp"), ("q_disc", "dq", "dd"),
      ("p_disc", "dp", "dd"))
    // zero-variance columns have no defined correlation: emit NULL
    // explicitly on BOTH engines (Spark ANSI throws on double /0,
    // DuckDB would yield inf/nan — neither is the honest answer)
    val oracleArms = pairs.map { case (nm, a, b) =>
      s"""SELECT '$nm' AS pair, CAST(sum($a * $b) AS BIGINT) AS num,
         |       CAST(sum($a * $a) AS BIGINT) AS den_a,
         |       CAST(sum($b * $b) AS BIGINT) AS den_b,
         |       CASE WHEN sum($a * $a) = 0 OR sum($b * $b) = 0 THEN NULL
         |            ELSE CAST(sum($a * $b) AS DOUBLE) /
         |                 (sqrt(CAST(sum($a * $a) AS DOUBLE)) *
         |                  sqrt(CAST(sum($b * $b) AS DOUBLE))) END AS r
         |FROM d""".stripMargin
    }.mkString("\nUNION ALL\n")
    Op("profile_corr_matrix",
       s"""WITH c AS (
          |  SELECT CAST(l_quantity AS BIGINT) AS q,
          |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
          |              AS BIGINT) // 100 AS p,
          |         CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000
          |              AS BIGINT) AS disc
          |  FROM lineitem),
          |t AS (SELECT CAST(sum(q) AS BIGINT) AS tq,
          |             CAST(sum(p) AS BIGINT) AS tp,
          |             CAST(sum(disc) AS BIGINT) AS td,
          |             CAST(count(*) AS BIGINT) AS n FROM c),
          |d AS (
          |  SELECT q - (t.tq // t.n) AS dq, p - (t.tp // t.n) AS dp,
          |         disc - (t.td // t.n) AS dd
          |  FROM c, t)
          |$oracleArms""".stripMargin) { (s, d) =>
      val c = Tables.lineitem(s, d).select(
        col("l_quantity").cast("long").as("q"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)" +
          " div 100").as("p"),
        expr("CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)")
          .as("disc"))
      val t = c.agg(sum(col("q")).as("tq"), sum(col("p")).as("tp"),
        sum(col("disc")).as("td"), count(lit(1)).as("n"))
      val dev = c.crossJoin(broadcast(t)).select(
        (col("q") - expr("tq div n")).as("dq"),
        (col("p") - expr("tp div n")).as("dp"),
        (col("disc") - expr("td div n")).as("dd"))
      val arms = pairs.map { case (nm, a, b) =>
        dev.agg(sum(col(a) * col(b)).as("num"),
            sum(col(a) * col(a)).as("den_a"),
            sum(col(b) * col(b)).as("den_b"))
          .select(lit(nm).as("pair"), col("num"), col("den_a"),
            col("den_b"),
            when(col("den_a") === 0 || col("den_b") === 0, lit(null))
              .otherwise(col("num").cast("double") /
                (sqrt(col("den_a").cast("double")) *
                  sqrt(col("den_b").cast("double")))).as("r"))
      }
      arms.reduce(_ unionByName _)
    }
  }

  /** One FK-edge orphan count: child rows whose key finds no parent.
    * A left join (distinct parent keys, so no fanout) + one aggregate;
    * the parent side reduces to its key column before the shuffle.
    */
  def fkOrphans(name: String, child: DataFrame, childKey: String,
                parent: DataFrame, parentKey: String): DataFrame =
    child.select(col(childKey))
      .join(parent.select(col(parentKey)).distinct(),
        col(childKey) === col(parentKey), "left")
      .agg(count(lit(1)).as("n_child"),
        sum(when(col(parentKey).isNull, 1L).otherwise(0L)).as("n_orphans"))
      .select(lit(name).as("fk"), col("n_child"), col("n_orphans"))
}
