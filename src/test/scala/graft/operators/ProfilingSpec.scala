package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Invariants for the census/robust-stats ops added alongside the column
  * profiler: chi-square margins, skew ppm arithmetic, winsorized bounds,
  * run-length accounting, and the windowed funnel's subset relation.
  */
class ProfilingSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("chi-square: terms are non-negative, observed cells sum to N, " +
       "and a uniform synthetic table yields exactly zero") {
    val cells = graft.SparkEntry.queries("f_chi_square")(spark, sf)
      .collect()
    assert(cells.nonEmpty)
    assert(cells.forall(_.getDouble(3) >= 0.0))
    val n = graft.Tables.documents(spark, sf).count()
    assert(cells.map(_.getLong(2)).sum == n)
    // perfectly independent 2x2 table: O*N == rt*ct in every cell
    import spark.implicits._
    val uni = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
      .toDF("lang", "source")
    val o = uni.groupBy($"lang", $"source").agg(count(lit(1)).as("o"))
    val rt = o.groupBy($"lang").agg(sum($"o").as("rt"))
    val ct = o.groupBy($"source").agg(sum($"o").as("ct"))
    val terms = o.join(rt, "lang").join(ct, "source")
      .crossJoin(uni.agg(count(lit(1)).as("n")))
      .select((($"o" * $"n" - $"rt" * $"ct") *
        ($"o" * $"n" - $"rt" * $"ct")).cast("double").as("num"))
      .collect().map(_.getDouble(0))
    assert(terms.forall(_ == 0.0))
  }

  test("key skew: ppm is the exact integer share, rows ordered by " +
       "weight, n_keys constant") {
    val rows = graft.SparkEntry.queries("profile_key_skew")(spark, sf)
      .collect()
    assert(rows.length == 10)
    val total = graft.Tables.lineitem(spark, sf).count()
    rows.foreach { r =>
      assert(r.getLong(2) == r.getLong(1) * 1000000L / total)
    }
    val ns = rows.map(_.getLong(1))
    assert(ns.sliding(2).forall(p => p(0) >= p(1)))
    assert(rows.map(_.getLong(3)).distinct.length == 1)
  }

  test("winsorize: bounds are exact empirical percentiles, the " +
       "winsorized mean is pulled inside [p5, p95] and differs from the " +
       "raw mean when outliers exist") {
    import spark.implicits._
    // one group: 98 values of 100 cents, one 1-cent low, one 1e9 high
    val vals = (Seq(0.01, 10000000.00) ++ Seq.fill(98)(1.00))
      .zipWithIndex.map { case (v, i) => (i.toLong, 1, v, "G") }
    val df = vals.toDF("l_orderkey", "l_linenumber", "l_extendedprice",
      "l_returnflag")
    // drive through the registered query by writing a temp parquet dir
    val dir = java.nio.file.Files.createTempDirectory("win").toString
    df.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = graft.SparkEntry.queries("f_winsorize")(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    val (n, p5, p95, m) = (r.getLong(1), r.getDouble(2), r.getDouble(3),
      r.getDouble(4))
    assert(n == 100)
    // rank ceil(5*100/100)=5 -> 5th smallest = 1.00 (after the 1-cent
    // low); rank 95 -> 1.00 as well: both extremes clipped
    assert(p5 == 1.0 && p95 == 1.0)
    assert(m == 1.0, s"fully-clipped mean must be exactly 1.00: $m")
  }

  test("event runs: per-type totals reconcile with raw counts; runs " +
       "bound between 1 and event count") {
    val runs = graft.SparkEntry.queries("e_event_runs")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val truth = graft.Tables.events(spark, sf)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(runs.keySet == truth.keySet)
    runs.foreach { case (t, (nRuns, maxRun, nEvents)) =>
      assert(nEvents == truth(t), s"$t events $nEvents != ${truth(t)}")
      assert(nRuns >= 1 && nRuns <= nEvents)
      assert(maxRun >= 1 && maxRun <= nEvents - nRuns + 1)
    }
  }

  test("entropy: uniform distribution hits ln k, single-class hits 0, " +
       "bounded by ln of the class count") {
    import spark.implicits._
    val docs = (Seq.tabulate(8)(i => (i.toLong, s"s${i % 2}",
      if (i % 2 == 0) Seq("a", "b", "c", "d")(i / 2) else "only")))
      .map { case (id, s, l) => (id, s, l, "x") }
      .toDF("doc_id", "source", "lang", "text")
    val dir = java.nio.file.Files.createTempDirectory("ent").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.SparkEntry.queries("f_entropy")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // s0: 4 docs uniform over 4 langs -> ln 4; s1: all one lang -> 0
    assert(got("s0")._1 == 4 &&
      math.abs(got("s0")._2 - math.log(4)) < 1e-12)
    assert(got("s1")._2 == 0.0)
    val real = graft.SparkEntry.queries("f_entropy")(spark,
      "/root/testdata/sf0.001").collect()
    real.foreach(r => assert(r.getDouble(2) >= 0 &&
      r.getDouble(2) <= math.log(5) + 1e-12))
  }

  test("systematic sample: ranks are exactly 25 apart starting at 1, " +
       "size is ceil(n/25)") {
    val rows = graft.SparkEntry.queries("mix_systematic_sample")(spark,
      "/root/testdata/sf0.001").collect().map(_.getLong(1)).sorted
    val n = graft.Tables.documents(spark, "/root/testdata/sf0.001").count()
    assert(rows.length == (n + 24) / 25)
    assert(rows.toSeq == rows.indices.map(i => i * 25L + 1).toSeq)
  }

  test("wow growth: exact ppm arithmetic against a recomputed lag") {
    val rows = graft.SparkEntry.queries("m_wow_growth")(spark,
      "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    rows.sliding(2).foreach {
      case Array((_, prevRev, _), (_, curRev, ppm)) =>
        val prevC = math.round(prevRev * 100)
        val curC = math.round(curRev * 100)
        // both engines TRUNCATE integer division (Spark div, DuckDB //)
        assert(ppm == (curC - prevC) * 1000000L / prevC)
      case _ =>
    }
  }

  test("corr matrix: perfectly linear columns score r ~ 1, bounds hold " +
       "on real data") {
    import spark.implicits._
    // quantities 1..9 each 7 times: INTEGER mean 5 — the truncated-mean
    // deviation preserves exact proportionality only then
    val li = (0 until 63).map(i => (i.toLong, 1, (i % 9 + 1).toDouble,
      (i % 9 + 1) * 200.0, 0.05, "N"))
      .toDF("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_returnflag")
    val dir = java.nio.file.Files.createTempDirectory("corr").toString
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = graft.SparkEntry.queries("profile_corr_matrix")(spark, dir)
      .collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    // price = 200 * quantity exactly -> r(q, p) ~ 1; discount constant
    // -> zero variance -> correlation undefined -> NULL
    assert(math.abs(got("q_p").get - 1.0) < 1e-12, got)
    assert(got("q_disc").isEmpty && got("p_disc").isEmpty)
    val real = graft.SparkEntry.queries("profile_corr_matrix")(spark,
      "/root/testdata/sf0.001").collect().map(_.getDouble(4))
    real.foreach(r => assert(math.abs(r) <= 1.0))
  }

  test("active users: DAU <= WAU <= MAU per day, WAU/MAU bounded by the " +
       "user base, exact on a crafted two-user calendar") {
    import spark.implicits._
    val rows = graft.SparkEntry.queries("ts_active_users")(spark,
      "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val users = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select("user_id").distinct().count()
    rows.foreach { case (_, dau, wau, mau) =>
      assert(dau <= wau && wau <= mau && mau <= users)
    }
    // crafted: user 1 active days 1 and 9; user 2 active day 3.
    // day 3: dau=1 (u2), wau (days -3..3) sees u1@1 + u2@3 = 2
    val base = 86400L * 1000000L
    val ev = Seq((1L, 1L, 1L), (2L, 2L, 3L), (3L, 1L, 9L))
      .map { case (id, u, dy) => (id, u, dy * base, 1.0, "view") }
      .toDF("event_id", "user_id", "us", "value", "event_type")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val dir = java.nio.file.Files.createTempDirectory("au").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.SparkEntry.queries("ts_active_users")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // day 9's trailing month sees all three cells but only TWO distinct
    // users (u1 appears on days 1 and 9)
    assert(got == Map(
      1L -> ((1L, 1L, 1L)), 3L -> ((1L, 2L, 2L)), 9L -> ((1L, 2L, 2L))),
      got)
  }

  test("windowed funnel: converted-within-7d is bounded by viewers and " +
       "by the unwindowed view->purchase population") {
    val r = graft.SparkEntry.queries("e_funnel_windowed")(spark, sf)
      .collect().head
    val (viewers, conv) = (r.getLong(0), r.getLong(1))
    assert(conv >= 0 && conv <= viewers)
    val ev = graft.Tables.events(spark, sf)
    val unwindowed = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("tv"))
      .join(ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("tp")), "user_id")
      .filter(col("tp") > col("tv"))
      .select(col("user_id")).distinct().count()
    assert(conv <= unwindowed)
  }

  test("inclusion deps: the schema's true FK edges are discovered, a " +
       "cardinality-impossible direction is absent, and every held IND " +
       "respects subset cardinality") {
    val got = graft.SparkEntry.queries("profile_inclusion_deps")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val held = got.map(p => (p._1, p._2)).toSet
    // the real FK edges of the star schema must all be proposed
    Seq(
      "orders.o_custkey" -> "customer.c_custkey",
      "lineitem.l_orderkey" -> "orders.o_orderkey",
      "lineitem.l_partkey" -> "part.p_partkey",
      "lineitem.l_suppkey" -> "supplier.s_suppkey",
      "customer.c_nationkey" -> "nation.n_nationkey",
      "supplier.s_nationkey" -> "nation.n_nationkey",
      "nation.n_regionkey" -> "region.r_regionkey"
    ).foreach { e => assert(held.contains(e), s"missing true FK $e") }
    // |custkey| >> |nationkey|: that direction cannot hold
    assert(!held.contains("customer.c_custkey" -> "nation.n_nationkey"))
    // n_values is the LHS distinct count: for a held IND it can never
    // exceed the RHS's own distinct count (subset cardinality)
    val nOf = got.groupBy(_._1).map { case (c, rs) => c -> rs.head._3 }
    got.foreach { case (lhs, rhs, nLhs) =>
      nOf.get(rhs).foreach { nRhs =>
        assert(nLhs <= nRhs, s"$lhs ⊆ $rhs but $nLhs > $nRhs")
      }
    }
  }

  /** The two spend samples the rank tests run on, replayed driver-side. */
  private def spendSamples(): (Seq[Long], Seq[Long]) = {
    val rows = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .selectExpr("CAST(round(value * 100) AS BIGINT)", "user_id % 2")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    (rows.filter(_._2 == 0L).map(_._1).toSeq,
      rows.filter(_._2 == 1L).map(_._1).toSeq)
  }

  test("ks test: d_num matches a brute-force sup over all distinct " +
       "values, and the derived floats are consistent") {
    val Array(row) = graft.SparkEntry.queries("f_ks_test")(spark, sf)
      .collect()
    val (x, y) = spendSamples()
    val (n0, n1) = (x.size.toLong, y.size.toLong)
    assert(row.getLong(0) == n0 && row.getLong(1) == n1)
    val dNum = (x ++ y).distinct.map { t =>
      math.abs(x.count(_ <= t) * n1 - y.count(_ <= t) * n0)
    }.max
    assert(row.getLong(2) == dNum)
    val d = dNum.toDouble / (n0 * n1).toDouble
    assert(row.getDouble(3) == d)
    assert(row.getDouble(4) ==
      math.sqrt((n0 * n1).toDouble / (n0 + n1).toDouble) * d)
    // same-sample sanity: KS of a sample against itself is zero
    assert(dNum >= 0 && d <= 1.0)
  }

  test("mann-whitney: rank sum matches a sequential midrank replay, tie " +
       "term reconciles, and z is finite") {
    val Array(row) = graft.SparkEntry.queries("f_mann_whitney")(spark, sf)
      .collect()
    val (x, y) = spendSamples()
    val (n0, n1) = (x.size.toLong, y.size.toLong)
    assert(row.getLong(0) == n0 && row.getLong(1) == n1)
    // sequential reference: doubled midranks over the pooled sorted sample
    val pooled = (x.map((_, 0)) ++ y.map((_, 1))).sortBy(_._1)
    val byVal = pooled.groupBy(_._1)
    var r1Twice = 0L
    var tieTerm = 0L
    var prefix = 0L
    byVal.keys.toSeq.sorted.foreach { v =>
      val grp = byVal(v)
      val t = grp.size.toLong
      val c1 = grp.count(_._2 == 1).toLong
      r1Twice += c1 * (2 * prefix + t + 1)
      tieTerm += t * t * t - t
      prefix += t
    }
    assert(row.getLong(2) == r1Twice)
    assert(row.getLong(3) == r1Twice - n1 * (n1 + 1))
    assert(row.getLong(4) == tieTerm)
    assert(!row.getDouble(5).isNaN && !row.getDouble(5).isInfinite)
    // U1 + U2 = n0*n1 (doubled: u1_twice + u2_twice = 2*n0*n1) — replay
    // group 0's rank sum and check the identity
    var r0Twice = 0L
    prefix = 0L
    byVal.keys.toSeq.sorted.foreach { v =>
      val grp = byVal(v)
      val t = grp.size.toLong
      r0Twice += grp.count(_._2 == 0).toLong * (2 * prefix + t + 1)
      prefix += t
    }
    val u0Twice = r0Twice - n0 * (n0 + 1)
    assert(row.getLong(3) + u0Twice == 2 * n0 * n1)
  }

  test("bh-fdr: thresholds decrease in k, the rejected set is the exact " +
       "step-up prefix, and a sequential replay agrees") {
    val rows = graft.SparkEntry.queries("f_bh_fdr")(spark, sf)
      .collect().map(r => (r.getLong(3), math.abs(r.getDouble(2)),
        r.getDouble(4), r.getBoolean(5))).sortBy(_._1)
    assert(rows.length == 25 && rows.map(_._1).toSeq == (1L to 25L))
    // z*(k) strictly decreasing (larger k -> looser p cutoff)
    rows.sliding(2).foreach { case Array(a, b) => assert(a._3 > b._3) }
    // |z| non-increasing in rank
    rows.sliding(2).foreach { case Array(a, b) => assert(a._2 >= b._2) }
    // step-up: kmax = max{k : |z|_(k) >= z*(k)}; rejected iff k <= kmax
    val kmax = rows.filter(t => t._2 >= t._3).map(_._1)
      .foldLeft(0L)(math.max)
    rows.foreach { case (k, _, _, rej) => assert(rej == (k <= kmax)) }
    // the k=1 threshold is Bonferroni at alpha/m: Phi^-1(1 - 0.001) and
    // the k=25 threshold is the unadjusted 1.96 — pin both to 1e-6
    assert(math.abs(rows.head._3 - 3.0902323061678132) < 1e-6)
    assert(math.abs(rows.last._3 - 1.959963984540054) < 1e-6)
  }

  test("bh-fdr: the 25 thresholds are a local relation, not an RDD scan") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LogicalRDD
    val qe = graft.SparkEntry.queries("f_bh_fdr")(spark, sf).queryExecution
    val plan = qe.optimizedPlan
    assert(plan.collect { case r: LogicalRDD => r }.isEmpty, plan)
    // the table is read twice: by the ranks and by the step-up cut
    val local = plan.collect { case r: LocalRelation => r.data.size }
    assert(local.nonEmpty && local.forall(_ == 25), plan)
    val physical = qe.executedPlan.toString
    assert(physical.contains("LocalTableScan") &&
      !physical.contains("ExistingRDD"), physical)
  }

  test("spearman: moment sums match a sequential doubled-midrank replay " +
       "and rho is the exact quotient within [-1, 1]") {
    val Array(row) = graft.SparkEntry.queries("profile_spearman")(spark, sf)
      .collect()
    val pairs = graft.Tables.lineitem(spark, sf)
      .selectExpr("CAST(l_quantity AS BIGINT)",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = pairs.length.toLong
    assert(row.getLong(0) == n)
    // sequential doubled midranks: tie block at start-rank r, size c ->
    // every member gets 2r + c - 1
    def rank2(vs: Array[Long]): Map[Long, Long] = {
      var prefix = 0L
      vs.groupBy(identity).toSeq.sortBy(_._1).map { case (v, g) =>
        val c = g.length.toLong
        val r2 = 2 * prefix + c + 1
        prefix += c
        v -> r2
      }.toMap
    }
    val rq = rank2(pairs.map(_._1))
    val rp = rank2(pairs.map(_._2))
    var (sxx, syy, sxy) = (0L, 0L, 0L)
    pairs.foreach { case (q, p) =>
      val dq = rq(q) - (n + 1)
      val dp = rp(p) - (n + 1)
      sxx += dq * dq; syy += dp * dp; sxy += dq * dp
    }
    // moment sums are DECIMAL(38,0) presented as DOUBLE since the r10
    // overflow widening — compare against the exact sums' double images
    assert(row.getDouble(1) == sxx.toDouble && row.getDouble(2) == syy.toDouble &&
      row.getDouble(3) == sxy.toDouble)
    assert(row.getDouble(4) ==
      sxy.toDouble / math.sqrt(sxx.toDouble * syy.toDouble))
    assert(math.abs(row.getDouble(4)) <= 1.0)
  }

  test("Benford: pinned expected shares sum to exactly 1e6 ppm, counts " +
       "replay a driver-side first-digit census, and chi terms are the " +
       "exact integer formula") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("f_benford_chi")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.map(_._1).sorted.toSeq == (1L to 9L))
    assert(rows.map(_._4).sum == 1000000L, "expected ppm must total 1e6")
    val cents = graft.Tables.orders(spark, sf)
      .select(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long"))
      .as[Long].collect().filter(_ > 0)
    val census = cents.groupBy(_.toString.head.asDigit.toLong)
      .map { case (d, v) => d -> v.length.toLong }
    val total = cents.length.toLong
    rows.foreach { case (d, nOb, share, exp, chi) =>
      assert(nOb == census.getOrElse(d, 0L), s"digit $d count")
      assert(share == Math.floorDiv(nOb * 1000000L, total))
      assert(chi == Math.floorDiv((share - exp) * (share - exp), exp))
    }
  }

  test("FD census: keys and hierarchy edges hold with zero violations, " +
       "independent attributes fail, arithmetic reconciles") {
    val rows = graft.SparkEntry.queries("profile_fds")(spark,
      "/root/testdata/sf0.001").collect()
      .map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        (r.getLong(3), r.getLong(4), r.getBoolean(5), r.getLong(6)))).toMap
    assert(rows.size == 6)
    // key -> attribute and hierarchy FDs must hold exactly
    Seq(("orders", "o_orderkey", "o_custkey"),
        ("nation", "n_nationkey", "n_regionkey"),
        ("customer", "c_custkey", "c_nationkey"),
        ("supplier", "s_suppkey", "s_nationkey")).foreach { k =>
      val (nl, np, holds, v) = rows(k)
      assert(holds && v == 0L && nl == np, s"$k must hold: $nl $np")
    }
    // a customer places orders at several priorities; an order spans
    // several suppliers — both candidates must FAIL with violations
    Seq(("orders", "o_custkey", "o_orderpriority"),
        ("lineitem", "l_orderkey", "l_suppkey")).foreach { k =>
      val (nl, np, holds, v) = rows(k)
      assert(!holds && v > 0L && v == np - nl, s"$k must fail: $nl $np")
    }
  }

  test("UCC census: declared ids are unique, FKs are not, and the " +
       "census catches the generator's unenforced composite line key") {
    val rows = graft.SparkEntry.queries("profile_uniques")(spark,
      "/root/testdata/sf0.001").collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getBoolean(4), r.getLong(5)))).toMap
    assert(rows.size == 7)
    Seq(("orders", "o_orderkey"), ("events", "event_id"),
        ("documents", "doc_id")).foreach { k =>
      val (nr, nd, uniq, dupes) = rows(k)
      assert(uniq && dupes == 0L && nr == nd, s"$k must be unique")
    }
    // the driver's generator draws line numbers randomly, so the
    // canonical TPC-H composite key does NOT hold in this data — the
    // census must report that instead of trusting the schema
    Seq(("lineitem", "l_orderkey,l_linenumber"),
        ("lineitem", "l_orderkey"), ("lineitem", "l_linenumber"),
        ("orders", "o_custkey")).foreach { k =>
      val (nr, nd, uniq, dupes) = rows(k)
      assert(!uniq && dupes == nr - nd && dupes > 0L, s"$k must repeat")
    }
    // the composite still repeats LESS than either component alone
    val comp = rows(("lineitem", "l_orderkey,l_linenumber"))._4
    assert(comp < rows(("lineitem", "l_orderkey"))._4 &&
      comp < rows(("lineitem", "l_linenumber"))._4)
  }

  test("Cramér's V replays a sequential chi-square fold and lands in " +
       "[0, 1]") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val cells = graft.Tables.documents(spark, sf)
      .groupBy($"lang", $"source").agg(count(lit(1)).as("o"))
      .as[(String, String, Long)].collect()
    val rt = cells.groupBy(_._1).map { case (l, v) => l -> v.map(_._3).sum }
    val ct = cells.groupBy(_._2).map { case (s2, v) => s2 -> v.map(_._3).sum }
    val n = cells.map(_._3).sum
    var chi2 = 0.0
    cells.sortBy(c => (c._1, c._2)).foreach { case (l, s2, o) =>
      val dev = (o * n - rt(l) * ct(s2)).toDouble
      chi2 += dev * dev / (n * rt(l) * ct(s2)).toDouble
    }
    val row = graft.SparkEntry.queries("f_cramers_v")(spark, sf)
      .collect().head
    assert(row.getLong(0) == rt.size && row.getLong(1) == ct.size &&
      row.getLong(2) == n)
    assert(row.getDouble(3) == chi2, s"${row.getDouble(3)} vs $chi2")
    val v = row.getDouble(4)
    assert(v == math.sqrt(chi2 /
      (n * math.min(rt.size - 1, ct.size - 1)).toDouble))
    assert(v >= 0.0 && v <= 1.0)
  }

  test("f_benford_chi hints no preserved side of an outer join") {
    import org.apache.spark.sql.catalyst.plans.{FullOuter, LeftOuter,
      RightOuter}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // Spark cannot build a preserved side, so such a hint is dropped
    // with a HintErrorLogger warning at every planning
    val plan = graft.SparkEntry.queries("f_benford_chi")(spark, sf)
      .queryExecution.optimizedPlan
    val outer = plan.collect { case j: Join if j.joinType == LeftOuter ||
        j.joinType == RightOuter || j.joinType == FullOuter => j }
    assert(outer.nonEmpty, plan)
    val dead = outer.filter { j =>
      (j.joinType != RightOuter && j.hint.leftHint.isDefined) ||
        (j.joinType != LeftOuter && j.hint.rightHint.isDefined)
    }
    assert(dead.isEmpty, dead.map(_.hint))
  }
}
