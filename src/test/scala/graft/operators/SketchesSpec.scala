package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{Encoders, functions => F}

/** Misra-Gries guarantees, asserted against exact counts: items above the
  * n/k frequency threshold always survive, and every estimate undercounts
  * true frequency by at most n/k — under any partitioning.
  */
class SketchesSpec extends SparkSpec {

  private def runMg(items: Seq[String], k: Int, parts: Int): Map[String, Long] = {
    import spark.implicits._
    val mg = F.udaf(new Sketches.MisraGries(k), Encoders.STRING)
    items.toDF("x").repartition(parts)
      .agg(mg(F.col("x")).as("m"))
      .head().getAs[Map[String, Long]]("m")
  }

  test("exact on low-cardinality input (fewer than k distinct items)") {
    val items = Seq.fill(30)("a") ++ Seq.fill(20)("b") ++ Seq.fill(10)("c")
    val got = runMg(items, k = 10, parts = 4)
    assert(got == Map("a" -> 30L, "b" -> 20L, "c" -> 10L))
  }

  test("guaranteed capture and n/k error bound for heavy hitters, " +
       "any partitioning") {
    // one heavy item at ~30% of n plus a long tail of singletons
    val n = 1000
    val heavy = Seq.fill(300)("HEAVY")
    val tail = (1 to (n - 300)).map(i => s"t$i")
    // fixed seed: the bound holds for ANY order, but a failure must be
    // reproducible
    val items = new scala.util.Random(42).shuffle(heavy ++ tail)
    val k = 10
    for (parts <- Seq(1, 7, 32)) {
      val got = runMg(items, k, parts)
      assert(got.size <= k - 1)
      assert(got.contains("HEAVY"),
        s"item above n/k=${n / k} must survive (parts=$parts)")
      // undercount bounded by n/k; never overcounts
      assert(got("HEAVY") <= 300L && got("HEAVY") >= 300L - n / k,
        s"estimate ${got("HEAVY")} (parts=$parts)")
      got.foreach { case (item, est) =>
        val truth = if (item == "HEAVY") 300L else 1L
        assert(est <= truth && truth - est <= n / k, s"$item=$est")
      }
    }
  }

  test("driver entry: five ranked hitters per source, stopwords dominate") {
    val out = graft.SparkEntry.queries("f_heavy_hitters")(
      spark, "/root/testdata/sf0.001").collect()
    val bySource = out.groupBy(_.getString(0))
    assert(bySource.nonEmpty)
    bySource.foreach { case (_, rows) =>
      assert(rows.length == 5)
      assert(rows.map(_.getInt(2)).sorted.toSeq == Seq(1, 2, 3, 4, 5))
    }
  }

  test("count-min: never undercounts, overcount within 2n/w, and the " +
       "linear merge makes estimates partitioning-invariant") {
    import spark.implicits._
    val depth = 4
    val width = 64
    // 2000 tokens over a 40-word vocabulary + one heavy item
    val items = (0 until 1700).map(i => s"w${i % 40}") ++
      Seq.fill(300)("HEAVY")
    val n = items.size
    def run(parts: Int): Map[String, Long] = {
      val cms = F.udaf(new Sketches.CountMin(depth, width), Encoders.STRING)
      val sk: Array[Long] = items.toDF("tok").repartition(parts)
        .agg(cms(F.col("tok")).as("sk"))
        .collect()(0).getSeq[Long](0).toArray
      (items.distinct.map { item =>
        val est = (0 until depth).map(i =>
          sk(i * width + Sketches.CountMin.bucket(i, item, width))).min
        item -> est
      }).toMap
    }
    val est = run(8)
    val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    truth.foreach { case (item, t) =>
      assert(est(item) >= t, s"$item undercounted: ${est(item)} < $t")
      assert(est(item) <= t + 2L * n / width,
        s"$item overcount ${est(item)} vs $t + ${2L * n / width}")
    }
    assert(run(1) == est && run(17) == est,
      "linear sketch must be exact-deterministic under any partitioning")
  }

  test("kmv state merge: exploding stored survivors through the " +
       "aggregator with any delta equals the one-shot sketch of the union") {
    import spark.implicits._
    val k = 32
    val kmv = F.udaf(new Sketches.Kmv(k), Encoders.scalaLong)
    val all = (0L until 500L).map(v => v * 2654435761L % 100003L)
    def oneShot(vs: Seq[Long]): Seq[Long] =
      vs.toDF("hv").agg(kmv(F.col("hv")).as("sk")).head().getSeq[Long](0)
    // three arbitrary uneven "days" of arrivals
    val days = Seq(all.take(50), all.slice(50, 320), all.drop(320))
    val merged = days.foldLeft(Seq.empty[Long]) { (state, day) =>
      oneShot(state ++ day)
    }
    assert(merged == oneShot(all),
      "incremental state+delta merge must equal the full re-sketch")
  }

  test("kmv: exact below k, estimate within theory error above k, sketch " +
       "identical under any partitioning, duplicates ignored") {
    import spark.implicits._
    val k = 64
    def sketch(values: Seq[Long], parts: Int): Seq[Long] = {
      val kmv = F.udaf(new Sketches.Kmv(k), Encoders.scalaLong)
      values.toDF("v").repartition(parts)
        // the same md5-prefix hash the driver entry uses
        .select(F.expr("CAST(conv(substring(md5(CAST(v AS STRING)), 1, 15)," +
          " 16, 10) AS BIGINT)").as("hv"))
        .agg(kmv(F.col("hv")).as("sk"))
        .head().getSeq[Long](0)
    }
    // below k: the sketch IS the distinct hash set (duplicates ignored)
    val small = Seq(1L, 2L, 3L, 2L, 1L, 4L)
    val smallSk = sketch(small, 3)
    assert(smallSk.length == 4)
    assert(smallSk == smallSk.sorted)
    // above k: bounded at k, partitioning-invariant, estimate near truth
    val n = 5000
    val big = (0L until n).map(identity)
    val sk8 = sketch(big, 8)
    assert(sk8.length == k)
    assert(sketch(big, 1) == sk8 && sketch(big, 17) == sk8,
      "kmv union-merge must be exact under any merge tree")
    val u = sk8.last.toDouble / 1152921504606846976.0
    val est = (k - 1).toDouble / u
    // standard error ~ 1/sqrt(k-2) ~ 12.7%; allow 4 sigma
    assert(math.abs(est - n) < 4 * n / math.sqrt(k - 2.0),
      s"estimate $est vs true $n")
  }

  test("kmv: the md5 and xxhash64 entries agree on groups and n_exact, " +
       "and each estimate is within the KMV error bound") {
    val sf = "/root/testdata/sf0.01"
    def run(name: String) = graft.SparkEntry.queries(name)(spark, sf)
      .collect().map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Long]("n_exact"), r.getAs[Double]("kmv_estimate"))).toMap
    val md5 = run("f_kmv_distinct")
    val fast = run("f_kmv_distinct_fast")
    assert(md5.nonEmpty)
    assert(md5.keySet == fast.keySet)
    assert(md5.map { case (g, (n, _)) => g -> n } ==
      fast.map { case (g, (n, _)) => g -> n })
    val k = 256
    (md5.values ++ fast.values).foreach { case (n, est) =>
      // exact below k; above it the "exact below k" test's 4-sigma bound
      if (n < k) assert(est == n.toDouble, s"estimate $est vs exact $n")
      else assert(math.abs(est - n) < 4 * n / math.sqrt(k - 2.0),
        s"estimate $est vs true $n")
    }
    assert(md5.values.exists(_._1 >= k), "sf0.01 must exercise the k-th " +
      "smallest hash branch")
  }

  test("kmv jaccard: union survivors estimate overlap within theory " +
       "error; driver entry's exact columns match ground truth") {
    import spark.implicits._
    val k = 64
    def sketch(values: Seq[Long]): Seq[Long] = {
      val kmv = F.udaf(new Sketches.Kmv(k), Encoders.scalaLong)
      values.toDF("v").repartition(5)
        .select(F.expr("CAST(conv(substring(md5(CAST(v AS STRING)), 1, 15)," +
          " 16, 10) AS BIGINT)").as("hv"))
        .agg(kmv(F.col("hv")).as("sk"))
        .head().getSeq[Long](0)
    }
    // |A|=|B|=4000, |A∩B|=2000, |A∪B|=6000, J=1/3
    val a = (0L until 4000L)
    val b = (2000L until 6000L)
    val (ska, skb) = (sketch(a), sketch(b))
    val unionK = (ska ++ skb).distinct.sorted.take(k)
    val inb = unionK.count(h => ska.contains(h) && skb.contains(h))
    val unionEst = (k - 1).toDouble /
      (unionK.last.toDouble / 1152921504606846976.0)
    val jac = inb.toDouble / k
    assert(math.abs(unionEst - 6000) < 4 * 6000 / math.sqrt(k - 2.0),
      s"union estimate $unionEst vs 6000")
    // sd of the ρ fraction is sqrt(J(1-J)/k) ~ 5.9%; allow 4 sigma
    assert(math.abs(jac - 1.0 / 3) < 4 * math.sqrt(jac * (1 - jac) / k) + 0.04,
      s"jaccard estimate $jac vs 1/3")
    // the driver entry's ground-truth columns on real testdata
    val sf = "/root/testdata/sf0.001"
    val row = graft.SparkEntry.queries("f_kmv_jaccard")(spark, sf).head()
    val li = graft.Tables.lineitem(spark, sf)
      .select($"l_returnflag", $"l_partkey").as[(String, Long)].collect()
    val setR = li.collect { case ("R", p) => p }.toSet
    val setA = li.collect { case ("A", p) => p }.toSet
    assert(row.getAs[Long]("n_union_exact") == (setR ++ setA).size)
    assert(row.getAs[Long]("n_inter_exact") == (setR & setA).size)
    val trueJ = (setR & setA).size.toDouble / (setR ++ setA).size
    assert(math.abs(row.getAs[Double]("jaccard_est") - trueJ) < 0.25,
      "sf0.001 jaccard estimate should be in the truth's neighborhood")
  }

  test("HLL: register sum replays under any partitioning, and the " +
       "linear-counting-corrected estimate tracks the exact count") {
    val sf = "/root/testdata/sf0.001"
    def run() = graft.SparkEntry.queries("f_hll_distinct")(spark, sf)
      .collect().map(r => (r.getAs[String]("l_returnflag"),
        r.getAs[Long]("n_exact"), r.getAs[Long]("n_buckets"),
        r.getAs[Long]("hll_sum_scaled"), r.getAs[Double]("hll_estimate")))
      .sortBy(_._1)
    val a = run()
    // register maxima are a partitioning-independent function of the key
    // set, so a re-run (fresh shuffles, AQE re-decisions) is identical
    assert(a.sameElements(run()))
    val m = 4096.0
    a.foreach { case (_, exact, nBuckets, _, raw) =>
      val zeros = m - nBuckets
      // the small-range branch the compared columns deliberately omit
      // (ln must stay out of hash-compared output): apply it here and
      // demand real accuracy against the exact count
      val est =
        if (raw <= 2.5 * m && zeros > 0) m * math.log(m / zeros) else raw
      assert(math.abs(est - exact) / exact < 0.05,
        s"corrected HLL $est vs exact $exact")
    }
  }

  test("kll: every probe's exact rank error is within 2% of n, the " +
       "count is exact, and estimates are monotone") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("f_kll_quantile")(spark, sf)
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val cents = graft.Tables.lineitem(spark, sf)
      .selectExpr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100" +
        " AS BIGINT)")
      .collect().map(_.getLong(0)).sorted
    val n = cents.length.toLong
    assert(rows.nonEmpty && rows.forall(_._3 == n))
    rows.foreach { case (p, est, _) =>
      val rank = cents.count(_ <= est).toLong
      assert(math.abs(rank - p * n) <= 0.02 * n,
        s"probe $p est $est rank $rank target ${p * n}")
    }
    assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.toSeq)
  }

  test("kll: driver-side sequential feed conserves weight exactly and " +
       "holds the rank bound on a uniform stream; a merged two-way " +
       "split holds it too") {
    val k = 200
    val probes = Seq(0.01, 0.25, 0.5, 0.75, 0.99)
    val agg = new Sketches.Kll(k, probes)
    val n = 50000
    // deterministic scrambled order: i * 48271 mod 65537 over 1..n
    val xs = (1 to n).map(i => ((i.toLong * 48271L) % 65537L, i.toLong))
      .sortBy(_._1).map(_._2)
    val whole = xs.foldLeft(agg.zero)(agg.reduce)
    // weight conservation: the weighted sample must integrate to n
    val weight = whole.levels.zipWithIndex
      .map { case (l, i) => l.size.toLong * (1L << i) }.sum
    assert(weight == n.toLong && whole.n == n.toLong)
    def check(out: Seq[(Double, Long, Long)]): Unit = {
      assert(out.forall(_._3 == n.toLong))
      out.foreach { case (p, est, _) =>
        // uniform 1..n: exact rank of value v is v itself
        assert(math.abs(est - p * n) <= 0.02 * n, s"probe $p est $est")
      }
    }
    check(agg.finish(whole))
    val (lo, hi) = xs.splitAt(n / 3)
    val merged = agg.merge(lo.foldLeft(agg.zero)(agg.reduce),
      hi.foldLeft(agg.zero)(agg.reduce))
    assert(merged.n == n.toLong)
    check(agg.finish(merged))
  }

  test("misra-gries exactness regime: with k >= #distinct the counters " +
       "ARE the exact frequency table under any partitioning (the " +
       "f_heavy_hitters_exact contract)") {
    // 5 distinct keys, skewed counts, scrambled order
    val rows = (1 to 5000).map(i => s"k${(i * i) % 5}")
    val exact = rows.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    Seq(1, 7).foreach { parts =>
      val got = runMg(rows, k = 64, parts = parts)
      assert(got == exact, s"parts=$parts: $got vs $exact")
    }
  }

  test("kll exactness regime: below k the sketch holds the raw multiset " +
       "and every probe is the exact rank-ceil(p*n) order statistic, " +
       "merge order irrelevant (the f_kll_quantile_exact contract)") {
    val agg = new Sketches.Kll(65536, Sketches.kllProbes)
    val n = 3000
    val xs = (1 to n).map(i => ((i.toLong * 48271L) % 65537L, i.toLong))
      .sortBy(_._1).map(_._2) // scrambled 1..n
    val (a, b) = xs.splitAt(n / 4)
    val merged = agg.merge(a.foldLeft(agg.zero)(agg.reduce),
      b.foldLeft(agg.zero)(agg.reduce))
    agg.finish(merged).foreach { case (p, est, total) =>
      assert(total == n.toLong)
      val want = math.max(1L, math.ceil(p * n).toLong) // value == rank here
      assert(est == want, s"probe $p: $est != $want")
    }
  }

}
