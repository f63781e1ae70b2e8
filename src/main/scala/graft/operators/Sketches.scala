package graft.operators

import graft.{Op, Tables}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Misra-Gries heavy hitters: the mergeable frequent-items summary
  * (Misra & Gries 1982; mergeability per Agarwal et al., "Mergeable
  * Summaries", PODS'12). The buffer holds at most k-1 counters; any item
  * with true frequency > n/k is GUARANTEED to survive, and every
  * surviving estimate undercounts its true frequency by at most n/k.
  *
  * Scale shape: a typed Aggregator, so partial buffers build map-side
  * and the shuffle carries one (k-1)-entry map per group per partition —
  * the only way to take "top vocabulary items" off a 100 TB token stream
  * without shuffling every token occurrence (the exact groupBy-count
  * alternative shuffles the full multiset). Merge subtracts the k-th
  * largest combined count when the union overflows, which preserves both
  * guarantees under any merge tree — estimates therefore vary slightly
  * across partitionings, but the heavy-hitter SET above n/k does not.
  */
object Sketches {

  /** Mutable sketch buffer: key -> single-cell count array, mutated in
    * place. A typed Aggregator is a TypedImperativeAggregate underneath —
    * the buffer lives as a JVM object for a whole partition and only
    * meets its encoder at spill/shuffle boundaries — so the hot loop
    * (reduce, once per token of a 100 TB stream) must not allocate. The
    * previous immutable formulation rebuilt a k-entry Map per token; this
    * one increments a long cell in place (no boxing: the count lives in a
    * one-element Array[Long]) and the decrement step removes entries via
    * the entry iterator. Kryo serializes the map at boundaries (~k
    * entries, negligible next to the shuffle it rides).
    */
  type MGBuf = java.util.HashMap[String, Array[Long]]

  final class MisraGries(k: Int)
      extends Aggregator[String, MGBuf, Map[String, Long]] {
    require(k > 1, s"k must exceed 1, got $k")

    def zero: MGBuf = new MGBuf(2 * k)

    def reduce(c: MGBuf, x: String): MGBuf = {
      val cell = c.get(x)
      if (cell != null) cell(0) += 1
      else if (c.size < k - 1) c.put(x, Array(1L))
      else {
        // decrement-all step: drop zeros in place, skip the new item
        val it = c.values().iterator()
        while (it.hasNext) {
          val v = it.next(); v(0) -= 1
          if (v(0) == 0L) it.remove()
        }
      }
      c
    }

    def merge(a: MGBuf, b: MGBuf): MGBuf = {
      if (a.isEmpty) return b
      if (b.isEmpty) return a
      val bit = b.entrySet().iterator()
      while (bit.hasNext) {
        val e = bit.next()
        val cell = a.get(e.getKey)
        if (cell != null) cell(0) += e.getValue()(0)
        else a.put(e.getKey, e.getValue) // b is dead after merge: safe alias
      }
      if (a.size > k - 1) {
        // subtract the k-th largest count from everything; combined
        // error stays ≤ n/k (Agarwal et al. merge rule)
        val vals = new Array[Long](a.size)
        var i = 0
        val vit = a.values().iterator()
        while (vit.hasNext) { vals(i) = vit.next()(0); i += 1 }
        java.util.Arrays.sort(vals)
        val d = vals(vals.length - k)
        val it = a.values().iterator()
        while (it.hasNext) {
          val cell = it.next()
          cell(0) -= d
          if (cell(0) <= 0L) it.remove()
        }
      }
      a
    }

    def finish(b: MGBuf): Map[String, Long] = {
      val out = Map.newBuilder[String, Long]
      b.forEach((key, cell) => out += key -> cell(0))
      out.result()
    }

    def bufferEncoder: Encoder[MGBuf] = Encoders.kryo[MGBuf]
    def outputEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
  }

  /** Count-min sketch (Cormode & Muthukrishnan 2005): `depth` hash rows
    * of `width` counters; every occurrence increments one counter per
    * row, a point estimate is the MIN over rows. Estimates never
    * undercount, and overcount by more than 2n/width with probability
    * under (1/2)^depth.
    *
    * Unlike Misra-Gries, the merge is plain element-wise ADDITION — the
    * summary is a linear sketch, so estimates are EXACTLY the same under
    * any partitioning or merge tree, which is what makes an engine-
    * portable oracle possible at all. Bucket choice is the engine's
    * md5-replay idiom (first 24 bits of md5("row:item")); production at
    * 100 TB would swap xxhash64 in reduce() exactly like the
    * minhash_md5/minhash_xx pair — the shuffle shape (one depth×width
    * long array per group per partition, never the token multiset) is
    * the part that matters for scale.
    */
  final class CountMin(depth: Int, width: Int)
      extends Aggregator[String, Array[Long], Array[Long]] {
    require(depth >= 1 && width >= 2,
      s"need depth >= 1 and width >= 2, got ($depth, $width)")

    def zero: Array[Long] = new Array[Long](depth * width)

    def reduce(c: Array[Long], x: String): Array[Long] = {
      var i = 0
      while (i < depth) {
        c(i * width + CountMin.bucket(i, x, width)) += 1
        i += 1
      }
      c
    }

    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }

    def finish(b: Array[Long]): Array[Long] = b

    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  object CountMin {
    private val mdTL: ThreadLocal[java.security.MessageDigest] =
      ThreadLocal.withInitial(() =>
        java.security.MessageDigest.getInstance("MD5"))

    /** First 24 bits of md5("row:item") mod width — bit-identical to the
      * SQL `conv(substring(md5(concat(row, ':', item)), 1, 6), 16, 10) %
      * width` both engines evaluate, so driver-side probe indexes and
      * executor-side increments can never disagree.
      */
    def bucket(row: Int, item: String, width: Int): Int = {
      val h = mdTL.get().digest(s"$row:$item".getBytes("UTF-8"))
      (((h(0) & 0xff) << 16) | ((h(1) & 0xff) << 8) | (h(2) & 0xff)) % width
    }
  }

  /** KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et al.
    * 2002; mergeable per Agarwal et al. PODS'12): keep the k smallest
    * DISTINCT hash values; with the k-th smallest normalized to
    * u = h_(k)/2^60, the estimate (k-1)/u is unbiased-to-first-order.
    * The union of two sketches is the k smallest of their union, so the
    * partial-aggregate merge tree computes EXACTLY the sketch of the
    * whole multiset — estimates are partitioning-invariant, which is
    * what lets a DuckDB oracle replay the estimate bit-for-bit (the HLL
    * behind approx_count_distinct is engine-specific; this sketch is
    * portable by construction, the same md5-replay idiom as CountMin).
    *
    * Scale shape: the shuffle carries one <= k-entry sorted array per
    * group per partition, never the value multiset — the bounded-state
    * contract every sketch in this file shares.
    */
  final class Kmv(k: Int)
      extends Aggregator[Long, Array[Long], Seq[Long]] {
    require(k >= 2, s"k must be at least 2, got $k")

    // The buffer is a SORTED DISTINCT primitive array (<= k longs) with a
    // Spark-native array encoder: the first formulation used a kryo'd
    // TreeSet, and kryo (de)serialization of the buffer at every
    // spill/shuffle boundary dominated the aggregate (measured 1.87s ->
    // this version at sf0.1). The hot path once the sketch is full is ONE
    // comparison against the current k-th with no allocation.
    def zero: Array[Long] = Array.emptyLongArray

    def reduce(b: Array[Long], x: Long): Array[Long] = {
      val n = b.length
      if (n >= k && x >= b(n - 1)) return b // common case: reject
      val pos = {
        val i = java.util.Arrays.binarySearch(b, x)
        if (i >= 0) return b // duplicate hash: KMV is over DISTINCT values
        -(i + 1)
      }
      val outLen = math.min(k, n + 1)
      val out = new Array[Long](outLen)
      System.arraycopy(b, 0, out, 0, pos)
      out(pos) = x
      System.arraycopy(b, pos, out, pos + 1, outLen - pos - 1)
      out
    }

    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      if (a.isEmpty) return b
      if (b.isEmpty) return a
      // merge of two sorted distinct arrays, capped at k
      val out = new Array[Long](math.min(k, a.length + b.length))
      var i = 0; var j = 0; var o = 0
      var last = Long.MinValue; var any = false
      while (o < out.length && (i < a.length || j < b.length)) {
        val v =
          if (j >= b.length || (i < a.length && a(i) <= b(j))) {
            val x = a(i); i += 1; x
          } else { val x = b(j); j += 1; x }
        if (!any || v != last) { out(o) = v; o += 1; last = v; any = true }
      }
      if (o == out.length) out else java.util.Arrays.copyOf(out, o)
    }

    def finish(b: Array[Long]): Seq[Long] =
      scala.collection.immutable.ArraySeq.unsafeWrapArray(b)

    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
  }

  /** KLL-style streaming quantile sketch (Karnin, Lang & Liberty, FOCS'16;
    * deterministic alternating-parity compaction in the Manku-Rajagopalan-
    * Lindsay 1998 lineage): a hierarchy of compactor buffers where level i
    * holds items of weight 2^i. When the sketch overflows its budget, the
    * lowest over-capacity level sorts its buffer and promotes every other
    * item to the level above — the surviving half alternates per
    * compaction (the stored parity bit), which cancels rank bias across
    * successive compactions. Capacities decay geometrically (c = 2/3)
    * from k at the top level, giving the KLL space profile: total state
    * is ~3k items regardless of n.
    *
    * Weight conservation is exact: a compaction turns an even count of
    * weight-w items into half as many weight-2w items (an odd leftover
    * stays behind), so the weighted CDF always integrates to exactly n —
    * asserted in SketchesSpec. Estimates are deterministic given an
    * arrival order but NOT partitioning-invariant (compaction is not a
    * linear sketch), so this entry is rows-only: the spec pins the rank
    * error of every probe against the exact CDF instead of a value hash,
    * under two different partitionings.
    *
    * Scale shape: the shuffle carries one ~3k-item buffer per partition —
    * the bounded-state contract of this file — where the exact
    * alternative (percentile_disc) shuffles the full value multiset.
    */
  final class KllBuf {
    var n: Long = 0L
    var levels: Array[scala.collection.mutable.ArrayBuffer[Long]] =
      Array(new scala.collection.mutable.ArrayBuffer[Long])
    var parity: Array[Boolean] = Array(false)
  }

  final class Kll(k: Int, probes: Seq[Double])
      extends Aggregator[Long, KllBuf, Seq[(Double, Long, Long)]] {
    require(k >= 8, s"k must be at least 8, got $k")

    private def capacity(lvl: Int, numLevels: Int): Int = {
      val depth = numLevels - 1 - lvl
      math.max(8, math.ceil(k * math.pow(2.0 / 3.0, depth)).toInt)
    }

    private def totalCap(numLevels: Int): Int =
      (0 until numLevels).map(capacity(_, numLevels)).sum

    private def grow(b: KllBuf, to: Int): Unit = if (b.levels.length < to) {
      b.levels = b.levels.padTo(to,
        null: scala.collection.mutable.ArrayBuffer[Long])
        .map(l => if (l == null)
          new scala.collection.mutable.ArrayBuffer[Long] else l)
      b.parity = b.parity.padTo(to, false)
    }

    /** Compact the lowest over-capacity level (or level 0 if only the
      * total is over) until the sketch fits its budget. */
    private def compress(b: KllBuf): Unit = {
      var guard = 0
      while (b.levels.iterator.map(_.size).sum > totalCap(b.levels.length)
             && guard < 64) {
        guard += 1
        val nl = b.levels.length
        val over = (0 until nl)
          .find(l => b.levels(l).size > capacity(l, nl)).getOrElse(0)
        val buf = b.levels(over)
        if (buf.size < 2) return // nothing compactable; accept overshoot
        grow(b, over + 2)
        val sorted = buf.toArray
        java.util.Arrays.sort(sorted)
        val pairs = sorted.length & ~1 // even prefix; odd leftover stays
        val off = if (b.parity(over)) 1 else 0
        b.parity(over) = !b.parity(over)
        val up = b.levels(over + 1)
        var i = off
        while (i < pairs) { up += sorted(i); i += 2 }
        buf.clear()
        if (pairs < sorted.length) buf += sorted(sorted.length - 1)
      }
    }

    def zero: KllBuf = new KllBuf

    def reduce(b: KllBuf, x: Long): KllBuf = {
      b.levels(0) += x
      b.n += 1
      if (b.levels.iterator.map(_.size).sum > totalCap(b.levels.length))
        compress(b)
      b
    }

    def merge(a: KllBuf, b: KllBuf): KllBuf = {
      a.n += b.n
      grow(a, b.levels.length)
      var i = 0
      while (i < b.levels.length) { a.levels(i) ++= b.levels(i); i += 1 }
      compress(a)
      a
    }

    def finish(b: KllBuf): Seq[(Double, Long, Long)] = {
      if (b.n == 0L) return Seq.empty
      val weighted = b.levels.iterator.zipWithIndex.flatMap { case (l, i) =>
        l.iterator.map(v => (v, 1L << i))
      }.toArray.sortBy(_._1)
      probes.map { p =>
        val target = math.max(1L, math.ceil(p * b.n).toLong)
        var cum = 0L
        var i = 0
        var est = weighted.last._1
        var found = false
        while (i < weighted.length && !found) {
          cum += weighted(i)._2
          if (cum >= target) { est = weighted(i)._1; found = true }
          i += 1
        }
        (p, est, b.n)
      }
    }

    def bufferEncoder: Encoder[KllBuf] = Encoders.kryo[KllBuf]
    def outputEncoder: Encoder[Seq[(Double, Long, Long)]] =
      ExpressionEncoder[Seq[(Double, Long, Long)]]()
  }

  private val cmsDepth = 4
  private val cmsWidth = 64
  private val cmsProbes = Seq("spark", "data", "join", "stream", "table")

  private[operators] val kllProbes =
    Seq(0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99)

  /** alpha_4096 * 4096^2 * 2^49 — the HLL estimate numerator, computed
    * once here (BEFORE `ops`, which interpolates it into the oracle at
    * object init) and embedded in both plans as the same printed literal
    * (Double.toString round-trips to the identical IEEE value).
    */
  private val hllNumerator: Double = {
    val m = 4096.0
    (0.7213 / (1.0 + 1.079 / m)) * m * m * 562949953421312.0
  }

  /** KMV sketch width of the distinct-count entries. */
  private val kmvK = 256

  /** The KMV estimate over the sketch `sk` of 60-bit hashes: the exact
    * count below k distinct hashes, else (k-1)/u with u the k-th
    * smallest hash as a fraction of 2^60 — two IEEE double ops in the
    * same order as the oracle's kmvColsSql.
    */
  private val kmvEstimate =
    when(size(col("sk")) < kmvK, size(col("sk")).cast("double"))
      .otherwise(lit((kmvK - 1).toDouble) /
        (element_at(col("sk"), kmvK).cast("double")
          / lit(1152921504606846976.0)))
      .as("kmv_estimate")

  /** Per-group KMV distinct estimate of l_partkey next to the exact count.
    * Only the 60-bit hash depends on the hash family: the portable md5
    * prefix (`md5_bits`, the oracle's '0x' || substr(md5, 1, 15) cast) or
    * the fast xxhash64 shifted right by 4.
    */
  private def kmvDistinct(s: SparkSession, d: String,
                          portable: Boolean): DataFrame = {
    val kmv = udaf(new Kmv(kmvK), Encoders.scalaLong)
    val hv =
      if (portable)
        graft.functions.GraftFunctions.md5Bits(
          col("l_partkey").cast("string"), 1, 15)
      else shiftrightunsigned(xxhash64(col("l_partkey")), 4)
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_partkey"), hv.as("hv"))
      .groupBy(col("l_returnflag"))
      .agg(kmv(col("hv")).as("sk"),
        countDistinct(col("l_partkey")).as("n_exact"))
      .select(col("l_returnflag"), col("n_exact"),
        element_at(col("sk"), size(col("sk"))).as("kmv_kth"), kmvEstimate)
  }

  /** The oracle's KMV CTE chain: md5-prefix hash `h`, distinct hashes per
    * group `d`, and `r` ranking them with the group's distinct count nd.
    */
  private val kmvRankCtes =
    """h AS (
      |  SELECT l_returnflag,
      |         CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)
      |              AS BIGINT) AS hv
      |  FROM lineitem),
      |d AS (SELECT DISTINCT l_returnflag, hv FROM h),
      |r AS (
      |  SELECT l_returnflag, hv,
      |         row_number() OVER (PARTITION BY l_returnflag
      |                            ORDER BY hv) AS rn,
      |         count(*) OVER (PARTITION BY l_returnflag) AS nd
      |  FROM d)""".stripMargin

  /** kmv_kth and kmv_estimate over `r` (column qualifier `q`, "" or
    * "r."), read at the row kmvPickSql keeps.
    */
  private def kmvColsSql(q: String): String =
    s"""CAST(${q}hv AS BIGINT) AS kmv_kth,
       |       CASE WHEN ${q}nd < $kmvK THEN CAST(${q}nd AS DOUBLE)
       |            ELSE ${kmvK - 1}.0
       |                 / (CAST(${q}hv AS DOUBLE) / 1152921504606846976.0)
       |       END AS kmv_estimate""".stripMargin

  /** The k-th smallest hash's row, or the largest when nd < k. */
  private def kmvPickSql(q: String): String =
    s"${q}rn = CASE WHEN ${q}nd < $kmvK THEN ${q}nd ELSE $kmvK END"

  val ops: Seq[Op] = Seq(
    // Per-source frequent tokens via the sketch, reduced to the top-5 by
    // estimate. Estimates are partition-order dependent by construction
    // (the survivor SET above n/k is not) -> rows-only; the frequency
    // guarantees are asserted in SketchesSpec.
    Op.noOracle("f_heavy_hitters") { (s, d) =>
      val mg = udaf(new MisraGries(k = 20), Encoders.STRING)
      Tables.documents(s, d)
        .select(col("source"),
          explode(graft.llm.TextFeatures.tokens(col("text"))).as("tok"))
        .groupBy(col("source"))
        .agg(mg(col("tok")).as("hitters"))
        .select(col("source"), explode(col("hitters")).as(Seq("tok", "est")))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
            .orderBy(col("est").desc, col("tok"))))
        .filter(col("rank") <= 5)
        .select(col("source"), col("tok"), col("rank"))
    },

    // The EXACTNESS REGIME of the same sketch, hash-compared: when
    // k >= #distinct keys, Misra-Gries counters never decrement, so the
    // sketch IS the exact per-group frequency table under any
    // partitioning or merge order — the regime where a sketch answer
    // can be oracle-compared (the f_cms_freq linear-summary precedent).
    // event_type has 5 distinct values at every SF; k = 64 leaves 12x
    // headroom. The production top-token entry above stays rows-only —
    // its token domain dwarfs any k — and SketchesSpec covers the
    // in-between.
    Op("f_heavy_hitters_exact",
       """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         |       event_type AS tok, CAST(count(*) AS BIGINT) AS est
         |FROM events GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val mg = udaf(new MisraGries(k = 64), Encoders.STRING)
      Tables.events(s, d)
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .groupBy(col("day"))
        .agg(mg(col("event_type")).as("hitters"))
        .select(col("day"), explode(col("hitters")).as(Seq("tok", "est")))
    },

    // Count-min point estimates for a fixed probe vocabulary, per source.
    // The sketch is a linear summary (merge = vector add), so estimates
    // are partitioning-invariant and the DuckDB oracle can replay them
    // EXACTLY: per-(source, row, bucket) counts in SQL, probe buckets
    // from the same md5 formula, min over rows. Probe indexes on the
    // Spark side are LITERALS (driver-computed from the shared bucket
    // function) — `least(element_at...)` over four constant positions,
    // fully codegen'd, no lambda.
    Op("f_cms_freq",
       s"""WITH occ AS (
          |  SELECT source,
          |         unnest(${graft.llm.TextFeatures.toksSql}) AS tok
          |  FROM documents),
          |rows_i AS (SELECT unnest(range($cmsDepth)) AS i),
          |cells AS (
          |  SELECT source, i,
          |         CAST(CAST('0x' || substr(md5(concat(i, ':', tok)), 1, 6)
          |              AS BIGINT) % $cmsWidth AS INT) AS bucket,
          |         count(*) AS c
          |  FROM occ, rows_i GROUP BY 1, 2, 3),
          |probes AS (
          |  SELECT unnest([${cmsProbes.map(p => s"'$p'").mkString(", ")}])
          |    AS tok),
          |pb AS (
          |  SELECT p.tok, r.i,
          |         CAST(CAST('0x' || substr(md5(concat(r.i, ':', p.tok)), 1, 6)
          |              AS BIGINT) % $cmsWidth AS INT) AS bucket
          |  FROM probes p, rows_i r),
          |src AS (SELECT DISTINCT source FROM documents),
          |est AS (
          |  SELECT s.source, pb.tok, min(coalesce(c.c, 0)) AS est
          |  FROM src s CROSS JOIN pb
          |  LEFT JOIN cells c
          |    ON c.source = s.source AND c.i = pb.i AND c.bucket = pb.bucket
          |  GROUP BY 1, 2)
          |SELECT source, tok, CAST(est AS BIGINT) AS est FROM est""".stripMargin) {
      (s, d) =>
        val cms = udaf(new CountMin(cmsDepth, cmsWidth), Encoders.STRING)
        val sk = Tables.documents(s, d)
          .select(col("source"),
            explode(graft.llm.TextFeatures.tokens(col("text"))).as("tok"))
          .groupBy(col("source"))
          .agg(cms(col("tok")).as("sk"))
        val estimates = cmsProbes.map { p =>
          val cells = (0 until cmsDepth).map(i =>
            element_at(col("sk"),
              i * cmsWidth + CountMin.bucket(i, p, cmsWidth) + 1))
          struct(lit(p).as("tok"),
            (if (cells.size == 1) cells.head else least(cells: _*)).as("est"))
        }
        sk.select(col("source"), explode(array(estimates: _*)).as("e"))
          .select(col("source"), col("e.tok").as("tok"), col("e.est").as("est"))
    },

    // KMV distinct estimate per group next to the exact count — the
    // portable alternative to approx_count_distinct's engine-specific
    // HLL. The hash is the shared md5-prefix idiom (60 bits via
    // conv/'0x'-cast), the k-th smallest distinct hash replays as a
    // row_number pick, and the estimate is two IEEE double ops in the
    // same order on both engines — so sketch content AND estimate
    // hash-match exactly.
    Op("f_kmv_distinct",
       s"""WITH $kmvRankCtes,
          |ex AS (
          |  SELECT l_returnflag,
          |         CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact
          |  FROM lineitem GROUP BY 1)
          |SELECT r.l_returnflag, ex.n_exact,
          |       ${kmvColsSql("r.")}
          |FROM r JOIN ex ON ex.l_returnflag = r.l_returnflag
          |WHERE ${kmvPickSql("r.")}""".stripMargin)(
      kmvDistinct(_, _, portable = true)),

    // Incremental distinct-count maintenance: "yesterday's" stored KMV
    // states absorb a delta batch by EXPLODING the survivor hashes back
    // through the same aggregator — KMV(stored survivors ∪ delta hashes)
    // is definitionally KMV(full multiset) because dropped hashes can
    // never re-enter the k smallest. The oracle is the one-shot sketch of
    // EVERYTHING: hash equality PROVES merge(state, delta) == re-sketch,
    // the sketch analog of ivm_merge_agg. At 100 TB the state is k longs
    // per group — the only thing the nightly merge ever shuffles.
    Op("ivm_merge_distinct",
       s"""WITH $kmvRankCtes
          |SELECT l_returnflag,
          |       ${kmvColsSql("")}
          |FROM r
          |WHERE ${kmvPickSql("")}""".stripMargin) { (s, d) =>
      val kmv = udaf(new Kmv(kmvK), Encoders.scalaLong)
      val hv = graft.functions.GraftFunctions.md5Bits(
        col("l_partkey").cast("string"), 1, 15)
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_orderkey"), hv.as("hv"))
      val stored = li.filter(col("l_orderkey") % 4 =!= 0)
        .groupBy(col("l_returnflag")).agg(kmv(col("hv")).as("sk"))
      val deltaHashes = li.filter(col("l_orderkey") % 4 === 0)
        .select(col("l_returnflag"), col("hv"))
      stored.select(col("l_returnflag"), explode(col("sk")).as("hv"))
        .unionByName(deltaHashes)
        .groupBy(col("l_returnflag")).agg(kmv(col("hv")).as("sk"))
        .select(col("l_returnflag"),
          element_at(col("sk"), size(col("sk"))).as("kmv_kth"), kmvEstimate)
    },

    // The same KMV sketch in the xxhash64 hash family (see kmvDistinct),
    // without kmv_kth. Hash-family-specific values, so rows-only;
    // SketchesSpec asserts the two families agree on groups and n_exact
    // and that both estimates sit within the KMV error bound.
    Op.noOracle("f_kmv_distinct_fast") { (s, d) =>
      kmvDistinct(s, d, portable = false).drop("kmv_kth")
    },

    // KMV SET OPERATIONS (Beyer et al., SIGMOD'07 "On synopses for
    // distinct-value estimation under multiset operations"): the k
    // smallest of SA ∪ SB is a valid k-sketch of A ∪ B (any hash below
    // the combined k-th must be in one of the input sketches), and the
    // fraction ρ of those union survivors present in BOTH input sketches
    // estimates Jaccard, so |A∩B| ≈ ρ · |A∪B|. This is how a 100 TB
    // pipeline measures cross-corpus overlap WITHOUT a distinct-join:
    // each side ships one k-long array, the comparison is driver-trivial.
    // Everything is deterministic given the md5 hash — the oracle replays
    // sketch contents AND all three estimates bit-for-bit (the division /
    // multiplication order is pinned identically on both engines). The
    // under-k branch degenerates to EXACT values by construction (the
    // sketches then hold every distinct hash).
    Op("f_kmv_jaccard", {
      val k = 256
      s"""WITH h AS (
         |  SELECT l_returnflag AS s,
         |         CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)
         |              AS BIGINT) AS hv
         |  FROM lineitem WHERE l_returnflag IN ('R', 'A')),
         |d AS (SELECT DISTINCT s, hv FROM h),
         |r AS (
         |  SELECT s, hv, row_number() OVER (PARTITION BY s ORDER BY hv) AS rn
         |  FROM d),
         |ska AS (SELECT hv FROM r WHERE s = 'R' AND rn <= $k),
         |skb AS (SELECT hv FROM r WHERE s = 'A' AND rn <= $k),
         |u AS (
         |  SELECT hv, row_number() OVER (ORDER BY hv) AS rn
         |  FROM (SELECT hv FROM ska UNION SELECT hv FROM skb)
         |  QUALIFY rn <= $k),
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS kk,
         |         max(u.hv) AS kth,
         |         CAST(count(*) FILTER (
         |           WHERE u.hv IN (SELECT hv FROM ska)
         |             AND u.hv IN (SELECT hv FROM skb)) AS BIGINT) AS inb
         |  FROM u),
         |ex AS (
         |  SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_union_exact,
         |         CAST(count(DISTINCT CASE WHEN rf = 3 THEN l_partkey END)
         |              AS BIGINT) AS n_inter_exact
         |  FROM (SELECT l_partkey,
         |               sum(DISTINCT CASE l_returnflag
         |                   WHEN 'R' THEN 1 WHEN 'A' THEN 2 END) AS rf
         |        FROM lineitem WHERE l_returnflag IN ('R', 'A')
         |        GROUP BY 1))
         |SELECT ex.n_union_exact, ex.n_inter_exact, m.kth AS kmv_kth,
         |       CASE WHEN m.kk < $k THEN CAST(m.kk AS DOUBLE)
         |            ELSE ${k - 1}.0
         |                 / (CAST(m.kth AS DOUBLE) / 1152921504606846976.0)
         |       END AS union_est,
         |       CAST(m.inb AS DOUBLE) / CAST(m.kk AS DOUBLE) AS jaccard_est,
         |       (CAST(m.inb AS DOUBLE) / CAST(m.kk AS DOUBLE))
         |       * (CASE WHEN m.kk < $k THEN CAST(m.kk AS DOUBLE)
         |               ELSE ${k - 1}.0
         |                    / (CAST(m.kth AS DOUBLE) / 1152921504606846976.0)
         |          END) AS inter_est
         |FROM m, ex""".stripMargin
    }) { (s, d) =>
      val k = 256
      val kmv = udaf(new Kmv(k), Encoders.scalaLong)
      val hv = graft.functions.GraftFunctions.md5Bits(
        col("l_partkey").cast("string"), 1, 15)
      val li = Tables.lineitem(s, d)
        .filter(col("l_returnflag").isin("R", "A"))
        .select(col("l_returnflag").as("s"), col("l_partkey"), hv.as("hv"))
      // The sketches: one keyed aggregate, two rows, pivoted to one with a
      // trivially-bounded final agg (each cell is a <= k-long array).
      val perSet = li.groupBy(col("s")).agg(kmv(col("hv")).as("sk"))
      val wide = perSet.agg(
        first(when(col("s") === "R", col("sk")), ignoreNulls = true).as("ska"),
        first(when(col("s") === "A", col("sk")), ignoreNulls = true).as("skb"))
      // Ground truth next to the estimate, as distributed aggregates (a
      // per-key set-membership bitmask, never a collected key array):
      // union = every distinct key, intersection = keys tagged by both.
      val exact = li.select(col("l_partkey"),
          when(col("s") === "R", 1).otherwise(2).as("tag"))
        .groupBy(col("l_partkey"))
        .agg(sum_distinct(col("tag")).as("rf"))
        .agg(count(lit(1)).as("n_union_exact"),
          count(when(col("rf") === 3, 1)).as("n_inter_exact"))
      // k smallest of the merged sketches = the union's k-sketch.
      val unionK = slice(array_sort(array_union(col("ska"), col("skb"))), 1, k)
      val kk = size(col("u")).cast("long")
      val kth = element_at(col("u"), size(col("u")))
      val inb = size(filter(col("u"), h =>
        array_contains(col("ska"), h) && array_contains(col("skb"), h)))
        .cast("long")
      val unionEst = when(kk < k, kk.cast("double"))
        .otherwise(lit((k - 1).toDouble) /
          (kth.cast("double") / lit(1152921504606846976.0)))
      val jacEst = inb.cast("double") / kk.cast("double")
      wide.select(col("ska"), col("skb"), unionK.as("u"))
        .crossJoin(broadcast(exact))
        .select(col("n_union_exact"), col("n_inter_exact"),
          kth.as("kmv_kth"), unionEst.as("union_est"),
          jacEst.as("jaccard_est"), (jacEst * unionEst).as("inter_est"))
    },

    // HYPERLOGLOG (Flajolet et al. 2007; the stochastic-averaging
    // counter behind every engine's approx_count_distinct): m = 2^12
    // registers per group; the first 12 hash bits pick a register, the
    // register keeps the MAX rank (leading-zero run + 1) of the
    // remaining 48 bits, and the estimate is alpha_m * m^2 over the
    // harmonic sum of 2^-register.
    //
    // Versus KMV (k sorted hashes) the state is FIXED at m bytes-ish
    // per group and the merge is an elementwise register max — the
    // shuffle after the map-side partial carries <= m rows per group
    // per partition, never the key multiset, and register maxima are
    // partitioning-independent, so the summary is exactly reproducible
    // on any cluster layout. That is the 100 TB contract: per-source
    // cardinality off a full corpus for the price of one keyed agg.
    //
    // Exactness protocol: ranks are <= 49, so the harmonic sum is kept
    // as the INTEGER S' = sum_j 2^(49 - M_j) (empty registers
    // contribute 2^49 each; max total 2^61 fits BIGINT) — both engines
    // compare S' bit-for-bit, and the float estimate is one literal /
    // cast division (alpha*m^2*2^49 as a Scala-printed literal, parsed
    // to the same IEEE double by both engines — the fsOracle idiom).
    // The small-range linear-counting branch needs ln so it stays OUT
    // of compared columns (the ieee_ln caveat); SketchesSpec applies it
    // from the emitted components and checks accuracy against n_exact.
    Op("f_hll_distinct", {
      s"""WITH h AS (
         |  SELECT l_returnflag,
         |         CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)
         |              AS BIGINT) AS hv
         |  FROM lineitem),
         |r AS (
         |  SELECT l_returnflag, hv >> 48 AS bucket,
         |         max(CASE WHEN (hv & 281474976710655) = 0 THEN 49
         |                  ELSE 49 - length(bin(hv & 281474976710655)) END)
         |           AS m
         |  FROM h GROUP BY 1, 2),
         |a AS (
         |  SELECT l_returnflag,
         |         CAST(sum(CAST(1 AS BIGINT) << (49 - m)) AS BIGINT)
         |           AS s_used,
         |         CAST(count(*) AS BIGINT) AS n_buckets
         |  FROM r GROUP BY 1),
         |ex AS (
         |  SELECT l_returnflag,
         |         CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact
         |  FROM lineitem GROUP BY 1)
         |SELECT a.l_returnflag, ex.n_exact, a.n_buckets,
         |       a.s_used + (4096 - a.n_buckets) * 562949953421312
         |         AS hll_sum_scaled,
         |       CAST('$hllNumerator' AS DOUBLE)
         |       / CAST(a.s_used + (4096 - a.n_buckets) * 562949953421312
         |              AS DOUBLE) AS hll_estimate
         |FROM a JOIN ex USING (l_returnflag)""".stripMargin
    }) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val hv = graft.functions.GraftFunctions.md5Bits(
        col("l_partkey").cast("string"), 1, 15)
      val rem = col("hv").bitwiseAND(lit(281474976710655L))
      val rank = when(rem === 0L, 49)
        .otherwise(lit(49) - length(bin(rem)))
      val regs = li.select(col("l_returnflag"), hv.as("hv"))
        .select(col("l_returnflag"),
          shiftrightunsigned(col("hv"), 48).as("bucket"), rank.as("m"))
        .groupBy(col("l_returnflag"), col("bucket"))
        .agg(max(col("m")).as("m"))
      val agg = regs.groupBy(col("l_returnflag"))
        .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 49 - m)")).as("s_used"),
          count(lit(1)).as("n_buckets"))
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_exact"))
      val sScaled = col("s_used") +
        (lit(4096L) - col("n_buckets")) * lit(562949953421312L)
      agg.join(broadcast(exact), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n_exact"), col("n_buckets"),
          sScaled.as("hll_sum_scaled"),
          (lit(hllNumerator) / sScaled.cast("double")).as("hll_estimate"))
    },

    // HLL UNION — the reason HLL beats KMV for fleet-wide rollups: the
    // union sketch is the elementwise register MAX, a lossless merge
    // (max commutes with max), so per-source sketches built on
    // different days/clusters combine into exact union registers
    // without touching raw data. The engine builds the R and A flag
    // sketches SEPARATELY and merges them; the oracle sketches the
    // union stream directly — hash equality PROVES
    // merge(sk_R, sk_A) == sketch(R ∪ A), the sketch-algebra analog of
    // ivm_merge_distinct. Same integer S' protocol as f_hll_distinct.
    Op("f_hll_union", {
      s"""WITH h AS (
         |  SELECT CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)
         |              AS BIGINT) AS hv
         |  FROM lineitem WHERE l_returnflag IN ('R', 'A')),
         |r AS (
         |  SELECT hv >> 48 AS bucket,
         |         max(CASE WHEN (hv & 281474976710655) = 0 THEN 49
         |                  ELSE 49 - length(bin(hv & 281474976710655)) END)
         |           AS m
         |  FROM h GROUP BY 1),
         |a AS (
         |  SELECT CAST(sum(CAST(1 AS BIGINT) << (49 - m)) AS BIGINT)
         |           AS s_used,
         |         CAST(count(*) AS BIGINT) AS n_buckets
         |  FROM r),
         |ex AS (
         |  SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_union_exact
         |  FROM lineitem WHERE l_returnflag IN ('R', 'A'))
         |SELECT ex.n_union_exact, a.n_buckets,
         |       a.s_used + (4096 - a.n_buckets) * 562949953421312
         |         AS hll_sum_scaled,
         |       CAST('$hllNumerator' AS DOUBLE)
         |       / CAST(a.s_used + (4096 - a.n_buckets) * 562949953421312
         |              AS DOUBLE) AS hll_estimate
         |FROM a, ex""".stripMargin
    }) { (s, d) =>
      val li = Tables.lineitem(s, d)
        .filter(col("l_returnflag").isin("R", "A"))
      val hv = graft.functions.GraftFunctions.md5Bits(
        col("l_partkey").cast("string"), 1, 15)
      val rem = col("hv").bitwiseAND(lit(281474976710655L))
      val rank = when(rem === 0L, 49)
        .otherwise(lit(49) - length(bin(rem)))
      // per-FLAG registers first, then the elementwise-max merge — the
      // step the op exists to prove; the oracle skips straight to the
      // union stream
      val perFlag = li.select(col("l_returnflag"), hv.as("hv"))
        .select(col("l_returnflag"),
          shiftrightunsigned(col("hv"), 48).as("bucket"), rank.as("m"))
        .groupBy(col("l_returnflag"), col("bucket"))
        .agg(max(col("m")).as("m"))
      val merged = perFlag.groupBy(col("bucket")).agg(max(col("m")).as("m"))
      val agg = merged.agg(
        sum(expr("shiftleft(CAST(1 AS BIGINT), 49 - m)")).as("s_used"),
        count(lit(1)).as("n_buckets"))
      val exact = li.agg(
        countDistinct(col("l_partkey")).as("n_union_exact"))
      val sScaled = col("s_used") +
        (lit(4096L) - col("n_buckets")) * lit(562949953421312L)
      agg.crossJoin(broadcast(exact))
        .select(col("n_union_exact"), col("n_buckets"),
          sScaled.as("hll_sum_scaled"),
          (lit(hllNumerator) / sScaled.cast("double")).as("hll_estimate"))
    },

    // SLIDING-WINDOW HLL — the "sketch cube" pattern that makes
    // rolling distinct-count dashboards affordable at 100 TB: distinct
    // users per TRAILING 7-day window, per day, WITHOUT ever
    // re-scanning raw events per window. Daily register sketches are
    // built once (one keyed agg); each (day, bucket, m) row then fans
    // out map-side to the <= 7 window-end days it serves (the
    // e_hopping_window trick applied to sketch state), and the
    // register-max merge per (window_end, bucket) is the lossless HLL
    // union — so window cost is 7x the SKETCH size, not 7x the data.
    // Exact trailing distinct counts ride along from the (user, day)
    // distinct table through the same fan-out for the accuracy readout.
    // Same integer S' protocol as f_hll_distinct.
    Op("f_hll_sliding", {
      s"""WITH days AS (
         |  SELECT DISTINCT date_diff('day', DATE '1970-01-01',
         |                            CAST(ts AS DATE)) AS day
         |  FROM events),
         |h AS (
         |  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
         |           AS day,
         |         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
         |              AS BIGINT) AS hv
         |  FROM events),
         |r AS (
         |  SELECT day, hv >> 48 AS bucket,
         |         max(CASE WHEN (hv & 281474976710655) = 0 THEN 49
         |                  ELSE 49 - length(bin(hv & 281474976710655)) END)
         |           AS m
         |  FROM h GROUP BY 1, 2),
         |fan AS (
         |  SELECT r.day + k AS wend, r.bucket, r.m
         |  FROM r, unnest(range(0, 7)) t(k)),
         |merged AS (
         |  SELECT f.wend, f.bucket, max(f.m) AS m
         |  FROM fan f JOIN days d ON d.day = f.wend
         |  GROUP BY 1, 2),
         |a AS (
         |  SELECT wend,
         |         CAST(sum(CAST(1 AS BIGINT) << (49 - m)) AS BIGINT)
         |           AS s_used,
         |         CAST(count(*) AS BIGINT) AS n_buckets
         |  FROM merged GROUP BY 1),
         |ud AS (
         |  SELECT DISTINCT date_diff('day', DATE '1970-01-01',
         |                            CAST(ts AS DATE)) AS day, user_id
         |  FROM events),
         |ex AS (
         |  SELECT wend, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
         |  FROM (SELECT u.day + k AS wend, u.user_id
         |        FROM ud u, unnest(range(0, 7)) t(k))
         |  JOIN days d ON d.day = wend GROUP BY 1)
         |SELECT a.wend AS day, ex.n_exact, a.n_buckets,
         |       a.s_used + (4096 - a.n_buckets) * 562949953421312
         |         AS hll_sum_scaled,
         |       CAST('$hllNumerator' AS DOUBLE)
         |       / CAST(a.s_used + (4096 - a.n_buckets) * 562949953421312
         |              AS DOUBLE) AS hll_estimate
         |FROM a JOIN ex ON ex.wend = a.wend""".stripMargin
    }) { (s, d) =>
      val ev = Tables.events(s, d)
      val day = unix_date(to_date(col("ts"))).cast("long").as("day")
      val days = ev.select(day).distinct()
      val hv = graft.functions.GraftFunctions.md5Bits(
        col("user_id").cast("string"), 1, 15)
      val rem = col("hv").bitwiseAND(lit(281474976710655L))
      val rank = when(rem === 0L, 49)
        .otherwise(lit(49) - length(bin(rem)))
      val regs = ev.select(day, hv.as("hv"))
        .select(col("day"),
          shiftrightunsigned(col("hv"), 48).as("bucket"), rank.as("m"))
        .groupBy(col("day"), col("bucket"))
        .agg(max(col("m")).as("m"))
      val merged = regs
        .select(col("day"), col("bucket"), col("m"),
          explode(sequence(lit(0L), lit(6L))).as("k"))
        .select((col("day") + col("k")).as("wend"), col("bucket"), col("m"))
        .join(broadcast(days.withColumnRenamed("day", "wend")), "wend")
        .groupBy(col("wend"), col("bucket")).agg(max(col("m")).as("m"))
      val agg = merged.groupBy(col("wend"))
        .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 49 - m)")).as("s_used"),
          count(lit(1)).as("n_buckets"))
      val exact = ev.select(day, col("user_id")).distinct()
        .select(col("day"), col("user_id"),
          explode(sequence(lit(0L), lit(6L))).as("k"))
        .select((col("day") + col("k")).as("wend"), col("user_id"))
        .join(broadcast(days.withColumnRenamed("day", "wend")), "wend")
        .groupBy(col("wend"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      val sScaled = col("s_used") +
        (lit(4096L) - col("n_buckets")) * lit(562949953421312L)
      agg.join(exact, "wend")
        .select(col("wend").as("day"), col("n_exact"), col("n_buckets"),
          sScaled.as("hll_sum_scaled"),
          (lit(hllNumerator) / sScaled.cast("double")).as("hll_estimate"))
    },

    // KLL quantile profile of extended price — the mergeable-summary
    // answer to "give me the p1/p5/quartiles/p95/p99 of a 100 TB column
    // in one pass with bounded memory" (see the Kll scaladoc for the
    // sketch contract and why this entry is rows-only). k = 200 targets
    // ~1% worst-case rank error; SketchesSpec pins every probe's exact
    // rank error under two partitionings and the exact weight budget.
    Op.noOracle("f_kll_quantile") { (s, d) =>
      val sk = udaf(new Kll(200, kllProbes), Encoders.scalaLong)
      Tables.lineitem(s, d)
        .select(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100" +
          " AS BIGINT)").as("cents"))
        .agg(sk(col("cents")).as("qs"))
        .select(explode(col("qs")).as("q"))
        .select(col("q._1").as("probe"), col("q._2").as("est_cents"),
          col("q._3").as("n"))
    },

    // The EXACTNESS REGIME of the KLL sketch, hash-compared: below k
    // items no compaction ever fires (level-0 capacity IS k), so the
    // sketch holds the raw value multiset and each probe returns the
    // exact lower order statistic at rank max(1, ceil(p*n)) — under any
    // partitioning, since merge just concatenates sub-k buffers. k =
    // 65536 covers the supplier dimension through sf6 (10k rows at
    // sf1); the oracle replays the identical rank selection with
    // percentile-by-position over the sorted balances. The lineitem
    // entry above stays rows-only — the compaction path's estimates are
    // arrival-order-dependent by design (rank error pinned in
    // SketchesSpec instead).
    Op("f_kll_quantile_exact", {
      val probesSql = kllProbes.mkString("[", ", ", "]")
      s"""WITH v AS (
         |  SELECT CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
         |           AS cents
         |  FROM supplier),
         |s AS (
         |  SELECT list(cents ORDER BY cents) AS xs,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM v),
         |p AS (SELECT unnest($probesSql) AS probe)
         |SELECT p.probe,
         |       s.xs[CAST(greatest(1, ceil(p.probe * s.n)) AS BIGINT)]
         |         AS est_cents,
         |       s.n
         |FROM p, s""".stripMargin
    }) { (s, d) =>
      val sk = udaf(new Kll(65536, kllProbes), Encoders.scalaLong)
      Tables.supplier(s, d)
        .select(expr("CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100" +
          " AS BIGINT)").as("cents"))
        .agg(sk(col("cents")).as("qs"))
        .select(explode(col("qs")).as("q"))
        .select(col("q._1").as("probe"), col("q._2").as("est_cents"),
          col("q._3").as("n"))
    }
  )

}
