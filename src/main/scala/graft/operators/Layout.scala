package graft.operators

import graft.{Op, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Z-order clustered layout — multi-dimensional data skipping, the
  * storage-layout tool next to bucketing (equi-join locality),
  * compaction (file sizing), and ANALYZE (optimizer stats).
  *
  * A single-column sort gives a reader perfect min/max pruning on ONE
  * dimension and none on any other: sort lineitem by l_orderkey and
  * every file's l_partkey span is the full domain, so a partkey
  * predicate reads everything. Interleaving the bits of both keys'
  * QUANTILE RANKS (Morton/Z-value over rank space) and clustering files
  * along that curve bounds every file's span on BOTH dimensions — a 2-D
  * predicate prunes to ~sqrt of the files instead of all of them
  * (Morton 1966; the technique under Delta/Iceberg OPTIMIZE ZORDER).
  *
  * RANK space, not raw keys: interleaving raw values only tiles evenly
  * when both domains are power-of-2 and uniform. Real keys are neither —
  * measured on lineitem (orderkey max 150k, partkey max 20k), raw-bit
  * interleave left mean per-file partkey spans at 0.83 of the domain
  * because the equi-depth file cuts land mid-cell of the lopsided
  * curve. Ranks are uniform on [0, 2^bits) BY CONSTRUCTION, so cells
  * align with cuts at any skew — exactly why Delta's ZORDER interleaves
  * range-partition ids.
  *
  * Two surfaces:
  *   - `writeZOrdered`: the 100 TB path. Per column, ONE approx-quantile
  *     pass (GK sketch, O(buckets) driver state) yields frozen rank
  *     boundaries; the native zorder_rank expression binary-searches
  *     them per row (codegen, no window, no extra shuffle); the z-value
  *     of the interleaved ranks feeds `repartitionByRange` + an
  *     in-partition sort — the same cost shape as a plain sorted write.
  *   - the `layout_zorder` query op: the skipping STATISTICS themselves —
  *     per z-run row counts and min/max key spans, i.e. the footer stats
  *     a pruning reader consults. Ranks come from exact ntile windows
  *     with unique tiebreaks (the deterministic test-scale mirror of the
  *     sampled boundaries, which are not bit-reproducible across
  *     engines), so the DuckDB oracle replays the whole curve verbatim.
  */
object Layout {

  /** Morton z-value: interleave the low `bits` bits of two non-negative
    * bigint columns — a's bit i lands at position 2i, b's at 2i+1.
    * Pure shift/mask/add expression tree: codegen'd, map-only.
    */
  def zvalue(a: Column, b: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  private def zvalueSql(a: String, b: String, bits: Int): String =
    (0 until bits).map { i =>
      s"((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  /** The clustering transform behind [[writeZOrdered]]: rows ordered
    * along the z-curve of (c1, c2) rank space, as `numFiles` range
    * partitions each sorted within. Exposed separately so the plan is
    * testable: one approx-quantile pass per column (GK sketch, driver
    * holds O(2^rankBits) boundaries), then a purely map-side
    * zorder_rank + interleave, one range shuffle, in-partition sort —
    * NO window, no single-partition stage (LayoutSpec asserts this).
    */
  def zOrdered(df: DataFrame, c1: String, c2: String,
               rankBits: Int = 10, numFiles: Int = 16): DataFrame = {
    val nb = 1 << rankBits
    val probs = (1 until nb).map(_.toDouble / nb).toArray
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    def rank(c: String): Column = {
      val bounds = df.stat.approxQuantile(c, probs, 1.0 / (4 * nb))
      graft.functions.GraftFunctions.rankBucket(
        col(c).cast("double"), bounds.toSeq)
    }
    df.withColumn("__z", zvalue(rank(c1), rank(c2), rankBits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Write `df` clustered along the z-curve of (c1, c2) rank space into
    * `numFiles` range partitions, sorted within each so row-group
    * min/max stats are tight on both dimensions. `rankBits` bounds the
    * quantile resolution (2^rankBits buckets per column).
    */
  def writeZOrdered(df: DataFrame, path: String, c1: String, c2: String,
                    rankBits: Int = 10, numFiles: Int = 16): Unit =
    zOrdered(df, c1, c2, rankBits, numFiles)
      .write.mode("overwrite").parquet(path)

  /** Hilbert d-index of a 2-D rank cell (Hilbert 1891 via the standard
    * Warren "Hacker's Delight" xy→d fold): per level, quadrant digit
    * (3·rx)⊕ry weighted s², then the flip+swap rotation that keeps the
    * curve CONTINUOUS — every consecutive pair of d values is an
    * edge-adjacent cell, which Morton loses at every power-of-2 seam
    * (the z-curve's diagonal jumps are why Hilbert clustering gives
    * tighter per-file spans at the same rank resolution). Pure integer
    * loop, bounded by `bits` iterations — map-only on the JVM side and
    * replayed level-by-level by a recursive CTE in the oracle.
    */
  def hilbertIndex(x0: Long, y0: Long, bits: Int): Long =
    graft.functions.LayoutKernels.hilbertD(x0, y0, bits)

  /** Exact global ntile WITHOUT a single-partition window — the scale
    * fix for the layout stats ops (r14). Two-phase exact rank over a
    * DETERMINISTIC partitioning:
    *
    *   1. Every row gets a range-bucket id from the native `zorder_rank`
    *      binary search over FROZEN equal-width boundaries on the lead
    *      key ([lo, hi] from the caller — one min/max pass, or the known
    *      rank-space domain for free). Frozen literals make the bucket a
    *      pure function of the row, so independent jobs over the same
    *      input agree on it — no sampling job and NO materialization
    *      barrier, where `repartitionByRange` would re-sample per
    *      execution and force a checkpoint.
    *   2. One hash exchange on the bucket id; `row_number() OVER
    *      (PARTITION BY bucket ORDER BY keys)` reuses that partitioning
    *      (no second exchange, every bucket ranks in parallel).
    *   3. Per-bucket counts (a map-side-collapsed aggregate — ≤ a few ×
    *      shuffle-partitions groups) cumulate on the driver into bucket
    *      offsets, attached as a literal-map lookup; global rank =
    *      offset + local rank.
    *
    * SQL NTILE is then literal arithmetic on the exact rank: with N rows
    * and n buckets, the first N mod n tiles hold N/n+1 rows, the rest
    * N/n. Identical output to `ntile(n) OVER (ORDER BY keys)` for any
    * UNIQUE key order — which is what the DuckDB oracle replays — but
    * every stage is parallel; the old form moved the whole relation to
    * ONE task per window (the `WindowExec: No Partition Defined`
    * warning, three times per op). Equal-width bucketing only affects
    * BALANCE, never rank values; the lead keys here (TPC-H surrogate
    * keys, interleaved rank spaces) are near-uniform by construction.
    */
  /** Frozen equal-width boundaries over [lo, hi] for [[bucketOf]]. */
  private def boundsFor(lo: Double, hi: Double, nb: Int): Seq[Double] =
    if (hi > lo) (1 until nb).map(i => lo + (hi - lo) * i / nb)
      .distinct.sorted
    else Seq(lo) // degenerate domain: one bucket

  /** Deterministic range-bucket id of `leadName` under frozen literal
    * boundaries — the native zorder_rank binary search, a pure function
    * of the row, so independent jobs agree on it with no checkpoint.
    */
  private def bucketOf(leadName: String, bounds: Seq[Double]): Column =
    graft.functions.GraftFunctions.rankBucket(
      col(leadName).cast("double"), bounds)

  /** Cumulative bucket offsets (dense array indexed by bucket id) from
    * per-bucket counts.
    */
  private def offsetsOf(counts: Seq[(Long, Long)], nb: Int): Seq[Long] = {
    val byId = counts.toMap
    var acc = 0L
    (0 to nb).map { b => val o = acc; acc += byId.getOrElse(b.toLong, 0L); o }
  }

  private def withExactNtile(df: DataFrame, keys: Seq[Column],
                             bucket: Column, offsets: Seq[Long],
                             total: Long, buckets: Int,
                             out: String): DataFrame = {
    val parts =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val rn = row_number().over(
      Window.partitionBy(col("__b")).orderBy(keys: _*))
    val q = total / buckets
    val r = total % buckets
    val cutoff = r * (q + 1)
    def idiv(a: Column, k: Long): Column =
      org.apache.spark.sql.functions.call_function("div", a, lit(k))
    df.withColumn("__b", bucket)
      .repartition(parts, col("__b"))
      .withColumn("__seq", // dense-array offset lookup: O(1) per row
        element_at(typedlit(offsets), (col("__b") + 1).cast("int")) +
          rn - 1)
      .withColumn(out,
        (when(col("__seq") < cutoff, idiv(col("__seq"), q + 1))
          .otherwise(lit(r) +
            idiv(col("__seq") - cutoff, math.max(q, 1L))) + 1L)
          .cast("int"))
      .drop("__b", "__seq")
  }

  /** Hash-clustered parquet write with an optional split-block bloom
    * filter on `keyCol`. The layout half of the point-lookup story:
    * `repartition(numFiles, key)` sends ALL rows of a key to one file,
    * but hash order leaves every file's min/max spanning the whole
    * domain — min/max pruning (the zorder/hilbert mechanism) is blind
    * here, which is exactly when the bloom filter earns its bytes: an
    * equality probe skips every row group whose filter rejects the
    * value. Dictionary encoding is disabled for the write so the reader
    * can't fall back on dictionary-page filtering — the measured skip
    * is the bloom's alone (with dictionaries on, parquet would skip via
    * the dictionary too and the A/B would show nothing).
    */
  def writeHashClustered(df: DataFrame, dir: String, keyCol: String,
                         numFiles: Int, bloom: Boolean): Unit = {
    val base = df.repartition(numFiles, col(keyCol))
      .write.mode("overwrite")
      .option("parquet.enable.dictionary", "false")
    val w = if (bloom)
      base.option(s"parquet.bloom.filter.enabled#$keyCol", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$keyCol", "200000")
    else base
    w.parquet(dir)
  }

  val ops: Seq[Op] = Seq(
    // RUNTIME bloom-vs-plain A/B on a point lookup over the hash
    // layout: same files, same predicate, only the bloom differs; the
    // emitted row carries task-level input-record counts for both
    // reads. No SQL oracle (the measurement is physical); LayoutSpec
    // asserts the skip ratio and that the probe's answer is identical.
    // At 100 TB this is the needle-in-haystack path: O(files) bloom
    // probes in footers instead of a full-column scan.
    Op.noOracle("layout_bloom_skip") { (s, d) =>
      val li = Tables.lineitem(s, d)
      val bdir = java.nio.file.Files.createTempDirectory("bloomskip_b")
        .toString
      val pdir = java.nio.file.Files.createTempDirectory("bloomskip_p")
        .toString
      val nFiles = 16
      // the two layout writes and the probe-key scalar are independent
      // jobs — submit them concurrently (guide §2.6: overlap independent
      // jobs so one write's task tail back-fills with the other's tasks)
      // and only the MEASURED probe reads below stay serial, because
      // Instrumentation.measure attributes every task between
      // registration and drain
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val wB = Future(writeHashClustered(li, bdir, "l_orderkey", nFiles,
        bloom = true))
      val wP = Future(writeHashClustered(li, pdir, "l_orderkey", nFiles,
        bloom = false))
      // one existing key, driver-bounded (a single scalar). The MEDIAN,
      // deliberately: every file's hash-random [min, max] covers a
      // mid-domain value, so row-group STATS can never prune the probe
      // (an extreme key would be stats-pruned everywhere and the A/B
      // would measure min/max, not the bloom)
      val probeF = Future(li.agg(
        expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY l_orderkey)" +
          " AS BIGINT)")).head().getLong(0))
      Await.result(wB, Duration.Inf)
      Await.result(wP, Duration.Inf)
      val probe = Await.result(probeF, Duration.Inf)
      def readCount(dir: String): (Long, Long) = {
        val (n, m) = graft.Instrumentation.measure(s) {
          Tables.parquet(s, dir).filter(col("l_orderkey") === probe).count()
        }
        (n, m.inputRecords)
      }
      val (nB, readB) = readCount(bdir)
      val (nP, readP) = readCount(pdir)
      import s.implicits._
      Seq((nFiles.toLong, probe, nB, nP, readB, readP))
        .toDF("n_files", "probe_key", "n_match_bloom", "n_match_plain",
          "rows_read_bloom", "rows_read_plain")
    },

    // Per-z-run skipping stats over lineitem (l_orderkey × l_partkey):
    // 64 equi-depth runs along the rank-space curve, each with its row
    // count and both key spans — bounded spans on BOTH dims are the
    // property that makes 2-D pruning work, and LayoutSpec asserts them
    // against the single-dim-sort layout where the partkey span is the
    // full domain.
    Op("layout_zorder",
       s"""WITH r AS (
          |  SELECT l_orderkey, l_partkey, l_linenumber,
          |         ntile(1024) OVER (ORDER BY l_orderkey, l_linenumber)
          |           - 1 AS r1,
          |         ntile(1024) OVER (ORDER BY l_partkey, l_orderkey,
          |           l_linenumber) - 1 AS r2
          |  FROM lineitem),
          |z AS (
          |  SELECT l_orderkey, l_partkey, l_linenumber,
          |         ${zvalueSql("r1", "r2", 10)} AS zv
          |  FROM r),
          |runs AS (
          |  SELECT l_orderkey, l_partkey,
          |         ntile(64) OVER (ORDER BY zv, l_orderkey, l_linenumber)
          |           AS zrun
          |  FROM z)
          |SELECT CAST(zrun AS INTEGER) AS zrun, count(*) AS n_rows,
          |       min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
          |       min(l_partkey) AS min_pk, max(l_partkey) AS max_pk
          |FROM runs GROUP BY 1""".stripMargin) { (s, d) =>
      graft.functions.GraftFunctions.ensureRegistered(s)
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
      val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
      val nb = math.max(parts * 4, 1)
      // one pass: key spreads (bucket boundaries) + the ntile row count
      val mm = li.agg(min(col("l_orderkey")), max(col("l_orderkey")),
        min(col("l_partkey")), max(col("l_partkey")), count(lit(1)))
        .head()
      val total = mm.getLong(4)
      val b1 = bucketOf("l_orderkey",
        boundsFor(mm.getLong(0).toDouble, mm.getLong(1).toDouble, nb))
      val b2 = bucketOf("l_partkey",
        boundsFor(mm.getLong(2).toDouble, mm.getLong(3).toDouble, nb))
      // ONE scan-level job: joint (b1, b2) cell counts → both passes'
      // bucket offsets come off its marginals on the driver (≤ nb² cells)
      val cells = li.groupBy(b1.as("x"), b2.as("y")).count().collect()
      val off1 = offsetsOf(cells.groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(2)).sum).toSeq, nb)
      val off2 = offsetsOf(cells.groupBy(_.getLong(1)).view
        .mapValues(_.map(_.getLong(2)).sum).toSeq, nb)
      val r1 = withExactNtile(li,
        Seq(col("l_orderkey"), col("l_linenumber")),
        b1, off1, total, 1024, "t1")
        .withColumn("r1", (col("t1") - 1).cast("long")).drop("t1")
      val r2 = withExactNtile(r1,
        Seq(col("l_partkey"), col("l_orderkey"), col("l_linenumber")),
        b2, off2, total, 1024, "t2")
        .withColumn("r2", (col("t2") - 1).cast("long")).drop("t2")
      // materialize the curve once: the pass-3 bucket counts and the
      // final rank pass both read these blocks instead of re-running
      // the two window passes
      val z = graft.Ckpt.cut(r2.select(col("l_orderkey"),
        col("l_partkey"), col("l_linenumber"),
        zvalue(col("r1"), col("r2"), 10).as("zv")))
      // zv interleaves two 10-bit ranks: domain [0, 2^20) by construction
      val b3 = bucketOf("zv", boundsFor(0.0, 1048575.0, nb))
      val off3 = offsetsOf(z.groupBy(b3.as("x")).count().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq, nb)
      withExactNtile(z,
        Seq(col("zv"), col("l_orderkey"), col("l_linenumber")),
        b3, off3, total, 64, "zrun")
        .groupBy(col("zrun"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"),
          min(col("l_partkey")).as("min_pk"),
          max(col("l_partkey")).as("max_pk"))
    },

    // Hilbert-clustered skipping stats — same rank space, same 64
    // equi-depth runs, but along the CONTINUOUS curve. The oracle's
    // recursive CTE replays all ten flip+swap levels of the xy->d fold
    // per row, so the curve arithmetic itself — not just the final
    // spans — is hash-compared.
    Op("layout_hilbert",
       """WITH RECURSIVE r AS (
         |  SELECT l_orderkey, l_partkey, l_linenumber,
         |         CAST(ntile(1024) OVER (ORDER BY l_orderkey, l_linenumber)
         |           - 1 AS BIGINT) AS r1,
         |         CAST(ntile(1024) OVER (ORDER BY l_partkey, l_orderkey,
         |           l_linenumber) - 1 AS BIGINT) AS r2
         |  FROM lineitem),
         |hil AS (
         |  SELECT l_orderkey, l_partkey, l_linenumber, r1 AS x, r2 AS y,
         |         CAST(512 AS BIGINT) AS s, CAST(0 AS BIGINT) AS d
         |  FROM r
         |  UNION ALL
         |  SELECT l_orderkey, l_partkey, l_linenumber,
         |    CASE WHEN ry = 1 THEN x
         |         ELSE (CASE WHEN rx = 1 THEN s - 1 - y ELSE y END) END,
         |    CASE WHEN ry = 1 THEN y
         |         ELSE (CASE WHEN rx = 1 THEN s - 1 - x ELSE x END) END,
         |    s // 2,
         |    d + s * s * (CASE WHEN rx = 0 AND ry = 0 THEN 0
         |                      WHEN rx = 0 THEN 1
         |                      WHEN ry = 1 THEN 2 ELSE 3 END)
         |  FROM (SELECT l_orderkey, l_partkey, l_linenumber, x, y, s, d,
         |               CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END AS rx,
         |               CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END AS ry
         |        FROM hil WHERE s >= 1)),
         |runs AS (
         |  SELECT l_orderkey, l_partkey,
         |         ntile(64) OVER (ORDER BY d, l_orderkey, l_linenumber)
         |           AS hrun
         |  FROM hil WHERE s = 0)
         |SELECT CAST(hrun AS INTEGER) AS hrun, count(*) AS n_rows,
         |       min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
         |       min(l_partkey) AS min_pk, max(l_partkey) AS max_pk
         |FROM runs GROUP BY 1""".stripMargin) { (s, d) =>
      graft.functions.GraftFunctions.ensureRegistered(s)
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
      val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
      val nb = math.max(parts * 4, 1)
      val mm = li.agg(min(col("l_orderkey")), max(col("l_orderkey")),
        min(col("l_partkey")), max(col("l_partkey")), count(lit(1)))
        .head()
      val total = mm.getLong(4)
      val b1 = bucketOf("l_orderkey",
        boundsFor(mm.getLong(0).toDouble, mm.getLong(1).toDouble, nb))
      val b2 = bucketOf("l_partkey",
        boundsFor(mm.getLong(2).toDouble, mm.getLong(3).toDouble, nb))
      val cells = li.groupBy(b1.as("x"), b2.as("y")).count().collect()
      val off1 = offsetsOf(cells.groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(2)).sum).toSeq, nb)
      val off2 = offsetsOf(cells.groupBy(_.getLong(1)).view
        .mapValues(_.map(_.getLong(2)).sum).toSeq, nb)
      val r1 = withExactNtile(li,
        Seq(col("l_orderkey"), col("l_linenumber")),
        b1, off1, total, 1024, "t1")
        .withColumn("r1", (col("t1") - 1).cast("long")).drop("t1")
      val r2 = withExactNtile(r1,
        Seq(col("l_partkey"), col("l_orderkey"), col("l_linenumber")),
        b2, off2, total, 1024, "t2")
        .withColumn("r2", (col("t2") - 1).cast("long")).drop("t2")
      // hilbert_d is a codegen'd expression (LayoutExpressions.HilbertD)
      // — the typed .map closure this replaces forced a
      // deserialize/serialize detour around the same integer loop
      val h = graft.Ckpt.cut(r2.select(col("l_orderkey"),
        col("l_partkey"), col("l_linenumber"),
        graft.functions.GraftFunctions.hilbertD(col("r1"), col("r2"), 10)
          .as("hv")))
      // hv is a 10-bit × 10-bit Hilbert d-index: domain [0, 2^20)
      val b3 = bucketOf("hv", boundsFor(0.0, 1048575.0, nb))
      val off3 = offsetsOf(h.groupBy(b3.as("x")).count().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq, nb)
      withExactNtile(h,
        Seq(col("hv"), col("l_orderkey"), col("l_linenumber")),
        b3, off3, total, 64, "hrun")
        .groupBy(col("hrun"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"),
          min(col("l_partkey")).as("min_pk"),
          max(col("l_partkey")).as("max_pk"))
    })
}
