package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Randomized differential-fuzz corpus generator (VERDICT r10 "Next
  * round" #7): writes the full ten-table testdata layout with the SAME
  * schemas and content contracts as the driver's generator (see
  * TESTDATA.md and FIXTURES.md), but with seed-controlled ADVERSARIAL
  * distributions, so the oracle-bearing operator families can be
  * hash-compared against DuckDB on data the fixed TPC-H-ish
  * distribution never exercises.
  *
  *   runMain graft.FuzzGen <outDir> <seed>
  *
  * Regime = seed % 5:
  *   0 minimal   — single-digit row counts, single-row dims, one EMPTY
  *                 document text, a single-character one; the smallest
  *                 legal instance of every contract.
  *   1 ties      — every orderable attribute collapses to one value
  *                 (prices, dates, quantities, names, document texts,
  *                 event timestamps): all-tie sort keys, duplicate-
  *                 everything dedup input, zero-variance statistics.
  *   2 unicode   — BMP text beyond ASCII (Latin-1 accents, Cyrillic,
  *                 CJK, NFD combining marks) in documents and name
  *                 columns. Since r12 the FULL oracle list runs here:
  *                 the byte-level BPE replay carries the complete GPT-2
  *                 byte table and the char-level tokenizers are
  *                 codepoint-exact on both sides.
  *   3 extremes  — negative balances, zero prices/quantities, 1e9
  *                 magnitudes (the edge of the engine's documented
  *                 cents-in-BIGINT money contract — integer-WIDTH
  *                 probing beyond it belongs to the sf1 gate), one
  *                 customer owning most orders, one user owning most
  *                 events: skew + boundary numerics.
  *   4 astral    — non-BMP document text (emoji, Gothic/math-bold
  *                 letters: 4-byte UTF-8, surrogate pairs on the JVM)
  *                 mixed with BMP scripts. The byte-level family,
  *                 every Spark-SQL-function text path, AND (since r13)
  *                 the Unigram trainer all replay exactly — each walks
  *                 codepoints/bytes, never UTF-16 units, so a
  *                 surrogate pair is one position on both engines and
  *                 fuzz_sweep.py carries no exclusions.
  *
  * Determinism: one java.util.Random stream per table, seeded from
  * (seed, table) — regenerating a seed reproduces the corpus bit for
  * bit regardless of generation order or partitioning (everything is
  * driver-built then written once; the tables are fuzz-SMALL by design).
  */
object FuzzGen {

  private def rng(seed: Long, table: String) =
    new java.util.Random(seed * 1000003L + table.hashCode.toLong)

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("error", "view", "purchase", "signup",
    "click")
  private val langs = Seq("en", "de", "es", "fr", "zh")
  private val vocab = ("the a of and to in is spark table scan join sort " +
    "merge filter window batch stream row column key value data query " +
    "hash agg part order customer line small big fast slow dup vector")
    .split(" ").toSeq
  private val unicodeVocab = Seq("café", "naïve", "über", "groß",
    "привет", "мир", "данные", "中文", "数据", "表", "日本語", "Ωμέγα",
    "żółć", "miłość", "→", "…", "«quoted»",
    // combining marks (NFD-style): base + U+0301 / U+0308 — a codepoint
    // that is \p{M} (neither letter nor number nor space) in both
    // regex engines, exercising the punct-run pretokenizer branch
    // mid-word
    "me\u0301tro", "u\u0308ber", "x\u0301y")
  // Astral regime vocab: non-BMP codepoints — 4-byte UTF-8, surrogate
  // PAIRS on the JVM — mixed with BMP. Long-assigned codepoints only
  // (Unicode ≤ 13, the JDK 17 data the engine's \p{L}/\p{N} classes
  // use): emoji (\p{So} → the punctuation-run pretokenizer branch),
  // Gothic + math-bold letters (astral \p{L}), and mixed-script tokens.
  // Every BMP char here stays < U+E000 so the driver-side UTF-16
  // symbol Ordering agrees with codepoint/UTF-8 order even next to
  // surrogates.
  private val astralVocab = Seq("\uD83D\uDE00", "\uD83D\uDE80",
    "\uD83C\uDF0D", "data\uD83D\uDCCA", "\uD800\uDF30\uD800\uDF3F",
    "\uD835\uDD4A\uD835\uDD61", "ok\uD83D\uDC4D", "中\uD83D\uDE00文",
    "café", "мир", "\uD83E\uDD16bot")

  private def ts(minutes: Long): Timestamp =
    new Timestamp(1704067200000L + minutes * 60000L) // 2024-01-01 UTC

  def main(args: Array[String]): Unit = {
    val (out, seed) = (args(0), args(1).toLong)
    val regime = (seed % 5).toInt
    val spark = Engine.local()
    spark.sparkContext.setLogLevel("WARN")

    def write(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      // single-FILE parquet, like the driver's testdata layout (DuckDB's
      // oracle views point at '<dir>/<name>.parquet' as a plain file)
      val tmp = s"$out/.tmp_$name"
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
        .head
      Files.createDirectories(Paths.get(out))
      val dest = Paths.get(s"$out/$name.parquet")
      if (Files.isDirectory(dest)) // stale directory-layout leftover
        Files.walk(dest).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      Files.move(Paths.get(part), dest,
        StandardCopyOption.REPLACE_EXISTING)
      Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      println(s"[fuzzgen] $name -> ${rows.length} rows (regime $regime)")
    }

    // sizes per regime: minimal is single digits, others a few hundred
    val (nCust, nSupp, nPart, nOrd, nLine, nEvt, nDoc, nVec) =
      if (regime == 0) (2, 1, 2, 3, 4, 5, 4, 64)
      else (60, 12, 40, 150, 400, 400, 60, 100)

    write("region", StructType(Seq(
      StructField("r_regionkey", IntegerType, nullable = false),
      StructField("r_name", StringType, nullable = false))),
      (0 until (if (regime == 0) 1 else 5)).map(i =>
        Row(i, if (regime == 2) s"РЕГИОН$i" else s"REGION$i")))

    val nNation = if (regime == 0) 1 else 10
    write("nation", StructType(Seq(
      StructField("n_nationkey", IntegerType, nullable = false),
      StructField("n_name", StringType, nullable = false),
      StructField("n_regionkey", IntegerType, nullable = false))),
      (0 until nNation).map(i =>
        Row(i, s"NATION$i", if (regime == 0) 0 else i % 5)))

    val rc = rng(seed, "customer")
    write("customer", StructType(Seq(
      StructField("c_custkey", LongType, nullable = false),
      StructField("c_name", StringType, nullable = false),
      StructField("c_nationkey", IntegerType, nullable = false),
      StructField("c_acctbal", DoubleType, nullable = false),
      StructField("c_mktsegment", StringType, nullable = false))),
      (0 until nCust).map { i =>
        val name = regime match {
          case 1 => "Customer#SAME"
          case 2 => s"Customer#${unicodeVocab(rc.nextInt(unicodeVocab.size))}$i"
          case _ => f"Customer#$i%09d"
        }
        val bal = regime match {
          case 1 => 100.0
          case 3 => Seq(-999999.99, 0.0, 1.0e9, -0.01,
            9.99)(rc.nextInt(5))
          case _ => math.round(rc.nextDouble() * 100000.0 - 10000.0) / 100.0
        }
        Row(i.toLong, name, rc.nextInt(nNation),
          bal, segments(if (regime == 1) 0 else rc.nextInt(5)))
      })

    val rs = rng(seed, "supplier")
    write("supplier", StructType(Seq(
      StructField("s_suppkey", LongType, nullable = false),
      StructField("s_name", StringType, nullable = false),
      StructField("s_nationkey", IntegerType, nullable = false),
      StructField("s_acctbal", DoubleType, nullable = false))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d",
        rs.nextInt(nNation),
        if (regime == 1) 50.0
        else math.round(rs.nextDouble() * 20000.0 - 1000.0) / 100.0)))

    val rp = rng(seed, "part")
    val types = Seq("STANDARD BRASS", "SMALL STEEL", "LARGE COPPER",
      "PROMO NICKEL", "ECONOMY TIN", "PROMO BRASS")
    write("part", StructType(Seq(
      StructField("p_partkey", LongType, nullable = false),
      StructField("p_name", StringType, nullable = false),
      StructField("p_brand", StringType, nullable = false),
      StructField("p_type", StringType, nullable = false),
      StructField("p_size", IntegerType, nullable = false),
      StructField("p_retailprice", DoubleType, nullable = false))),
      (0 until nPart).map { i =>
        val nm = if (regime == 2)
          s"part ${unicodeVocab(rp.nextInt(unicodeVocab.size))}"
        else s"part ${vocab(rp.nextInt(vocab.size))} ${vocab(rp.nextInt(vocab.size))}"
        Row(i.toLong, nm, s"Brand#${rp.nextInt(5) + 1}${rp.nextInt(5) + 1}",
          types(if (regime == 1) 0 else rp.nextInt(types.size)),
          if (regime == 1) 10 else 1 + rp.nextInt(50),
          regime match {
            case 1 => 100.0
            case 3 => Seq(0.0, 0.01, 1.0e7, 42.0)(rp.nextInt(4))
            case _ => math.round((900.0 + rp.nextDouble() * 1200.0) * 100) / 100.0
          })
      })

    val ro = rng(seed, "orders")
    val statuses = Seq("O", "F", "P")
    write("orders", StructType(Seq(
      StructField("o_orderkey", LongType, nullable = false),
      StructField("o_custkey", LongType, nullable = false),
      StructField("o_orderstatus", StringType, nullable = false),
      StructField("o_totalprice", DoubleType, nullable = false),
      StructField("o_orderdate", TimestampType, nullable = false),
      StructField("o_orderpriority", StringType, nullable = false))),
      (0 until nOrd).map { i =>
        val cust = regime match {
          case 3 => if (ro.nextInt(10) < 9) 0L else ro.nextInt(nCust).toLong
          case _ => ro.nextInt(nCust).toLong
        }
        val price = regime match {
          case 1 => 1000.0
          case 3 => Seq(0.0, 0.01, 9.99e8, 123456.78)(ro.nextInt(4))
          case _ => math.round((1000.0 + ro.nextDouble() * 400000.0) * 100) / 100.0
        }
        val date = if (regime == 1) ts(0)
        else ts(ro.nextInt(2 * 365 * 24 * 60).toLong)
        Row(i.toLong, cust, statuses(if (regime == 1) 0 else ro.nextInt(3)),
          price, date, priorities(if (regime == 1) 0 else ro.nextInt(5)))
      })

    val rl = rng(seed, "lineitem")
    val flags = Seq("R", "A", "N")
    write("lineitem", StructType(Seq(
      StructField("l_orderkey", LongType, nullable = false),
      StructField("l_partkey", LongType, nullable = false),
      StructField("l_suppkey", LongType, nullable = false),
      StructField("l_linenumber", IntegerType, nullable = false),
      StructField("l_quantity", DoubleType, nullable = false),
      StructField("l_extendedprice", DoubleType, nullable = false),
      StructField("l_discount", DoubleType, nullable = false),
      StructField("l_tax", DoubleType, nullable = false),
      StructField("l_returnflag", StringType, nullable = false),
      StructField("l_linestatus", StringType, nullable = false),
      StructField("l_shipdate", TimestampType, nullable = false))),
      (0 until nLine).map { i =>
        val ord = if (regime == 0) (i % nOrd).toLong
        else rl.nextInt(nOrd).toLong
        val qty = regime match {
          case 1 => 25.0
          case 3 => Seq(0.0, 1.0, 50.0, 50.0)(rl.nextInt(4))
          case _ => (1 + rl.nextInt(50)).toDouble
        }
        val price = regime match {
          case 1 => 2500.0
          case 3 => Seq(0.0, 0.01, 8.8e8, 1234.56)(rl.nextInt(4))
          case _ => math.round((900.0 + rl.nextDouble() * 100000.0) * 100) / 100.0
        }
        Row(ord, rl.nextInt(nPart).toLong, rl.nextInt(nSupp).toLong,
          1 + (i % 7), qty, price,
          if (regime == 1) 0.05
          else math.round(rl.nextDouble() * 10.0) / 100.0,
          if (regime == 1) 0.08
          else math.round(rl.nextDouble() * 8.0) / 100.0,
          flags(if (regime == 1) 0 else rl.nextInt(3)),
          if (rl.nextBoolean()) "O" else "F",
          if (regime == 1) ts(0) else ts(rl.nextInt(2 * 365 * 24 * 60).toLong))
      })

    val re = rng(seed, "events")
    write("events", StructType(Seq(
      StructField("event_id", LongType, nullable = false),
      StructField("ts", TimestampType, nullable = false),
      StructField("user_id", LongType, nullable = false),
      StructField("event_type", StringType, nullable = false),
      StructField("value", DoubleType, nullable = false),
      StructField("props", StringType, nullable = false))),
      (0 until nEvt).map { i =>
        val user = regime match {
          case 1 => 7L
          case 3 => if (re.nextInt(10) < 8) 1L else re.nextInt(20).toLong
          case _ => re.nextInt(math.max(nCust / 2, 1)).toLong
        }
        val t = if (regime == 1) ts(0)
        else ts(re.nextInt(30 * 24 * 60).toLong)
        val v = regime match {
          case 1 => 1.0
          case 3 => Seq(-1.0e6, 0.0, 1.0e6, 0.001)(re.nextInt(4))
          case _ => math.round(re.nextDouble() * 10000.0) / 100.0
        }
        Row(i.toLong, t, user,
          eventTypes(if (regime == 1) 0 else re.nextInt(5)), v,
          s"""{"k": ${re.nextInt(100)}}""")
      })

    val rd = rng(seed, "documents")
    def salad(n: Int, words: Seq[String]): String =
      (0 until n).map(_ => words(rd.nextInt(words.size))).mkString(" ")
    write("documents", StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("lang", StringType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false))),
      (0 until nDoc).map { i =>
        val text = regime match {
          case 0 => Seq("", "x", "the the the",
            salad(30, vocab))(i % 4)
          case 1 => "the fast spark table scan join merge" // all identical
          case 2 => salad(10 + rd.nextInt(40), vocab ++ unicodeVocab)
          case 4 => salad(10 + rd.nextInt(40), vocab ++ astralVocab)
          case _ => // extremes: huge repeats, digit floods, punct floods
            Seq(salad(5, vocab) * 20,
              (0 until 50).map(_ => rd.nextInt(1000)).mkString(" "),
              "!?.,;:" * 40,
              salad(10 + rd.nextInt(80), vocab))(rd.nextInt(4))
        }
        Row(i.toLong, text, langs(if (regime == 1) 0 else rd.nextInt(5)),
          s"src${if (regime == 1) 0 else rd.nextInt(8)}",
          text.length.toLong)
      })

    val rv = rng(seed, "embeddings")
    write("embeddings", StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false),
        nullable = false),
      StructField("label", IntegerType, nullable = false))),
      (0 until nVec).map { i =>
        val v = regime match {
          case 1 => Array.fill(64)(0.5f) // all-identical vectors
          case 3 => Array.tabulate(64)(j => // axis-aligned unit spikes:
            // exactly-tied distances + zero norms, inside the documented
            // |x| <= 1 fixed-point k-means contract
            if (j == i % 64) 1.0f else 0.0f)
          case _ => Array.fill(64)((rv.nextDouble() * 2 - 1).toFloat)
        }
        Row(i.toLong, v.toSeq, if (regime == 1) 0 else rv.nextInt(10))
      })

    spark.stop()
  }
}
