package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantics tests for the dedup operators on planted corpora — exact
  * duplicates, heavy near-duplicates (one word changed), and unrelated
  * documents. These cover what the rows-only driver check cannot: that the
  * pair set is exactly the planted one.
  */
class DedupSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  private val base = (1 to 40).map(i => s"tok$i").mkString(" ")
  private val nearDup = base.replace("tok20", "changed")
  private val unrelated = (100 to 140).map(i => s"other$i").mkString(" ")

  test("exact: identical-after-normalization docs collapse to min id") {
    val d = docs(1L -> "Hello  World", 2L -> "hello world",
      3L -> "hello world!", 4L -> unrelated)
    val out = Dedup.exact(d).orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L))
    assert(out.head.getLong(2) == 2L) // two copies of "hello world"
  }

  test("minhash LSH: finds the planted near-dup pair, no false pairs") {
    val d = docs(1L -> base, 2L -> nearDup, 3L -> unrelated,
      4L -> (1 to 40).map(i => s"zz$i").mkString(" "))
    val pairs = Dedup.minHashNearDups(d, threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    val j = pairs.head.getDouble(2)
    // one token changed in 40 -> 3 of 38 shingles differ on each side
    assert(j > 0.8 && j < 1.0, s"jaccard=$j")
  }

  test("minhash LSH: exact duplicates get jaccard 1.0") {
    val d = docs(1L -> base, 2L -> base, 3L -> unrelated)
    val pairs = Dedup.minHashNearDups(d, threshold = 0.9).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(pairs.head.getDouble(2) == 1.0)
  }

  test("containment: a quoted passage pairs directionally at ~1.0 where " +
       "Jaccard sits near zero; lossless vs brute force; no self pairs") {
    val quote = (1 to 10).map(i => s"q$i").mkString(" ")
    val article = quote + " " + (1 to 80).map(i => s"body$i").mkString(" ")
    val d = docs(1L -> quote, 2L -> article, 3L -> unrelated)
    val out = Dedup.containmentDups(d, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // quote-in-article fires ONLY in the a->b direction
    assert(out.map(t => (t._1, t._2)).toSet == Set((1L, 2L)))
    assert(out.head._3 == 1.0) // all 8 of the quote's shingles inside
    // the same pair is invisible to the Jaccard join at any useful t
    assert(Dedup.jaccardNearDups(d, threshold = 0.5).count() == 0)
    // losslessness on a corpus slice: prefix-filtered == brute force
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val fast = Dedup.containmentDups(corpus, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Dedup.withShingles(corpus, "doc_id", "text")
    val brute = sh.toDF("id_a", "sh_a")
      .join(sh.toDF("id_b", "sh_b"), col("id_a") =!= col("id_b"))
      .filter(size(array_intersect(col("sh_a"), col("sh_b")))
        .cast("double") / size(col("sh_a")) >= 0.9)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == brute && fast.nonEmpty)
  }

  test("minhash plan contains no cartesian product") {
    val d = docs(1L -> base, 2L -> nearDup)
    val plan = Dedup.minHashNearDups(d).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("simhash: exact dups always pair; near-dups have small radius; " +
       "candidate generation is exactly the 8-bit-chunk pigeonhole") {
    // 500-token docs: signatures are deterministic (hash-derived), so these
    // assertions are exact, not probabilistic.
    val big = (1 to 500).map(i => s"tok$i").mkString(" ")
    val bigNear = big.replace("tok250", "changed")
    val d = docs(1L -> big, 2L -> bigNear, 3L -> unrelated, 4L -> big)
    val sigs = Dedup.simhash(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // exact duplicate: distance 0, must always pair
    assert(hamming(sigs(1L), sigs(4L)) == 0)
    // one token changed in 500: far below the ~32 of unrelated docs
    assert(hamming(sigs(1L), sigs(2L)) < 16,
      s"near-dup hamming=${hamming(sigs(1L), sigs(2L))}")
    assert(hamming(sigs(1L), sigs(3L)) > 16)
    // candidate set == pairs sharing at least one 8-bit chunk (pigeonhole
    // candidate generation — lossless to hamming <= 7 — exact hamming verify)
    def chunkMatch(a: Long, b: Long) =
      (0 until 8).exists(c => ((a >> (c * 8)) & 0xFFL) == ((b >> (c * 8)) & 0xFFL))
    val pairs = Dedup.simHashNearDups(d, maxHamming = 63).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = Seq(1L, 2L, 3L, 4L)
    val expected = (for {
      a <- ids; b <- ids if a < b && chunkMatch(sigs(a), sigs(b))
    } yield (a, b)).toSet
    assert(pairs == expected)
    assert(pairs.contains((1L, 4L)))
  }

  test("simhash signature is deterministic across repartitionings") {
    val d = docs(1L -> base, 2L -> unrelated)
    val a = Dedup.simhash(d).orderBy("doc_id").collect().map(_.getLong(1))
    val b = Dedup.simhash(d.repartition(7)).orderBy("doc_id").collect()
      .map(_.getLong(1))
    assert(a.toSeq == b.toSeq)
  }

  test("portable minhash finds the planted near-dup pair with identical " +
       "jaccard to the fast path") {
    val d = docs(1L -> base, 2L -> nearDup, 3L -> unrelated)
    val fast = Dedup.minHashNearDups(d, threshold = 0.5).collect()
    val port = Dedup.minHashNearDups(d, threshold = 0.5, portable = true)
      .collect()
    // different hash families -> same verified pairs, identical exact
    // jaccard (verification is hash-independent)
    assert(port.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      fast.map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(port.head.getDouble(2) == fast.head.getDouble(2))
  }

  test("portable simhash: exact dups pair at hamming 0; chunks stay in " +
       "[0, 255]") {
    val big = (1 to 300).map(i => s"tok$i").mkString(" ")
    val d = docs(1L -> big, 2L -> big, 3L -> unrelated)
    val chunks = Dedup.simhash(d, portable = true)
      .select(col("doc_id"), array((0 until 8).map(c =>
        shiftright(col("simhash"), c * 8).bitwiseAND(0xFFL).cast("int")): _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(chunks.values.forall(_.forall(v => v >= 0 && v <= 255)))
    assert(chunks(1L) == chunks(2L))
    assert(chunks(1L) != chunks(3L))
    val pairs = Dedup.simHashNearDups(d, maxHamming = 0, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong))
      .toSet
    assert(pairs == Set((1L, 2L, 0L)))
  }

  test("simhash: both hash families pair exactly the planted copies at " +
       "hamming 0") {
    val big = (1 to 300).map(i => s"tok$i").mkString(" ")
    val d = docs(1L -> big, 2L -> big, 3L -> unrelated, 4L -> nearDup,
      5L -> big)
    def pairs(portable: Boolean) =
      Dedup.simHashNearDups(d, maxHamming = 0, portable = portable)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val md5 = pairs(portable = true)
    assert(md5 == Set((1L, 2L, 0), (1L, 5L, 0), (2L, 5L, 0)))
    assert(pairs(portable = false) == md5)
  }

  test("cleanCorpus drops low-quality docs, exact copies, and near-dups; " +
       "keeps the lowest id of each cluster") {
    import spark.implicits._
    val good = (1 to 40).map(i => s"tok$i the of and").mkString(" ")
    val d = Seq(
      (1L, good, "s"),
      (2L, good, "s"),                          // exact copy -> dropped
      (3L, good.replace("tok20", "changed"), "s"), // near-dup -> dropped
      (4L, "!!##$$%%", "s"),                    // junk -> quality-dropped
      (5L, (100 to 140).map(i => s"zz$i the of and").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
    val kept = Dedup.cleanCorpus(d, threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 5L))
  }

  test("componentMinLabels: min id reaches every cluster member, " +
       "including long chains (pointer jumping)") {
    import spark.implicits._
    // two components: a triangle-free chain 1-3, 2-3 and a pair 10-11,
    // plus a 9-node path 20-21-...-28 that needs transitive propagation
    val chain = (20L until 28L).map(i => (i, i + 1))
    val pairs = (Seq((1L, 3L), (2L, 3L), (10L, 11L)) ++ chain)
      .toDF("id_a", "id_b")
    val labels = Dedup.componentMinLabels(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L)
    assert(labels(10L) == 10L && labels(11L) == 10L)
    (20L to 28L).foreach(i => assert(labels(i) == 20L, s"node $i"))
  }

  // Three-block fixture: doc1 = A+B, doc3 = A+B' (bridge), doc2 = A'+B'.
  // Adjacent pairs share 30 of 40 tokens (jaccard ~0.58); the far pair
  // (1,2) shares only the middle 20 (~0.31, below the 0.5 threshold), so
  // the dup graph is the chain 1~3~2 with the BRIDGE holding the highest
  // id: per-pair greedy (drop id_b) would delete only doc 3 and keep
  // docs 1 AND 2; connected components keeps exactly the cluster min.
  private def chainDocs = {
    import spark.implicits._
    val blockA  = (1 to 20).map(i => s"a$i")
    val blockA2 = (1 to 10).map(i => s"x$i") ++ (11 to 20).map(i => s"a$i")
    val blockB  = (1 to 20).map(i => s"b$i")
    val blockB2 = (1 to 10).map(i => s"b$i") ++ (11 to 20).map(i => s"y$i")
    Seq(
      (1L, (blockA ++ blockB).mkString(" "), "s"),
      (2L, (blockA2 ++ blockB2).mkString(" "), "s"),
      (3L, (blockA ++ blockB2).mkString(" "), "s"),
      (4L, "!!##$$%%", "s"), // junk -> quality-dropped
      (5L, (100 to 140).map(i => s"zz$i").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
  }

  test("cleanCorpus keeps ONE survivor per transitive near-dup cluster " +
       "(connected components, not per-pair greedy)") {
    val d = chainDocs
    // sanity: the verified pair graph is exactly the chain through doc 3
    val pairs = Dedup.minHashNearDups(d, bands = 16, rows = 2,
        threshold = 0.5).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 3L), (2L, 3L)), s"pairs=$pairs")
    val kept = Dedup.cleanCorpus(d, bands = 16, rows = 2, threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 5L), s"kept=$kept")
  }

  test("cleanCorpus fast and portable hash paths agree on the survivor set") {
    val d = chainDocs
    val fast = Dedup.cleanCorpus(d, bands = 16, rows = 2, threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    val port = Dedup.cleanCorpus(d, bands = 16, rows = 2, threshold = 0.5,
        portable = true)
      .collect().map(_.getLong(0)).toSet
    assert(fast == port, s"fast=$fast portable=$port")
  }

  test("cleanCorpus passthrough: runs on a corpus without a 'source' column") {
    import spark.implicits._
    val d = Seq((1L, (1 to 40).map(i => s"tok$i").mkString(" ")),
      (2L, (100 to 140).map(i => s"qq$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.cleanCorpus(d, passthrough = Nil)
    assert(out.columns.toSeq == Seq("doc_id", "n_chars"))
    assert(out.count() == 2)
  }

  test("native minhash_md5 kernel is byte-identical to the composed " +
       "md5/substring expression formulation") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001").limit(50)
    val sh = Dedup.withShingles(d, "doc_id", "text")
    val k = 32
    val composed = sh
      .select(col("doc_id") +: col("sh") +: (0 until (k + 7) / 8).map(j =>
        transform(col("sh"),
          s => md5(concat(lit(j + ":"), s))).as(s"base$j")): _*)
      .select(col("doc_id"),
        array((0 until k).map { h =>
          array_min(transform(col(s"base${h / 8}"),
            b => substring(b, (h % 8) * 4 + 1, 4)))
        }: _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val native = sh
      .select(col("doc_id"),
        graft.functions.GraftFunctions.minhashMd5(col("sh"), k).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(native == composed)
  }

  test("native minwindow_md5 kernel is byte-identical to the composed " +
       "md5-per-window expression formulation (incl. short strings)") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001").limit(50)
      .select(col("doc_id"), TextFeatures.normalized(col("text")).as("norm"))
      .unionByName(spark.createDataFrame(
        Seq((90001L, "short"), (90002L, "exactly8"), (90003L, "")))
        .toDF("doc_id", "norm"))
    val composed = d.select(col("doc_id"),
      when(length(col("norm")) < 8, md5(col("norm"))).otherwise(
        array_min(transform(
          sequence(lit(1), length(col("norm")) - 7),
          i => md5(col("norm").substr(i, lit(8)))))).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val native = d.select(col("doc_id"),
      graft.functions.GraftFunctions.minWindowMd5(col("norm"), 8).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(native == composed)
  }

  test("decontaminate flags exactly the corpus docs sharing an n-gram " +
       "with the benchmark set, with exact overlap counts") {
    import spark.implicits._
    val benchText = (1 to 20).map(i => s"b$i").mkString(" ")
    val corpus = Seq(
      // embeds benchmark tokens 5..16 -> 12-4+1... contains 8-grams of bench
      (1L, ((1 to 4).map(i => s"c$i") ++ (5 to 16).map(i => s"b$i")).mkString(" ")),
      (2L, (1 to 30).map(i => s"clean$i").mkString(" ")), // no overlap
      (3L, benchText))                                    // verbatim copy
      .toDF("doc_id", "text")
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, bench, n = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1: tokens b5..b16 = 12 benchmark tokens -> 5 overlapping 8-grams;
    // doc 3: all 13 benchmark 8-grams; doc 2 absent
    assert(out == Map(1L -> 5L, 3L -> 13L), out.toString)
  }

  test("decontaminateBloom: bit-identical to the exact path on sf0.001, " +
       "and the bloom prune sits map-side under the shingle join") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val exact = Dedup.decontaminate(corpus, bench, n = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = Dedup.decontaminateBloom(corpus, bench, n = 4)
    assert(bloom.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == exact)
    assert(exact.nonEmpty) // non-vacuous: the fixture does contaminate
    val plan = bloom.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
  }

  test("incrementalNearDups: flags planted new-vs-corpus dups via the " +
       "stored band index, agrees with the self-join operator") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, base),                                   // near-dup of new doc 100
      (2L, (1 to 40).map(i => s"x$i").mkString(" ")), // unrelated
      (3L, base + " tail1 tail2"))                  // also near 100
      .toDF("doc_id", "text")
    val newDocs = Seq(
      (100L, base + " extra"),
      (101L, (1 to 40).map(i => s"z$i").mkString(" "))) // clean
      .toDF("doc_id", "text")
    val index = Dedup.bandIndex(corpus, bands = 8, rows = 4)
    val inc = Dedup.incrementalNearDups(newDocs, corpus, index,
        bands = 8, rows = 4, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc.nonEmpty && inc.forall(_._1 == 100L), inc.toString)
    // cross-check: the self-join operator over corpus+new restricted to
    // cross-boundary pairs must agree exactly
    val full = Dedup.minHashNearDups(corpus.union(newDocs),
        bands = 8, rows = 4, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cross = full.collect { case (a, b) if b >= 100L && a < 100L =>
      (b, a) }
    assert(inc == cross, s"inc=$inc cross=$cross")
  }

  test("the band index survives a parquet round-trip: a RELOADED index " +
       "drives incrementalNearDups to identical rows") {
    import spark.implicits._
    // the stored-index story made literal: persist bandIndex as the
    // parquet relation an ingest job would keep, read it back cold,
    // and verify the incremental join is byte-identical to the
    // in-memory index
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, base),
      (2L, (1 to 40).map(i => s"x$i").mkString(" ")),
      (3L, base + " tail1 tail2"))
      .toDF("doc_id", "text")
    val newDocs = Seq(
      (100L, base + " extra"),
      (101L, (1 to 40).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("band_index_").toString
    val live = Dedup.bandIndex(corpus, bands = 8, rows = 4)
    live.write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
    def run(ix: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalNearDups(newDocs, corpus, ix,
          bands = 8, rows = 4, threshold = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2))).toSet
    val a = run(live)
    val b = run(reloaded)
    assert(a == b && a.nonEmpty, s"live=$a reloaded=$b")
  }

  test("decontaminateBloom: empty benchmark yields an empty result") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val bench = corpus.limit(0)
    assert(Dedup.decontaminateBloom(corpus, bench, n = 4).count() == 0)
  }

  test("componentMinLabels reliable mode: identical labels when rounds " +
       "checkpoint to durable storage instead of executor blocks") {
    import spark.implicits._
    // a chain (forces pointer-jumping rounds) plus a separate pair
    val pairs = ((1L to 9L).map(i => (i, i + 1)) ++ Seq((100L, 101L)))
      .toDF("id_a", "id_b")
    def labels() = Dedup.componentMinLabels(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = labels() // before any checkpoint dir exists
    val dir = useDurableCuts("cc_durable")
    val rel = labels()
    assert(wroteCheckpoints(dir), "the durable run never wrote a cut")
    assert(rel == local)
    assert(rel.filter(_._1 <= 10L).forall(_._2 == 1L))
    assert(rel.filter(_._1 >= 100L).forall(_._2 == 100L))
  }

  test("componentMinLabels matches a driver-side union-find ground truth " +
       "on the real testdata pair graph") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val pairs = Dedup.minHashNearDups(d, threshold = 0.5)
      .select("id_a", "id_b")
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "fixture needs a non-empty dup graph")
    // reference union-find (test-only)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = parent.keys.map(n => n -> find(n)).toMap
    val labels = Dedup.componentMinLabels(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == truth,
      s"mismatch: ${labels.toSet.diff(truth.toSet).take(5)}")
  }

  test("testdata: minhash recovers exactly the pairs exact Jaccard >= 0.8") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    // ground truth by brute force on the small SF (test-only; the operator
    // itself never does this)
    val withSh = Dedup.withShingles(d, "doc_id", "text")
    val truth = withSh.toDF("id_a", "sh_a")
      .crossJoin(withSh.toDF("id_b", "sh_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("j"))
      .filter(col("j") >= 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.minHashNearDups(d, threshold = 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth, s"missing=${truth -- got} extra=${got -- truth}")
  }

  test("testdata: prefix-filtered exact Jaccard join is LOSSLESS — " +
       "pairs AND scores equal the brute-force all-pairs join") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val withSh = Dedup.withShingles(d, "doc_id", "text")
    val truth = withSh.toDF("id_a", "sh_a")
      .crossJoin(withSh.toDF("id_b", "sh_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("j"))
      .filter(col("j") >= 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = Dedup.jaccardNearDups(d, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == truth,
      s"missing=${truth.keySet -- got.keySet} extra=${got.keySet -- truth.keySet}")
    assert(truth.nonEmpty) // the planted corpus must exercise the operator
  }

  test("jaccardNearDups: planted near-dup found at 0.5, unrelated docs " +
       "never pair, and the plan has no cartesian product") {
    val d = docs(1L -> base, 2L -> nearDup, 3L -> unrelated,
      4L -> (1 to 40).map(i => s"zz$i").mkString(" "))
    val out = Dedup.jaccardNearDups(d, threshold = 0.5)
    val pairs = out.collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(pairs.head.getDouble(2) > 0.8 && pairs.head.getDouble(2) < 1.0)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("minhash kernels return null on an empty shingle array, matching " +
       "the composed formulation's min-over-nothing (contract guard: " +
       "unreachable from shinglesOfTokens today)") {
    import spark.implicits._
    val empty = Seq(1L).toDF("id")
      .select(col("id"), array().cast("array<string>").as("sh"))
    val md5Row = empty.select(
      graft.functions.GraftFunctions.minhashMd5(col("sh"), 8)).head()
    val xxRow = empty.select(
      graft.functions.GraftFunctions.minhashXx(col("sh"), 8)).head()
    assert(md5Row.isNullAt(0) && xxRow.isNullAt(0))
    // and non-empty arrays still produce non-null k-wide signatures
    val one = Seq(1L).toDF("id").select(array(lit("s")).as("sh"))
    assert(one.select(graft.functions.GraftFunctions.minhashMd5(col("sh"), 8))
      .head().getSeq[String](0).length == 8)
    assert(one.select(graft.functions.GraftFunctions.minhashXx(col("sh"), 8))
      .head().getSeq[Long](0).length == 8)
  }

  // --- substring/passage-level dedup -----------------------------------

  private val passage = (1 to 60).map(i => s"p$i").mkString(" ")
  private def filler(tag: String, k: Int) =
    (1 to k).map(i => s"$tag$i").mkString(" ")

  test("substringDups: planted 60-token passage flagged with count and " +
       "positions; unrelated doc untouched") {
    val d = docs(
      1L -> s"${filler("x", 5)} $passage ${filler("y", 8)}",
      2L -> s"$passage ${filler("z", 12)}",
      3L -> filler("q", 80))
    val out = Dedup.substringDups(d, n = 50).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L))
    // a 60-token run has 60 - 50 + 1 = 11 distinct length-50 windows
    assert(r.getLong(2) == 11L, s"n_shared=${r.getLong(2)}")
    assert(r.getInt(3) == 5 && r.getInt(4) == 0,
      s"positions=(${r.getInt(3)}, ${r.getInt(4)})")
  }

  test("substringDups: repeated passage within one doc collapses to its " +
       "first occurrence") {
    val d = docs(
      1L -> s"$passage ${filler("x", 10)} $passage",
      2L -> s"${filler("z", 3)} $passage")
    val out = Dedup.substringDups(d, n = 50).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(2) == 11L) // distinct windows, not occurrences
    assert(r.getInt(3) == 0 && r.getInt(4) == 3)
  }

  test("substringDups: hot-window df cap suppresses boilerplate pairs") {
    val boiler = (1 to 50).map(i => s"b$i").mkString(" ")
    val d = docs((1L to 5L).map(i =>
      i -> s"$boiler ${filler(s"u$i", 20)}"): _*)
    // 5 docs share the window: df = 5 > cap = 3 -> non-signal, no pairs
    assert(Dedup.substringDups(d, n = 50, maxDocFreq = 3).isEmpty)
    // raise the cap: all C(5,2) = 10 pairs appear
    assert(Dedup.substringDups(d, n = 50, maxDocFreq = 5).count() == 10L)
  }

  test("substringDups: docs shorter than n emit no windows and no pairs") {
    val d = docs(1L -> filler("a", 10), 2L -> filler("a", 10))
    assert(Dedup.substringDups(d, n = 50).isEmpty)
    // but the same docs DO pair under a smaller n
    assert(Dedup.substringDups(d, n = 10).count() == 1L)
  }

  test("windowsWithPos kernel: byte parity with the composed " +
       "transform/element_at + groupBy formulation") {
    // real-ish text (repeats, punctuation, multi-space) + the planted docs
    val d = docs(
      1L -> s"${filler("x", 5)} $passage ${filler("y", 8)}",
      2L -> s"$passage  again $passage",
      3L -> "The  quick brown fox THE quick brown fox the quick",
      4L -> filler("q", 9), // shorter than n -> no rows
      5L -> (1 to 30).map(i => s"t${i % 7}").mkString(" ")) // heavy repeats
    for (n <- Seq(3, 10)) {
      val kernel = Dedup.windowsWithPos(d, "doc_id", "text", n)
        .orderBy("doc_id", "w").collect()
      val composed = d
        .select(col("doc_id"), TextFeatures.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          posexplode(
            when(size(col("toks")) < n, array().cast("array<string>"))
              .otherwise(transform(sequence(lit(0), size(col("toks")) - n),
                i => concat_ws(" ",
                  (0 until n).map(j => element_at(col("toks"), i + j + 1)): _*))))
            .as(Seq("pos", "w")))
        .groupBy(col("doc_id"), col("w"))
        .agg(min(col("pos")).as("pos"))
        .orderBy("doc_id", "w").collect()
      assert(kernel.length == composed.length, s"n=$n row counts differ")
      kernel.zip(composed).foreach { case (k, c) =>
        assert(k.getLong(0) == c.getLong(0) && k.getString(1) == c.getString(1)
          && k.getInt(2) == c.getInt(2), s"n=$n: $k != $c")
      }
    }
  }

  test("token_shingles kernel: byte parity with the composed " +
       "array_distinct(transform/element_at) formulation, incl. the " +
       "short-doc whole-text fallback and element order") {
    val d = docs(
      1L -> s"${filler("x", 5)} $passage ${filler("y", 8)}",
      2L -> s"$passage  again $passage",
      3L -> "The  quick brown fox THE quick brown fox the quick",
      4L -> "tiny doc", // shorter than n -> whole-doc fallback shingle
      5L -> (1 to 30).map(i => s"t${i % 7}").mkString(" "), // heavy repeats
      6L -> "") // empty text
    for (n <- Seq(3, 10)) {
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .orderBy("doc_id").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1))
      val toks = TextFeatures.tokens(col("text"))
      val kernel = rows(d.select(col("doc_id"),
        Dedup.shinglesOfTokens(toks, n).as("sh")))
      val composed = rows(d
        .select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"), array_distinct(
          when(size(col("toks")) < n, array(concat_ws(" ", col("toks"))))
            .otherwise(transform(sequence(lit(0), size(col("toks")) - n),
              i => concat_ws(" ",
                (0 until n).map(j => element_at(col("toks"), i + j + 1)): _*))))
          .as("sh")))
      assert(kernel.toSeq == composed.toSeq, s"n=$n")
    }
  }

  test("windowsWithPos is map-only: no exchange in the window plan") {
    val d = docs(1L -> passage, 2L -> passage)
    val plan = Dedup.windowsWithPos(d, "doc_id", "text", 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("scrubPassages: cuts the planted span from the higher-id doc, " +
       "keeps surrounding text and the lower-id copy intact") {
    val d = docs(
      1L -> s"${filler("x", 5)} $passage ${filler("y", 8)}",
      2L -> s"${filler("z", 3)} $passage ${filler("k", 4)}",
      3L -> filler("q", 80))
    val dups = Dedup.substringDups(d, n = 50)
    val out = Dedup.scrubPassages(d, dups, n = 50)
      .orderBy("doc_id").collect()
    assert(out.length == 3)
    // doc 1 is the lower id: untouched, raw text, n_cut = 0
    assert(out(0).getString(1).contains("p1") && out(0).getLong(2) == 0L)
    // doc 2 loses exactly the 60-token passage (11 windows + 50 - 1 = 60)
    assert(out(1).getLong(2) == 60L, s"n_cut=${out(1).getLong(2)}")
    assert(out(1).getString(1) == s"${filler("z", 3)} ${filler("k", 4)}")
    // unrelated doc untouched
    assert(out(2).getString(1) == filler("q", 80) && out(2).getLong(2) == 0L)
  }

  test("scrubPassages: overlapping spans from multiple pairs merge into " +
       "one contiguous cut") {
    // docs 1 and 2 plant the FIRST 55 tokens of the passage in doc 3 at
    // offsets 0 and 5 respectively -> two overlapping spans on doc 3
    val p55 = (1 to 55).map(i => s"p$i").mkString(" ")
    val p50tail = (6 to 55).map(i => s"p$i").mkString(" ")
    val d = docs(
      1L -> s"$p55 ${filler("a", 10)}",
      2L -> s"$p50tail ${filler("b", 10)}",
      3L -> s"$p55 ${filler("c", 10)}")
    val dups = Dedup.substringDups(d, n = 50)
    val out = Dedup.scrubPassages(d, dups, n = 50)
      .filter(col("doc_id") === 3L).head()
    // doc 3 pairs with both 1 (span [0,55)) and 2 (span [5,55)); merged
    // cut is [0,55) -> the c-filler survives
    assert(out.getLong(2) == 55L, s"n_cut=${out.getLong(2)}")
    assert(out.getString(1) == filler("c", 10))
  }

  test("dedupLines: repeated boilerplate collapses to first occurrence " +
       "in order; unique lines untouched; custom separator works") {
    val d = docs(
      1L -> "nav\nbody one\nnav\nbody two\nnav\nfooter",
      2L -> "all\nunique\nlines",
      3L -> "")
    val out = Dedup.dedupLines(d).orderBy("doc_id").collect()
    assert(out(0).getString(1) == "nav\nbody one\nbody two\nfooter" &&
      out(0).getInt(2) == 2)
    assert(out(1).getString(1) == "all\nunique\nlines" &&
      out(1).getInt(2) == 0)
    assert(out(2).getString(1) == "" && out(2).getInt(2) == 0)
    // separator is a literal, not a regex ('.' must not split every char)
    val dot = docs(4L -> "a.b.a.c")
    val r = Dedup.dedupLines(dot, sep = ".").head()
    assert(r.getString(1) == "a.b.c" && r.getInt(2) == 1)
  }

  test("substringDups plan contains no cartesian product") {
    val d = docs(1L -> passage, 2L -> passage)
    val plan = Dedup.substringDups(d, n = 50)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
