package graft.llm

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._

/** CorpusPipeline.stageCounts — the one-entry funnel preset. The DuckDB
  * oracle hash-checks every number; this spec pins the CONTRACTS the
  * funnel shape must satisfy regardless of data: prefix-closed stages,
  * monotone non-increasing doc and token counts, shard rows that
  * partition exactly the budget-stage survivors, and agreement with an
  * independently composed stage-1 filter.
  */
class CorpusPipelineSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  test("funnel is prefix-closed and monotone, shards partition the " +
       "final stage") {
    val docs = Tables.documents(spark, sf)
    val out = CorpusPipeline.stageCounts(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

    val stages = out.filter(!_._1.startsWith("7_shard_"))
      .sortBy(_._1).toSeq
    val shards = out.filter(_._1.startsWith("7_shard_")).toSeq

    // stage 0 is the bench-split corpus
    val n0 = docs.filter(col("doc_id") % 97 =!= 0).count()
    assert(stages.head._1 == "0_ingest" && stages.head._2 == n0)

    // stages present form a prefix of the canonical order (a stage with
    // zero survivors ends the funnel — nothing survives past it)
    assert(stages.map(_._1) ==
      CorpusPipeline.stageNames.take(stages.size),
      s"stages must be a prefix: ${stages.map(_._1)}")

    // monotone non-increasing docs and tokens down the funnel, and the
    // funnel must not be vacuous (every stage drops someone at sf0.01)
    stages.sliding(2).foreach { case Seq((sa, da, ta), (sb, db, tb)) =>
      assert(db <= da && tb <= ta, s"$sa -> $sb must not grow")
    }
    assert(stages.size == 7 && stages.last._2 > 0,
      s"full funnel expected at sf0.01: $stages")

    // shard rows partition exactly the budget-stage survivors
    val (_, nFin, tFin) = stages.last
    assert(shards.map(_._2).sum == nFin && shards.map(_._3).sum == tFin)
    assert(shards.forall(_._2 > 0))
    assert(shards.map(_._1).distinct.size == shards.size)

    // stage 1 agrees with an independently composed structural gate
    // (Gopher structural rules + C4 blocklist rules + length bounds)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val n1 = CorpusQuality.gopherRules(corpus)
      .join(CorpusQuality.c4Rules(corpus)
        .select(col("doc_id"), col("c4_no_lorem"), col("c4_no_brace"),
          col("c4_no_js")), Seq("doc_id"))
      .join(corpus.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .filter(col("g_wc") === 1 && col("g_mwl") === 1 &&
        col("g_sym") === 1 && col("g_alpha") === 1 &&
        col("c4_no_lorem") === 1 && col("c4_no_brace") === 1 &&
        col("c4_no_js") === 1 &&
        col("n_chars") >= 100 && col("n_chars") <= 50000)
      .count()
    assert(stages(1)._2 == n1)
    // the gate is non-vacuous in both directions at sf0.01
    assert(n1 > 0 && n1 < stages.head._2)
  }

  test("incremental funnel: prefix-closed, monotone, near-vs-corpus " +
       "catches cross-set dups, append rows partition the accepted batch") {
    val docs = Tables.documents(spark, sf)
    val out = CorpusPipeline.incrementalStageCounts(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val stages = out.filter(!_._1.startsWith("5_append_"))
      .sortBy(_._1).toSeq
    val appends = out.filter(_._1.startsWith("5_append_")).toSeq

    assert(stages.map(_._1) ==
      CorpusPipeline.incrStageNames.take(stages.size))
    stages.sliding(2).foreach { case Seq((sa, da, ta), (sb, db, tb)) =>
      assert(db <= da && tb <= ta, s"$sa -> $sb must not grow")
    }
    // stage 0 is exactly the batch split
    val nBatch = docs.filter(col("doc_id") % 97 =!= 0 &&
      col("doc_id") % 10 === 0).count()
    assert(stages.head._1 == "0_batch" && stages.head._2 == nBatch)
    // full funnel with survivors at sf0.01, and the banded index stage
    // actually catches cross-set near-dups there (24 -> 21)
    assert(stages.size == 5 && stages.last._2 > 0)
    assert(stages(3)._2 < stages(2)._2,
      "near-vs-corpus must drop batch docs near-duplicating the corpus")
    // append manifest partitions exactly the accepted batch
    assert(appends.map(_._2).sum == stages.last._2 &&
      appends.map(_._3).sum == stages.last._3)
    assert(appends.forall(_._2 > 0))
  }

  test("neither preset reaches Spark's case mapping: no Lower, Upper or " +
       "InitCap in any plan the optimizer sees") {
    // Spark's lower/upper initialize CollationAwareUTF8String, whose
    // 1.1M-code-point title-case table is the presets' largest cold cost;
    // cut stages are optimized before the final plan exists, so every
    // plan is recorded as it passes the optimizer, not just the last one.
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val recorder = new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        plan.foreachWithSubqueries(_.expressions.foreach(
          _.foreach(e => seen.add(e.nodeName))))
        plan
      }
    }
    val docs = Tables.documents(spark, sf)
    spark.experimental.extraOptimizations = Seq(recorder)
    try {
      CorpusPipeline.stageCounts(docs).collect()
      CorpusPipeline.incrementalStageCounts(docs).collect()
    } finally spark.experimental.extraOptimizations = Nil
    val sparkCaseMaps = Set("Lower", "Upper", "InitCap")
    assert(!sparkCaseMaps.exists(seen.contains), seen)
    assert(seen.contains("IcuCase"), "the quality gate's plan was not seen")
  }

  // Note: on (near-)empty inputs the driver log may show a swallowed
  // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND task failure — a straggler AQE
  // stage attempt from the already-completed funnel query touching the
  // just-released id checkpoints. The query's own result is materialized
  // (Ckpt.cut is eager) before any release, so the rows are unaffected;
  // this test ran 4x stable while pinning the exact outputs below.
  test("degenerate corpora: both presets survive an empty input and a " +
       "corpus where nothing passes quality") {
    import spark.implicits._
    val schema = Tables.documents(spark, sf).schema
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    assert(CorpusPipeline.stageCounts(empty).collect().isEmpty)
    assert(CorpusPipeline.incrementalStageCounts(empty).collect().isEmpty)

    // every doc fails the word-count floor -> the funnel stops at ingest
    val junk = Seq((1L, "src0", "too short", 9L, "en"),
        (11L, "src0", "also short", 10L, "en"))
      .toDF("doc_id", "source", "text", "n_chars", "lang")
      .select(schema.fieldNames.map(col): _*)
    val out = CorpusPipeline.stageCounts(junk).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("0_ingest", 2L)), out.toSeq)
  }

  test("reliable mode: the funnel is identical when every cut goes to " +
       "durable checkpoint storage (the multi-hour cluster-run setting)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
    // both local answers before any checkpoint dir exists
    val full = rows(CorpusPipeline.stageCounts(docs))
    val incr = rows(CorpusPipeline.incrementalStageCounts(docs))
    val dir = useDurableCuts("pipeline_durable")
    assert(rows(CorpusPipeline.stageCounts(docs)) == full)
    assert(rows(CorpusPipeline.incrementalStageCounts(docs)) == incr)
    assert(wroteCheckpoints(dir), "the durable run never wrote a cut")
  }
}
