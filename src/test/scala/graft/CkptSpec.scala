package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Pins Ckpt's invariants: the checkpoint-stats clamp (Ckpt /
  * CheckpointStats), block release, the fixed-round loop, and the
  * durability rule.
  *
  * Spark 4 preserves the child plan's estimated Statistics on a
  * checkpoint's LogicalRDD leaf; size-only estimation multiplies child
  * sizes at every join, so an ITERATIVE fixpoint whose round joins the
  * previous checkpoint k times compounds the preserved sizeInBytes
  * k-fold IN DIGIT COUNT per round. Unclamped, round ~13 of a k=4 loop
  * carries ~1e8-digit BigInts and the optimizer's stats probes
  * (InjectRuntimeFilter, join selection) pin a core for an hour — the
  * exact failure observed on graph_mst at sf0.1 while sf0.01 (fewer
  * rounds) passed. These tests run the compounding shape far past the
  * blowup horizon and assert the leaf stays Long-ranged and the data
  * unchanged.
  */
class CkptSpec extends SparkSpec {

  private def leafStats(df: DataFrame): Option[BigInt] =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRDD => l.computeStats().sizeInBytes
    }

  test("per-round leaf stats stay in Long range through 16 rounds of a " +
       "k=4 self-referencing fixpoint (the graph_mst blowup shape)") {
    import spark.implicits._
    var cur = Ckpt.cut((1L to 64L).toDF("id"))
    (1 to 16).foreach { _ =>
      // the componentMinLabels round shape: cur referenced four times
      // through two join levels, so unclamped preserved stats would
      // multiply ~4x in digit count every round (4^16 ~ 4e9 digits)
      val a = cur.join(cur.withColumnRenamed("id", "id2"),
        col("id") === col("id2")).select(col("id"))
      val b = a.join(a.withColumnRenamed("id", "id3"),
        col("id") === col("id3")).select(col("id"))
      cur = Ckpt.cut(b)
      val sz = leafStats(cur).get
      assert(sz <= BigInt(Long.MaxValue),
        s"leaf stats escaped Long range: $sz")
    }
    assert(cur.agg(sum(col("id"))).head().getLong(0) == 64L * 65 / 2)
  }

  private def leafRdds(df: DataFrame) =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("the clamp rewrap preserves rows, schema, and the checkpointed " +
       "RDD, so Ckpt.release frees its blocks") {
    import spark.implicits._
    val src = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "s")
    val ck = Ckpt.cut(src.filter(col("id") > 10))
    assert(ck.schema == src.schema)
    assert(ck.count() == 90)
    assert(ck.agg(min(col("id"))).head().getLong(0) == 11L)
    val rdds = leafRdds(ck)
    assert(rdds.size == 1, "exactly one checkpoint leaf")
    assert(persistedIds(rdds.head.id), "a local cut persists its leaf RDD")
    // a narrow projection over the cut still reaches its leaf
    Ckpt.release(ck.select(col("id")))
    assert(!persistedIds(rdds.head.id), "release left the leaf persisted")
  }

  test("Ckpt.iterate equals the uncut fold, cuts after every K-th and " +
       "the last round, and leaves one generation persisted") {
    import spark.implicits._
    val init = (1L to 50L).toDF("v")
    def step(df: DataFrame): DataFrame =
      df.select(((col("v") * 31 + 7) % 1000003).as("v"))
    def values(df: DataFrame): Seq[Long] =
      df.collect().map(_.getLong(0)).toSeq.sorted
    val uncut = values((1 to 7).foldLeft(init)((df, _) => step(df)))

    val before = persistedIds
    // a round's input is a bare checkpoint leaf iff the previous round
    // was cut
    val leafInput = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val out = Ckpt.iterate(init, rounds = 7, every = 3) { df =>
      leafInput += df.queryExecution.analyzed.isInstanceOf[LogicalRDD]
      step(df)
    }
    assert(values(out) == uncut)
    // cuts after rounds 3, 6 and 7: rounds 4 and 7 start from a leaf
    assert(leafInput.toSeq ==
      Seq(false, false, false, true, false, false, true))
    assert(out.queryExecution.analyzed.isInstanceOf[LogicalRDD],
      "the final round is cut")
    assert(persistedIds -- before == leafRdds(out).map(_.id).toSet,
      "only the final generation may stay persisted")
    Ckpt.release(out)
    assert(persistedIds -- before == Set.empty[Int])
  }

  test("nested fixpoints terminate fast: Boruvka on a 2^8 chain (max " +
       "rounds both levels) completes within the suite budget") {
    import spark.implicits._
    // a 256-node path with strictly increasing weights forces Boruvka
    // through its full log-round ladder with a CC merge inside each
    // round — the deepest compounding this engine performs
    val edges = (0L until 255L).map(i => (i, i + 1, i.toDouble))
      .toDF("src", "dst", "w")
    val forest = operators.Graphs.maxSpanningForest(edges)
    assert(forest.count() == 255) // a path's spanning forest is itself
  }

  // Runs last: a SparkContext cannot unset its checkpoint directory.
  test("durability follows the session checkpoint directory: local cuts " +
       "without one, reliable checkpoint files once it is set") {
    import spark.implicits._
    val src = (1L to 20L).toDF("id")
    def checkpointFile(df: DataFrame): Option[String] =
      leafRdds(df).head.getCheckpointFile
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "suite session must start without a checkpoint dir")
    assert(checkpointFile(Ckpt.cut(src)).isEmpty)
    val dir = useDurableCuts("ckpt_durable")
    val durable = Ckpt.cut(src)
    assert(checkpointFile(durable).exists(
      _.contains(dir.getFileName.toString)))
    assert(durable.count() == 20L)
    assert(wroteCheckpoints(dir))
  }
}
