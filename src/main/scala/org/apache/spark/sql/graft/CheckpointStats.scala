package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Clamp the statistics a checkpointed Dataset carries into its
  * `LogicalRDD` leaf.
  *
  * Spark 4's `Dataset.checkpoint`/`localCheckpoint` PRESERVES the child
  * plan's estimated `Statistics` on the truncated leaf
  * (`LogicalRDD.fromDataset`) so that lineage truncation doesn't erase
  * size information the optimizer needs. For a one-shot checkpoint that
  * is exactly right. For an ITERATIVE fixpoint it compounds into a
  * planner denial-of-service: `SizeInBytesOnlyStatsPlanVisitor` estimates
  * a join's size as the PRODUCT of its children's sizes, so a round whose
  * plan joins the previous round's checkpoint k times preserves a
  * sizeInBytes whose DIGIT COUNT is ~k x the previous round's. Digits
  * grow k-fold per round; by round ~13 of a k=4 fixpoint the BigInts have
  * ~1e8 digits and every stats probe (`InjectRuntimeFilter`,
  * `JoinSelection.canBroadcastBySize`) grinds in Karatsuba/Toom-Cook
  * multiplication — observed as graph_mst at sf0.1 pinning one core for
  * an hour INSIDE THE OPTIMIZER of Borůvka-round CC merges while sf0.01
  * (fewer rounds) sailed through.
  *
  * The fix preserves the VALUE of the stats while killing the growth:
  * every checkpoint rewraps its `LogicalRDD` with
  * `sizeInBytes min Long.MaxValue` (likewise rowCount). Any plausible
  * size fits in a Long (2^63 bytes = 8 EiB), so the clamp only ever
  * discards the astronomically-wrong tail of a product estimate, and the
  * invariant becomes self-sustaining: with every leaf at <= 19 digits, a
  * round's own stats product stays a few hundred digits, cheap to
  * compute, and is clamped again at the next cut.
  *
  * Lives under `org.apache.spark.sql` because `LogicalRDD`'s second
  * constructor list and `Dataset.ofRows` are `private[sql]`; the rewrap
  * reuses the SAME checkpointed RDD and the SAME output attribute ids,
  * so downstream resolution and [[graft.Ckpt.release]]'s
  * unpersist-by-leaf both behave identically.
  */
object CheckpointStats {
  private val MaxLong = BigInt(Long.MaxValue)

  def clamp(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    case lr: LogicalRDD =>
      val st = lr.computeStats()
      if (st.sizeInBytes <= MaxLong && st.rowCount.forall(_ <= MaxLong)) df
      else {
        val capped = Statistics(
          sizeInBytes = st.sizeInBytes.min(MaxLong),
          rowCount = st.rowCount.map(_.min(MaxLong)))
        val session = df.sparkSession.asInstanceOf[SparkSession]
        val plan = new LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
          lr.outputOrdering, lr.isStreaming, lr.stream)(
          session, Some(capped), None)
        Dataset.ofRows(session, plan)
      }
    case _ => df // not a bare checkpoint leaf; nothing to rewrap
  }
}
