package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The engine's ONE owner of lineage cuts inside iterative operators.
  *
  * Every fixpoint here (CC label propagation, Borůvka merges, Brandes
  * levels, h-index rounds, EM iterations, ...) checkpoints its rounds so
  * plan depth stays bounded. All of those sites route through this
  * object, so these invariants hold everywhere (CkptSpec pins them, and
  * LineageOwnershipSpec fails on any other `src/main` checkpoint call):
  *
  *   - a cut is DURABLE exactly when the session has a checkpoint
  *     directory (Engine.cluster(checkpointDir) /
  *     SPARK_GRAFT_CHECKPOINT_DIR): a reliable checkpoint there,
  *     executor-loss-safe; otherwise the fast, lossy localCheckpoint.
  *   - the preserved leaf statistics are CLAMPED to Long range
  *     ([[org.apache.spark.sql.graft.CheckpointStats]]); without the
  *     clamp, per-round size products compound across rounds into
  *     BigInts with millions of digits and the OPTIMIZER (not the job)
  *     becomes the bottleneck — a planner DoS that only manifests once
  *     the data is big enough to need more rounds, i.e. exactly at
  *     scale.
  *   - a cut's blocks are freed by [[release]] as soon as nothing
  *     downstream reads them, so a fixpoint holds a bounded number of
  *     generations, not one per round.
  */
object Ckpt {
  /** Materialize `df` eagerly and return it with a one-leaf plan. */
  def cut(df: DataFrame): DataFrame = {
    val durable = df.sparkSession.sparkContext.getCheckpointDir.isDefined
    org.apache.spark.sql.graft.CheckpointStats.clamp(
      if (durable) df.checkpoint() else df.localCheckpoint())
  }

  /** Free the block-manager blocks behind every checkpoint leaf in
    * `df`'s plan. Without it a local checkpoint's blocks linger until
    * the ContextCleaner happens to GC the RDD reference — rounds ×
    * state bytes of dead storage. Traverses the whole plan, so a narrow
    * projection over a cut releases that cut. Touches an RDD only for
    * storage bookkeeping; no data moves to the driver. No-op for plans
    * without a checkpoint leaf.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** `rounds` applications of `step` starting from `init`, for a
    * fixpoint whose round count is FIXED (no convergence test to read).
    * The state is cut after every `every`-th round and after the last
    * one, so `every` rounds compose into ONE action whose stages
    * pipeline under a single AQE run; the previous generation is
    * released once the next is materialized, so at most one cut
    * generation is alive between rounds. `init` is never released.
    * Returns the final, cut state; the caller releases it.
    */
  def iterate(init: DataFrame, rounds: Int, every: Int)(
      step: DataFrame => DataFrame): DataFrame = {
    require(rounds >= 1, s"rounds must be positive, got $rounds")
    require(every >= 1, s"every must be positive, got $every")
    (1 to rounds).foldLeft((init, Option.empty[DataFrame])) {
      case ((state, prev), round) =>
        val next = step(state)
        if (round % every == 0 || round == rounds) {
          val c = cut(next)
          prev.foreach(release)
          (c, Some(c))
        } else (next, prev)
    }._1
  }
}
