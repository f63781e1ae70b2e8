package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract (SURVEY.md §7): every operator module's `ops` as two
  * maps keyed by entry name. [[queries]] holds each entry's Spark query
  * over a table dir; [[oracleSql]] holds, for the entries that have one,
  * the DuckDB SQL whose rows the Spark rows must equal. An [[Op]] couples
  * the two, so they cannot drift apart in naming.
  */
object SparkEntry {

  private def allOps: Seq[Op] =
    operators.Relational.ops ++
      operators.Headline.ops ++
      operators.QualityGates.ops ++
      operators.Analytics.ops ++
      operators.AsOf.ops ++
      operators.Ranges.ops ++
      operators.Collections.ops ++
      operators.Sketches.ops ++
      operators.Events.ops ++
      operators.Timeseries.ops ++
      operators.Profiling.ops ++
      operators.Linkage.ops ++
      operators.Graphs.ops ++
      operators.Layout.ops ++
      olist.OlistOps.ops ++
      sources.SourceOps.ops ++
      llm.LlmOps.ops ++
      llm.Retrieval.ops ++
      llm.Classify.ops ++
      llm.Moderation.ops ++
      llm.Topics.ops ++
      llm.Evals.ops

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The fct_orders shape (agg + left join + derived total) — the reference's
    * single gold model (reference: models/marts/fct_orders.sql).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("j2_fct_orders")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allOps.map(op => op.name -> op.query).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allOps.flatMap(op => op.oracle.map(op.name -> _)).toMap
}
