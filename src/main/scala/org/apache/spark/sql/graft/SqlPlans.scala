package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession}

/** Parse SQL text into an unresolved plan and run a plan as a DataFrame,
  * for [[graft.Tables.sql]], which binds the parsed plan's table names
  * itself instead of through the session catalog. Lives under
  * `org.apache.spark.sql` because `withActive` and `Dataset.ofRows` are
  * `private[sql]`.
  */
object SqlPlans {
  private def classic(spark: org.apache.spark.sql.SparkSession) =
    spark.asInstanceOf[SparkSession]

  /** The session's parser, under the session's conf. */
  def parse(spark: org.apache.spark.sql.SparkSession,
            text: String): LogicalPlan = {
    val s = classic(spark)
    s.withActive(s.sessionState.sqlParser.parsePlan(text))
  }

  /** `plan` analyzed in `spark`; analysis errors raise here. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: LogicalPlan): DataFrame =
    Dataset.ofRows(classic(spark), plan)
}
