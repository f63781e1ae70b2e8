package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Materialized-aggregate routing — the query side of the engine's
  * incremental-view-maintenance story (Relational.mergeAggregate keeps a
  * summary fresh per batch; THIS routes matching queries to it): an
  * optimizer `Rule[LogicalPlan]` that rewrites
  *
  *   base.groupBy(k...).agg(sum(x) as X, ..., count(*) as C)
  *
  * into a RE-AGGREGATION over the registered summary relation —
  * `sum(sum_x)`, `sum(cnt)` — whenever the grouping set and measures
  * match a [[SummaryCatalog]] registration for the scanned location.
  * Re-aggregating (rather than projecting) keeps the rewrite correct
  * even when the stored summary holds PARTIAL states (one row per group
  * per merged batch), which is exactly what a mergeAggregate-maintained
  * table may contain between compactions.
  *
  * This is the preference-ladder case (c) the engine otherwise avoids:
  * whole-operator semantics (scan substitution) that no built-in
  * operator expresses. The rule is injected once via GraftExtensions
  * and no-ops at zero cost while the registry is empty.
  *
  * Correctness constraints enforced before rewriting:
  *   - the aggregate's child must be (a column-pruning Project over) a
  *     parquet scan whose root path equals the registration's base;
  *   - grouping expressions are bare columns matching the registered
  *     grouping set exactly (set equality);
  *   - every output is a grouping column, `sum(col)` over a registered
  *     measure, or `count(*)`/`count(1)` with a registered count column
  *     — DISTINCT or filtered aggregates never match;
  *   - rewritten outputs keep the ORIGINAL ExprIds, so parent operators
  *     are oblivious to the substitution;
  *   - sum TYPES must round-trip: the rule only fires when the base
  *     column is integral/double (a decimal sum widens precision at
  *     each re-aggregation level and would change the output type).
  */
object SummaryCatalog {
  final case class Summary(
      baseLocation: String,
      groupCols: Seq[String],
      // output measure -> (base column it sums, summary column storing it)
      sums: Map[String, (String, String)],
      // output count measure -> summary column storing partial counts
      counts: Map[String, String],
      summaryLocation: String)

  @volatile private var registered: Seq[Summary] = Nil
  def register(s: Summary): Unit = synchronized { registered = registered :+ s }
  def clear(): Unit = synchronized { registered = Nil }
  def all: Seq[Summary] = registered
  def isEmpty: Boolean = registered.isEmpty
}

class SummaryRouting(spark: SparkSession) extends Rule[LogicalPlan] {

  private def scanRoot(plan: LogicalPlan): Option[String] = plan match {
    case Project(projectList, child)
        if projectList.forall(_.isInstanceOf[AttributeReference]) =>
      scanRoot(child)
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location.rootPaths.headOption.map(_.toString)
    case _ => None
  }

  private def summaryFor(path: String): Option[SummaryCatalog.Summary] =
    SummaryCatalog.all.find(s =>
      path == s.baseLocation || path == s.baseLocation.stripSuffix("/") ||
        path.stripPrefix("file:") == s.baseLocation)

  private def sumTypeRoundTrips(e: Expression): Boolean = e.dataType match {
    case org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.DoubleType => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (SummaryCatalog.isEmpty) return plan
    plan.transformUp {
      case agg @ Aggregate(groupExprs, aggExprs, child, _)
          if scanRoot(child).flatMap(summaryFor).isDefined =>
        val summary = scanRoot(child).flatMap(summaryFor).get
        val groupNames = groupExprs.collect {
          case a: AttributeReference => a.name
        }
        val groupingOk = groupExprs.forall(_.isInstanceOf[AttributeReference]) &&
          groupNames.toSet == summary.groupCols.toSet
        // classify every output; None = not rewritable
        sealed trait Out
        case class GroupOut(name: String, out: NamedExpression) extends Out
        case class SumOut(summaryCol: String, out: NamedExpression) extends Out
        val classified: Option[Seq[Out]] =
          if (!groupingOk) None
          else aggExprs.foldLeft(Option(Vector.empty[Out])) {
            case (None, _) => None
            case (Some(acc), ne) => ne match {
              case a: AttributeReference if groupNames.contains(a.name) =>
                Some(acc :+ GroupOut(a.name, a))
              case al @ Alias(AggregateExpression(
                  Sum(c: AttributeReference, _), Complete, false, None, _),
                  name)
                  if summary.sums.get(name).exists(_._1 == c.name) &&
                    sumTypeRoundTrips(c) =>
                Some(acc :+ SumOut(summary.sums(name)._2, al))
              case al @ Alias(AggregateExpression(
                  Count(children), Complete, false, None, _), name)
                  if children.forall(_.foldable) &&
                    summary.counts.contains(name) =>
                Some(acc :+ SumOut(summary.counts(name), al))
              case _ => None
            }
          }.map(_.toSeq)
        classified match {
          case None => agg
          case Some(outs) =>
            // analyzed scan of the summary relation
            val summaryPlan =
              graft.Tables.parquet(spark, summary.summaryLocation)
                .queryExecution.analyzed
            val byName: Map[String, Attribute] =
              summaryPlan.output.map(a => a.name -> a).toMap
            val needed = groupNames ++ outs.collect { case SumOut(sc, _) => sc }
            if (!needed.forall(byName.contains)) agg // summary schema drifted: leave untouched
            else {
              val newGroup = groupNames.map(byName)
              val newAggs: Seq[NamedExpression] = outs.map {
                case GroupOut(n, out) =>
                  Alias(byName(n), out.name)(exprId = out.exprId)
                case SumOut(sc, out) =>
                  // re-sum the partial state; cast back in case the
                  // partial's storage type widened (sum(int) stores long)
                  val reSum = AggregateExpression(
                    Sum(byName(sc)), Complete, isDistinct = false)
                  val cast = if (reSum.dataType == out.dataType) reSum
                    else org.apache.spark.sql.catalyst.expressions.Cast(
                      reSum, out.dataType)
                  Alias(cast, out.name)(exprId = out.exprId)
              }
              Aggregate(newGroup, newAggs, summaryPlan)
            }
        }
    }
  }
}
