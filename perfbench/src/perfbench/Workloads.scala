package perfbench

import graft.{SparkEntry, Tables}
import graft.checks.Checks
import graft.llm.CorpusPipeline
import graft.olist.{Models, Pipeline}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The result of one pass; both methods run outside the timer. */
trait Done {
  /** A digest that is equal for equal results, plus per-pass facts the
    * correctness check reads.
    */
  def digest(): (String, Map[String, Any])
  /** Write what the oracle check reads under `dir`. */
  def keep(dir: String): Unit
}

/** A closed-loop workload: `pass` is the timed unit. */
trait Workload {
  /** One pass, from input to complete result, every layer call through
    * `call`.
    */
  def pass(k: Int, call: Calls): Done
  /** Traced runs only: a pass that times each layer on its own. */
  def layerPass(call: Calls): Unit = ()
  /** `SparkEntry.oracleSql` entries the check replays. */
  def oracleNames: Seq[String] = Nil
}

object Workload {
  /** `a+b` runs the passes of `a` and `b` back to back as one pass. */
  def apply(name: String, spark: SparkSession, input: String,
            work: String): Workload = {
    val parts: Seq[Workload] = name.split('+').toSeq.map {
      case "olist_elt" => new OlistElt(spark, input, work)
      case "tpch22" => new Tpch22(spark, input)
      case "corpus_funnel" => new CorpusFunnel(spark, input)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (parts.size == 1) parts.head else new Workload {
      def pass(k: Int, call: Calls): Done = {
        val done = parts.map(_.pass(k, call))
        new Done {
          def digest(): (String, Map[String, Any]) = {
            val ds = done.map(_.digest())
            (ds.map(_._1).mkString("+"), ds.flatMap(_._2).toMap)
          }
          def keep(dir: String): Unit = done.foreach(_.keep(dir))
        }
      }
      override def layerPass(call: Calls): Unit =
        parts.foreach(_.layerPass(call))
      override def oracleNames: Seq[String] = parts.flatMap(_.oracleNames)
    }
  }
}

object Dirs {
  def sizeMb(dir: String): Double = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum /
        1048576.0
      finally s.close()
    }
  }

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(Files.delete(_))
      finally s.close()
    }
  }
}

/** Collected answers: digested in memory, written as parquet to keep. */
final class Answers(spark: SparkSession, results: Seq[Collected])
    extends Done {
  def digest(): (String, Map[String, Any]) = (Sink.digest(results), Map.empty)
  def keep(dir: String): Unit = Sink.write(spark, results, dir)
}

/** The paper's job: seeds -> staging views -> fct_orders into a fresh
  * warehouse with dbt's four threads, then the five test nodes against the
  * stored table. Only the newest warehouse is kept on disk.
  */
final class OlistElt(spark: SparkSession, input: String, work: String)
    extends Workload {
  private var order: Seq[String] = Nil
  private var kept = ""

  private def catalog(wh: String) =
    Models.catalog(spark, wh, seedsDir = input, synthDir = Some(input))

  def pass(k: Int, call: Calls): Done = {
    val wh = s"$work/wh$k"
    val cat = catalog(wh)
    order = call("catalog", "run")(
      cat.run(Seq("fct_orders"), withUpstream = true, threads = 4))
    val tests = Pipeline.testQueries(cat).map { case (name, q) =>
      name -> call("test", name)(
        Checks.evaluate(q(), warnOnly = true).failures)
    }
    new Done {
      def digest(): (String, Map[String, Any]) = {
        val fct = spark.read.parquet(s"$wh/fct_orders")
        val r = fct.select(count(lit(1)),
          sum(pmod(xxhash64(fct.columns.map(col).toSeq: _*), lit(1L << 31))))
          .head()
        val facts = Map("tests" -> tests.toMap,
          "warehouse_mb" -> Dirs.sizeMb(wh))
        if (kept.nonEmpty && kept != wh) Dirs.delete(kept)
        kept = wh
        (s"${r.getLong(0)}:${r.getLong(1)}", facts)
      }
      // the stored table itself is the answer
      def keep(dir: String): Unit =
        Files.write(Paths.get(s"$dir/fct_orders.path"),
          s"$wh/fct_orders".getBytes("UTF-8"))
    }
  }

  /** Each node on its own, in topological order, into a fresh warehouse. */
  override def layerPass(call: Calls): Unit = {
    val wh = s"$work/wh_nodes"
    val cat = catalog(wh)
    order.foreach(n => call("node", n)(cat.run(Seq(n))))
    Dirs.delete(wh)
  }
}

/** TPC-H q1-q22 back to back, each collected. */
final class Tpch22(spark: SparkSession, input: String) extends Workload {
  private val queries = SparkEntry.queries
  val names: Seq[String] = queries.keys.filter(_.matches("q\\d+_.*")).toSeq
    .sortBy(_.drop(1).takeWhile(_.isDigit).toInt)
  require(names.size == 22, s"expected 22 TPC-H queries, found $names")

  def pass(k: Int, call: Calls): Done = new Answers(spark, names.map(n =>
    call("query", n)(Sink.collect(n, queries(n)(spark, input)))))
  override def oracleNames: Seq[String] = names
}

/** The corpus funnel: the full rebuild, then the daily increment. */
final class CorpusFunnel(spark: SparkSession, input: String)
    extends Workload {
  private val e2e = "llm_pipeline_e2e"
  private val incremental = "llm_pipeline_incremental"

  def pass(k: Int, call: Calls): Done = {
    val full = call("build", e2e)(
      CorpusPipeline.stageCounts(Tables.documents(spark, input)))
    val r1 = call("funnel", e2e)(Sink.collect(e2e, full))
    val incr = call("build", incremental)(
      CorpusPipeline.incrementalStageCounts(Tables.documents(spark, input)))
    val r2 = call("funnel", incremental)(Sink.collect(incremental, incr))
    new Answers(spark, Seq(r1, r2))
  }
  override def oracleNames: Seq[String] = Seq(e2e, incremental)
}
