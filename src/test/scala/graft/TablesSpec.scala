package graft

import java.nio.file.Files
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

/** `Tables.parquet` resolves a table dir once per session and conf and
  * reuses the relation while the dir's file listing is unchanged; every
  * answer must equal a plain `spark.read.parquet` of the same dir.
  * `Tables.sql` binds a text's table names to those reads under SQL
  * scoping and registers nothing in the session.
  */
class TablesSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def write(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").parquet(dir)

  test("a second read of an unchanged table issues no Spark job") {
    val dir = tmp("tables_hit") + "/t"
    write(spark.range(100).toDF("k"), dir)
    val (first, m1) = Instrumentation.measure(spark)(Tables.parquet(spark, dir))
    val (second, m2) = Instrumentation.measure(spark)(Tables.parquet(spark, dir))
    assert(m1.jobs.nonEmpty, "the first read infers the schema with a job")
    assert(m2.jobs.isEmpty, m2.jobs)
    assert(second.schema == first.schema)
    assert(rows(second) == rows(spark.read.parquet(dir)))
  }

  test("after Warehouse.replace adds a column, load returns the new " +
       "schema and rows") {
    val wh = new olist.Warehouse(spark, tmp("tables_wh"))
    wh.save("t", spark.range(5).toDF("k"))
    assert(wh.load("t").columns.toSeq == Seq("k"))
    wh.replace("t", wh.load("t").withColumn("v", col("k") * 10))
    val after = wh.load("t")
    assert(after.columns.toSeq == Seq("k", "v"))
    assert(rows(after) == (0L until 5L).map(k => Row(k, k * 10)))
  }

  test("two reads of one table self-join on fresh attributes and equal " +
       "two plain reads") {
    val dir = tmp("tables_self") + "/t"
    write(spark.range(20).select(col("id").as("k"), (col("id") % 3).as("g")),
      dir)
    def selfJoin(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, a("k") === b("k") + 1).select(a("k"), b("g"))
    val memo = selfJoin(Tables.parquet(spark, dir), Tables.parquet(spark, dir))
    val plain = selfJoin(spark.read.parquet(dir), spark.read.parquet(dir))
    assert(rows(memo).size == 19)
    assert(rows(memo) == rows(plain))
  }

  test("a missing and an empty dir raise what spark.read.parquet raises, " +
       "and a later write is read") {
    def failure(read: => DataFrame): (Class[_], String) = {
      val e = intercept[Exception](read)
      (e.getClass, e.asInstanceOf[SparkThrowable].getCondition)
    }
    val missing = tmp("tables_missing") + "/t"
    val empty = tmp("tables_empty")
    for (dir <- Seq(missing, empty)) {
      val plain = failure(spark.read.parquet(dir))
      assert(failure(Tables.parquet(spark, dir)) == plain, dir)
      assert(failure(Tables.parquet(spark, dir)) == plain, dir)
      write(spark.range(3).toDF("k"), dir)
      assert(rows(Tables.parquet(spark, dir)) == Seq(Row(0L), Row(1L), Row(2L)))
    }
  }

  test("a session whose conf changes inference reads its own schema; the " +
       "original session keeps its own") {
    // binaryAsString only applies to files without Spark's schema in the
    // footer, so write one with the plain parquet writer
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmp("tables_conf")
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"))
      .withType(schema).build()
    val group = new SimpleGroupFactory(schema)
    try Seq("0", "1").foreach(v => w.write(group.newGroup().append("b", v)))
    finally w.close()
    assert(Tables.parquet(spark, dir).schema("b").dataType == BinaryType)
    val other = spark.newSession()
    assert(Tables.parquet(other, dir).schema("b").dataType == BinaryType)
    other.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(Tables.parquet(other, dir).schema("b").dataType == StringType)
    assert(rows(Tables.parquet(other, dir)) == Seq(Row("0"), Row("1")))
    assert(Tables.parquet(spark, dir).schema("b").dataType == BinaryType)
  }

  test("concurrent reads of shared tables all return the plain answer") {
    val dirs = (0 until 2).map { i =>
      val d = tmp(s"tables_conc$i") + "/t"
      write(spark.range(50 * (i + 1)).toDF("k"), d)
      d
    }
    val counts = Await.result(Future.sequence((0 until 8).map(i =>
      Future(Tables.parquet(spark, dirs(i % 2)).count()))), Duration.Inf)
    assert(counts == (0 until 8).map(i => 50L * (i % 2 + 1)))
  }

  /** A table dir holding `orders` (keys `keys`, custkey = key % 3) and a
    * three-row `customer`.
    */
  private def fixture(prefix: String, keys: Seq[Long]): String = {
    import spark.implicits._
    val dir = tmp(prefix)
    write(keys.map(k => (k, k % 3)).toDF("o_orderkey", "o_custkey"),
      s"$dir/orders.parquet")
    write(Seq((0L, "c0"), (1L, "c1"), (2L, "c2")).toDF("c_custkey", "c_name"),
      s"$dir/customer.parquet")
    dir
  }

  test("Tables.sql resolves table-qualified columns") {
    val dir = fixture("sql_qualified", Seq(1L, 2L, 4L))
    val df = Tables.sql(spark, dir,
      """SELECT orders.o_orderkey, c.c_name
        |FROM orders JOIN customer c ON orders.o_custkey = c.c_custkey
        |WHERE EXISTS (SELECT 1 FROM customer
        |              WHERE customer.c_custkey = orders.o_custkey)""".stripMargin)
    assert(rows(df) == Seq(Row(1L, "c1"), Row(2L, "c2"), Row(4L, "c1")))
  }

  test("Tables.sql: a CTE named like a table shadows it in the CTE's " +
       "scope, and a non-recursive CTE's own body reads the table") {
    val dir = fixture("sql_cte", Seq(1L, 2L))
    assert(rows(Tables.sql(spark, dir,
      "WITH orders AS (SELECT 42L AS o_orderkey) SELECT o_orderkey FROM orders"))
      == Seq(Row(42L)))
    assert(rows(Tables.sql(spark, dir,
      """WITH orders AS (SELECT o_orderkey + 10 AS k FROM orders),
        |     c AS (SELECT k FROM orders)
        |SELECT k FROM c""".stripMargin)) == Seq(Row(11L), Row(12L)))
    // a CTE inside a subquery is out of scope for the outer FROM
    assert(rows(Tables.sql(spark, dir,
      """SELECT o_orderkey FROM orders
        |WHERE o_orderkey IN (WITH orders AS (SELECT 2L AS k)
        |                     SELECT k FROM orders)""".stripMargin))
      == Seq(Row(2L)))
  }

  test("Tables.sql names an unknown table in its error") {
    val dir = fixture("sql_unknown", Seq(1L))
    val e = intercept[Exception](
      Tables.sql(spark, dir, "SELECT * FROM orders JOIN no_such_table"))
    assert(e.getMessage.contains("no_such_table"), e.getMessage)
    val multi = intercept[IllegalArgumentException](
      Tables.sql(spark, dir, "SELECT * FROM spark_catalog.default.orders"))
    assert(multi.getMessage.contains("spark_catalog.default.orders"))
  }

  test("one text bound to two dirs in one session returns each dir's rows") {
    val a = fixture("sql_dir_a", Seq(1L, 2L))
    val b = fixture("sql_dir_b", Seq(3L, 4L, 5L))
    val text = "SELECT o_orderkey FROM orders"
    val (dfA, dfB) = (Tables.sql(spark, a, text), Tables.sql(spark, b, text))
    assert(rows(dfA) == Seq(Row(1L), Row(2L)))
    assert(rows(dfB) == Seq(Row(3L), Row(4L), Row(5L)))
  }

  test("building every Op.sql entry registers no table or view") {
    def names = spark.catalog.listTables().collect().map(_.name).toSet
    val before = names
    val sqlEntries = SparkEntry.queries.values.collect { case q: Op.Sql => q }
    assert(sqlEntries.size >= 30, sqlEntries.size)
    sqlEntries.foreach(_(spark, "/root/testdata/sf0.001"))
    assert(names == before)
  }

  /** Entries whose DataFrame body plans like its text but carries a
    * mechanism the text lacks.
    */
  private val keepDataFrame = Map(
    "m_revenue_monthly" -> "built by Metrics, the semantic-layer compiler",
    "m_avg_order_value" -> "built by Metrics, the semantic-layer compiler",
    "t_accepted_range" -> "built by Checks, the dbt generic-test compiler",
    "t_exclusive_ranges" -> "built by Checks, the dbt generic-test compiler",
    "f_string_funcs" -> "upper-cases through the icuUpper kernel",
    "cdc_table_diff" -> ("Analytics.tableDiff, which Snapshots." +
      "changedBetween runs"))

  /** The physical plan as Spark would run it, without the names Spark
    * generates: each operator's name, each exchange's partitioning, each
    * join's type and each scan's table and pushed filters, subqueries
    * included.
    */
  private def shape(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter,
      SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: WholeStageCodegenExec | _: InputAdapter =>
        p.children.flatMap(walk)
      case _ =>
        val node = p match {
          case e: ShuffleExchangeExec =>
            s"Exchange ${e.outputPartitioning.getClass.getSimpleName}"
          case j: BaseJoinExec => s"${j.nodeName} ${j.joinType}"
          case f: FileSourceScanExec =>
            val table = f.relation.location.rootPaths.map(_.getName)
              .mkString(",")
            s"Scan $table ${f.metadata.getOrElse("PushedFilters", "")}"
          case _ => p.nodeName
        }
        node +: (p.children ++ p.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  test("no oracle entry keeps a DataFrame body whose text plans to the " +
       "same physical operators on Spark") {
    val dir = "/root/testdata/sf0.001"
    assert(keepDataFrame.keySet.subsetOf(SparkEntry.queries.keySet))
    val twins = SparkEntry.queries.toSeq.sortBy(_._1).collect {
      case (name, body) if !body.isInstanceOf[Op.Sql] &&
          !keepDataFrame.contains(name) &&
          SparkEntry.oracleSql.contains(name) =>
        scala.util.Try(Tables.sql(spark, dir, SparkEntry.oracleSql(name)))
          .toOption.filter(text => shape(text) == shape(body(spark, dir)))
          .map(_ => name)
    }.flatten
    assert(twins.isEmpty, s"make these Op.sql: ${twins.mkString(", ")}")
  }
}
