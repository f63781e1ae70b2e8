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
}
