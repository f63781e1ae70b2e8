package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** A collected result: the benchmark's sink for queries whose answers are
  * small enough to collect.
  */
final case class Collected(name: String, schema: StructType, rows: Array[Row])

object Sink {
  /** The timed action: materialize every row and column of `df`. */
  def collect(name: String, df: DataFrame): Collected =
    Collected(name, df.schema, df.collect())

  /** Order-independent digest: equal for equal multisets of rows. */
  def digest(results: Seq[Collected]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    results.foreach { c =>
      md.update((c.name + "\n").getBytes("UTF-8"))
      c.rows.map(_.toString).sorted
        .foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** One parquet directory per result, read back by the oracle check;
    * the small writes run concurrently.
    */
  def write(spark: SparkSession, results: Seq[Collected], dir: String): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    Await.result(Future.traverse(results)(c => Future(
      spark.createDataFrame(java.util.Arrays.asList(c.rows: _*), c.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/${c.name}"))),
      Duration.Inf)
  }
}
