package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. The last stdout
  * line is the run's cumulative spill (`[graft-metrics] ...`) — the
  * evidence a forced-spill sweep needs that the spill paths executed.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: restrict the dump to these query names (local
    // iteration aid; the driver always passes exactly two args)
    val only = args.drop(2).toSet
    val spark = Engine.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val (_, m) = Instrumentation.measure(spark) {
      SparkEntry.queries
        .filter { case (name, _) => only.isEmpty || only(name) }
        .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"[graft-metrics] memoryBytesSpilled=${m.memorySpillBytes} " +
      s"diskBytesSpilled=${m.diskSpillBytes}")
    spark.stop()
  }

  /** JSON string literal: escapes backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in an oracle SQL string would otherwise make
    * a JSON reader reject the whole file.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
