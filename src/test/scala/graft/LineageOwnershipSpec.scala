package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Ckpt is the only owner of lineage cuts: a direct checkpoint call
  * skips the stats clamp (a planner DoS at scale) and the durability
  * rule, and a hand-rolled LogicalRDD unpersist is a second release
  * policy. This scan fails on either outside Ckpt.scala and the
  * CheckpointStats bridge. Likewise Instrumentation is the only code
  * that listens to Spark, TextFeatures the only code that spells
  * the oracles' text normal form, and Tables.parquet the only reader of
  * a table dir (it memoizes the resolved relation), and Engine the only
  * code that builds a session. No code case-maps through Spark's
  * `lower`/`upper`/`initcap` (the native `icu_lower`/`icu_upper` give
  * the same bytes without Spark's 1.1M-code-point title-case table).
  * The trade-graph pair CTE, the daily-cents sum and Graphs' edge
  * reversal each have one definition.
  * Comments are stripped first, so prose may still name the calls.
  */
class LineageOwnershipSpec extends AnyFunSuite {

  private val owners = Set("Ckpt.scala", "CheckpointStats.scala")

  private def code(p: Path): String =
    Files.readString(p)
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  private val allSources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    scala.util.Using.resource(Files.walk(root))(_.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> code(p)).toList)
  }

  private val sources =
    allSources.filterNot(s => owners(s._1.getFileName.toString))

  test("no src/main file outside Ckpt calls .checkpoint( or " +
       ".localCheckpoint( directly") {
    val call = """\.(localCheckpoint|checkpoint)\(""".r
    val offenders = sources.collect {
      case (p, c) if call.findFirstIn(c).isDefined => p.toString
    }
    assert(sources.exists(_._1.endsWith("operators/Graphs.scala")),
      "the scan missed the fixpoint sources")
    assert(offenders.isEmpty, s"cut lineage through Ckpt.cut: $offenders")
  }

  test("no src/main file outside Ckpt unpersists a LogicalRDD") {
    val offenders = sources.collect {
      case (p, c) if c.contains("LogicalRDD") && c.contains("unpersist(") =>
        p.toString
    }
    assert(offenders.isEmpty, s"release cuts through Ckpt.release: $offenders")
  }

  test("no src/main file outside Instrumentation adds a Spark listener") {
    val offenders = allSources.collect {
      case (p, c) if c.contains("addSparkListener(") &&
          p.getFileName.toString != "Instrumentation.scala" => p.toString
    }
    assert(allSources.exists(_._1.endsWith("graft/Instrumentation.scala")),
      "the scan missed the measurement core")
    assert(offenders.isEmpty, s"measure through Instrumentation: $offenders")
  }

  test("no src/main file outside TextFeatures spells the text normal " +
       "form regexp_replace(trim(lower(") {
    val offenders = allSources.collect {
      case (p, c) if c.contains("regexp_replace(trim(lower(") &&
          p.getFileName.toString != "TextFeatures.scala" => p.toString
    }
    assert(allSources.exists(_._1.endsWith("llm/TextFeatures.scala")),
      "the scan missed the normal form's owner")
    assert(offenders.isEmpty,
      s"use TextFeatures.normSql/toksSql: $offenders")
  }

  private def occurrences(text: String, fragment: String): Int =
    Iterator.iterate(text.indexOf(fragment))(i =>
      text.indexOf(fragment, i + fragment.length)).takeWhile(_ >= 0).size

  for ((fragment, owner) <- Seq(
      "SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst" ->
        "Graphs.tradeRawCte",
      "CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)" ->
        "Timeseries.centsSql"))
    test(s"src/main spells $fragment once") {
      val n = allSources.map(s => occurrences(s._2, fragment)).sum
      assert(n == 1, s"spelled $n times: use $owner")
    }

  test("Graphs reverses an edge list in one place") {
    val graphs = allSources.collectFirst {
      case (p, c) if p.endsWith("operators/Graphs.scala") => c
    }
    assert(graphs.isDefined, "the scan missed Graphs")
    val pair = """struct(col(dstCol).as("src"), col(srcCol).as("dst"))"""
    val n = occurrences(graphs.get, pair)
    assert(n <= 1, s"$n reversals: use bothWays/undirected")
  }

  test("no src/main code calls Spark's lower(, upper( or initcap(") {
    // string literals hold the DuckDB oracle SQL, which keeps lower()
    val tripleQuoted = "(?s)\"{3}.*?\"{3,}"
    val quoted = "\"(?:\\\\.|[^\"\\\\\n])*\""
    val literal = s"$tripleQuoted|$quoted".r
    val call = """\b(lower|upper|initcap)\(""".r
    val offenders = allSources.collect {
      case (p, c) if call.findFirstIn(literal.replaceAllIn(c, "\"\"")).isDefined =>
        p.toString
    }
    assert(allSources.exists(c => c._1.endsWith("llm/LlmOps.scala") &&
      call.findFirstIn(c._2).isDefined), "the scan missed the oracle SQL")
    assert(offenders.isEmpty,
      s"case-map with GraftFunctions.icuLower/icuUpper: $offenders")
  }

  test("no src/main file outside Engine (Tables.parquet) reads a table " +
       "dir with read.parquet(") {
    val offenders = allSources.collect {
      case (p, c) if c.contains("read.parquet(") &&
          p.getFileName.toString != "Engine.scala" => p.toString
    }
    assert(allSources.exists(_._1.endsWith("graft/Engine.scala")),
      "the scan missed the table reader's owner")
    assert(offenders.isEmpty, s"read table dirs with Tables.parquet: $offenders")
  }

  test("no src/main file outside Engine builds a session") {
    // every local session must pass through Engine.local's loader hand-off
    val build = """SparkSession\s*\.\s*builder|\.getOrCreate\(""".r
    val offenders = allSources.collect {
      case (p, c) if build.findFirstIn(c).isDefined &&
          p.getFileName.toString != "Engine.scala" => p.toString
    }
    assert(allSources.exists(c => c._1.endsWith("graft/Engine.scala") &&
      build.findFirstIn(c._2).isDefined), "the scan missed the factory")
    assert(offenders.isEmpty, s"create sessions with Engine.local: $offenders")
  }
}
